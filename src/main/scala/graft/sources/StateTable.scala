package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** A bucket-partitioned parquet STATE table with MANIFEST-POINTER
  * commits — the storage backend that moves a streaming loop's
  * generation state out of executor memory (the r14 composed soak held
  * one checkpointed corpus frame per generation; the 100 TB shape
  * cannot).
  *
  * r16 commit protocol (replaces the r15 per-bucket directory swap):
  * data files are IMMUTABLE — a [[stage]] writes its bucket-binned
  * files under `data/seg-<uuid>/` and they never move. What commits is
  * ONE small manifest file: the list of live (bucket, file) pairs for
  * the whole table, written under `_manifests/m<gen>` via
  * write-tmp-then-rename (rename refuses to clobber, so the numbered
  * create is exclusive — the same log-ordered commit Delta's
  * `_delta_log/<version>.json` and Iceberg's snapshot pointer use).
  * Readers resolve the highest manifest once per plan and read exactly
  * its files; bucket pruning is manifest-driven file selection, not
  * directory listing.
  *
  * What this buys over the r15 rename swap:
  *   - SNAPSHOT ISOLATION: a reader that resolved generation G keeps
  *     reading G's files even if a commit lands mid-scan — commit
  *     moves no data. Files a commit drops are listed in its
  *     manifest's `removed` section and physically deleted only one
  *     generation LATER (see GC below), so a reader survives one full
  *     concurrent commit instead of relying on single-driver ordering.
  *   - O(1) COMMIT: one tmp-write + one rename per generation instead
  *     of (delete + rename) per touched bucket — at 1024 buckets the
  *     r15 loop paid ~6k directory renames per generation.
  *   - NO TREE WALKS: staged bytes come from the segment listing the
  *     manifest needs anyway, and [[diskBytes]] sums manifest entries
  *     instead of walking the table.
  *
  * GC / retention: the manifest for generation G records the files G
  * dropped (`removed`). With retention R (default 2), a commit
  * creating generation G physically deletes the `removed` files of
  * every manifest ≤ G−(R−1) (their readers would have resolved a
  * generation already out of retention) and drops manifest files
  * ≤ G−R, keeping exactly the latest R manifests and every file they
  * reference. Retention > 2 buys TIME TRAVEL: [[readAt]] resolves any
  * retained generation's manifest, so a snapshot up to R−1 commits old
  * stays queryable — the prefix-fold face `mutations_fold_at` oracle-
  * checks exactly this. Orphaned segments from an aborted stage are
  * not referenced by any manifest and never read; [[vacuum]] (delete
  * data files no retained manifest references, sparing files younger
  * than a grace window so an in-flight stage survives) reclaims them —
  * the same janitorial job a table format calls vacuum.
  *
  * Several tables participating in one generation still stage FIRST
  * and commit TOGETHER (the caller orders it) so no NEW plan reads a
  * half-committed generation across tables; within one table the
  * manifest makes even that ordering unnecessary.
  *
  * MULTI-WRITER (r17): commits are OPTIMISTIC. A lost manifest-publish
  * race re-resolves the latest manifest and retries; a [[commit]]
  * carrying its base generation additionally checks that no
  * intervening commit touched its bucket set — disjoint writers
  * REBASE and both land, overlapping writers get a
  * [[StateTable.CommitConflictException]] abort whose staged segment
  * [[vacuum]] reclaims (the same resolve-rebase-or-abort loop Delta's
  * commit protocol and Iceberg's snapshot CAS run). Readers are
  * unaffected either way — data files are immutable and the manifest
  * swap is atomic, so no torn generation is observable. A writer whose
  * base generation has already left retention is a conflict BY
  * DEFINITION (it cannot prove its reads still stand), so it gets the
  * same [[StateTable.CommitConflictException]], not a crash — size
  * `retention` to the expected writer concurrency when base-checked
  * commits are in play (r18, closing the r17 sharp edge).
  *
  * The numbered-manifest publish itself must be EXCLUSIVE — fail, not
  * clobber, when the destination exists. On `file:` the primitive is a
  * POSIX hard-link create (atomically exclusive by contract, r18);
  * rename is only trusted on filesystems whose FileSystem contract
  * refuses to overwrite (HDFS does; the local CHECKSUMMED fs does too
  * — verified empirically — but raw POSIX rename(2) replaces, so the
  * local path never rides rename semantics).
  *
  * IN-FLIGHT STAGE MARKERS (r18): [[stage]] drops a heartbeat file
  * (`data/.inflight-<segment>`) before writing its segment and every
  * commit/abort clears it, so [[vacuum]] can distinguish a stage still
  * in flight (spared wholesale while the marker is younger than
  * `inflightGraceMs`) from a provably-abandoned one — the mtime grace
  * window alone was a heuristic a slow writer could outlive, turning a
  * scheduled vacuum into data loss at its own commit.
  *
  * The bucket column `b` stays a DATA column in every file (the write
  * partitions by a shadow copy, used only to bin files per bucket for
  * the manifest), so a manifest-selected file set reads back in one
  * plan with the bucket column intact.
  *
  * The staged frame is repartitioned BY the bucket column before the
  * write so each bucket holds one file per stage — without it, every
  * shuffle task writes a sliver into every bucket and the table
  * degrades to taskCount×bucketCount small files within a few
  * generations.
  *
  * Reference anchor: the durable Raft apply-loop state this pattern
  * scales (`distributed/node.py:298-309` — every applied mutation
  * lands in persistent storage, memory holds only the in-flight op).
  */
final class StateTable(
    spark: SparkSession, val path: String, val retention: Int = 2) {

  import StateTable._

  require(retention >= 2,
    s"retention must keep at least 2 manifests (snapshot isolation " +
      s"through one concurrent commit), got $retention")

  private val root = new Path(path)
  private val fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new Path(root, ManifestDir)

  // ---- manifest log ----------------------------------------------------

  private def listManifests(): Seq[(Long, Path)] =
    if (!fs.exists(manifestDir)) Seq.empty
    else fs.listStatus(manifestDir).toSeq
      .map(_.getPath)
      .filter(_.getName.matches("m\\d+"))
      .map(p => (p.getName.drop(1).toLong, p))
      .sortBy(_._1)

  private def readManifest(p: Path): Manifest = {
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    var gen = -1L
    var schema: StructType = null
    val live = Vector.newBuilder[LiveFile]
    val removed = Vector.newBuilder[String]
    lines.foreach { l =>
      l.split('\t') match {
        case Array("gen", g) => gen = g.toLong
        case Array("schema", b64) =>
          schema = DataType.fromJson(new String(
            java.util.Base64.getDecoder.decode(b64), "UTF-8"))
            .asInstanceOf[StructType]
        case Array("live", b, bytes, rel) =>
          live += LiveFile(b.toInt, bytes.toLong, rel)
        case Array("removed", rel) => removed += rel
        case Array("v", _) | Array("") => ()
        case other => sys.error(
          s"corrupt state-table manifest $p: unparseable line '$l'")
      }
    }
    require(gen >= 0 && schema != null,
      s"corrupt state-table manifest $p: missing gen/schema header")
    Manifest(gen, schema, live.result(), removed.result())
  }

  /** The current manifest, or None for an uninitialized table. The
    * listed latest can vanish before it is read — concurrent commits
    * published past it and GC dropped it — so then list again.
    */
  private def latest(): Option[Manifest] = {
    def attempt(tries: Int): Option[Manifest] =
      try listManifests().lastOption.map { case (_, p) => readManifest(p) }
      catch {
        case _: java.io.FileNotFoundException if tries < MaxCommitRetries =>
          attempt(tries + 1)
      }
    attempt(1)
  }

  private def requireLatest(): Manifest = latest().getOrElse(
    sys.error(s"state table at $path has no manifest — init() it first"))

  /** Publish `tmp` at `dest` EXCLUSIVELY: the numbered create must
    * FAIL, never clobber, when `dest` already exists — that exclusivity
    * is the whole commit CAS. On `file:` the primitive is a hard-link
    * create (POSIX guarantees link(2) fails with EEXIST; plain
    * rename(2) silently REPLACES, so a raw local fs could lose a
    * racing writer's committed manifest). Elsewhere the FileSystem
    * rename contract applies (HDFS rename refuses an existing file
    * destination). Returns false on a lost race; `tmp` is always gone
    * on return.
    */
  private def publishExclusive(tmp: Path, dest: Path): Boolean = {
    val won =
      if (fs.makeQualified(dest).toUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath),
            java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else fs.rename(tmp, dest)
    // hard-link publish leaves tmp as a second name for the same
    // inode; a lost race (either primitive) leaves the orphan tmp
    if (won && fs.exists(tmp)) fs.delete(tmp, false)
    if (!won) fs.delete(tmp, false)
    won
  }

  /** Write manifest for `gen` (exclusive — a second writer racing to
    * the same generation loses the publish and gets `false`; the OCC
    * loops in [[commit]]/[[commitAppend]]/[[init]] re-resolve and
    * retry), then GC out-of-retention files: removed-lists of
    * manifests ≤ gen−(retention−1) are physically deleted, manifest
    * files ≤ gen−retention are dropped. A non-negative `protectGen`
    * exempts exactly that generation's manifest from the drop and
    * blocks removed-list processing PAST it (a file live at the pin is
    * removed only by some later manifest) — the pin a multi-table
    * group pointer places on the base generation its crash recovery
    * must still be able to read (see [[commitFrom]]). Manifests torn
    * between the pin and the latest survive only until the pin
    * advances; the next protected write catches the GC up.
    */
  private def writeManifest(m: Manifest, protectGen: Long = -1L): Boolean = {
    val prior = listManifests()
    if (!fs.exists(manifestDir)) fs.mkdirs(manifestDir)
    val tmp = new Path(manifestDir, s".m${m.gen}.tmp-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try {
      val sb = new StringBuilder
      sb.append("v\t1\n").append(s"gen\t${m.gen}\n")
      sb.append("schema\t").append(java.util.Base64.getEncoder
        .encodeToString(m.schema.json.getBytes("UTF-8"))).append('\n')
      m.live.foreach(f =>
        sb.append(s"live\t${f.bucket}\t${f.bytes}\t${f.rel}\n"))
      m.removed.foreach(r => sb.append(s"removed\t$r\n"))
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
    val dest = new Path(manifestDir, s"m${m.gen}")
    if (!publishExclusive(tmp, dest)) return false
    // GC: anything only a reader of an out-of-retention generation
    // could need. Manifest g's removed files are live only in gens
    // ≤ g−1, so they go when g−1 leaves retention. A file live at a
    // protected generation P appears in the removed-list of some
    // g > P, so removed-lists past the pin are never processed and
    // the pinned snapshot stays physically intact.
    prior.foreach { case (g, p) =>
      // a concurrent committer's GC may have dropped p already — only
      // after deleting its removed files, in this same loop
      if (g <= m.gen - (retention - 1) && (protectGen < 0 || g <= protectGen))
        try readManifest(p).removed.foreach(rel =>
          fs.delete(new Path(root, rel), false))
        catch { case _: java.io.FileNotFoundException => () }
      if (g <= m.gen - retention && g != protectGen)
        fs.delete(p, false)
    }
    true
  }

  /** Buckets whose live FILE SET differs between the retained
    * manifests `fromGen` and `toGen` — what a rebasing committer must
    * check its own bucket set against (an intervening commit to a
    * disjoint set is mergeable; an overlapping one is a lost update).
    */
  private def bucketsChangedBetween(fromGen: Long, toGen: Long): Set[Int] = {
    val ms = listManifests().toMap
    def liveByBucket(g: Long): Map[Int, Set[String]] = {
      // a base generation that left retention (or whose manifest a
      // concurrent GC just dropped) means the writer CANNOT prove its
      // reads still stand — that is a conflict by definition, so the
      // caller's documented abort-and-recompute path runs instead of a
      // crash (r18; retention should be sized to writer concurrency)
      val p = ms.getOrElse(g, throw new StateTable.CommitConflictException(
        s"base generation $g is no longer retained at $path " +
          s"(retained: ${ms.keys.toSeq.sorted.mkString(", ")}) — the " +
          "writer is more than retention−1 commits behind, a conflict " +
          "by definition: abort and recompute from the current " +
          "generation"))
      val mf =
        try readManifest(p)
        catch {
          case _: java.io.FileNotFoundException =>
            throw new StateTable.CommitConflictException(
              s"base generation $g's manifest at $path vanished " +
                "between resolve and read (concurrent GC) — conflict; " +
                "abort and recompute from the current generation")
        }
      mf.live.groupBy(_.bucket)
        .view.mapValues(_.map(_.rel).toSet).toMap
    }
    val a = liveByBucket(fromGen)
    val b = liveByBucket(toGen)
    (a.keySet ++ b.keySet).filter(k =>
      a.getOrElse(k, Set.empty) != b.getOrElse(k, Set.empty)).toSet
  }

  // ---- segment writes ----------------------------------------------------

  /** Write `df` as an immutable segment, one file per bucket, and list
    * what landed. The bucket column stays in the data; a shadow copy
    * drives the per-bucket directory binning.
    */
  /** The in-flight heartbeat for a segment: created before the first
    * data byte lands, cleared by the commit (or conflict abort) that
    * resolves the segment's fate. While it exists and is younger than
    * [[vacuum]]'s `inflightGraceMs`, the whole segment is off-limits
    * to the sweep.
    */
  private def markerFor(segDir: Path): Path =
    new Path(segDir.getParent, s".inflight-${segDir.getName}")

  private def clearMarker(stagedDir: String): Unit =
    fs.delete(markerFor(new Path(stagedDir)), false)

  private def writeSegment(df: DataFrame, nParts: Int): (String, Seq[LiveFile]) = {
    require(df.columns.contains(BucketCol),
      s"state frame must carry '$BucketCol'")
    val seg = s"$DataDir/seg-${UUID.randomUUID().toString.take(12)}"
    val segPath = new Path(root, seg)
    val dataDir = new Path(root, DataDir)
    if (!fs.exists(dataDir)) fs.mkdirs(dataDir)
    fs.create(markerFor(segPath), false).close()
    df.withColumn(ShadowCol, col(BucketCol))
      .repartition(math.max(1, nParts), col(BucketCol))
      .write.partitionBy(ShadowCol).mode("errorifexists")
      .parquet(segPath.toString)
    val files =
      if (!fs.exists(segPath)) Seq.empty
      else fs.listStatus(segPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$ShadowCol="))
        .flatMap { d =>
          val bucket = d.getPath.getName.drop(ShadowCol.length + 1).toInt
          fs.listStatus(d.getPath).toSeq
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
              && !f.getPath.getName.startsWith("."))
            .map(f => LiveFile(bucket, f.getLen,
              s"$seg/${d.getPath.getName}/${f.getPath.getName}"))
        }
    (seg, files)
  }

  // ---- public surface ----------------------------------------------------

  /** Full (re)write — the initial state, or a generation where the
    * delta invalidated every bucket (e.g. an index rebuild fallback).
    * `df` must already carry the bucket column. An empty frame is a
    * valid initial state: the manifest carries the schema, so readers
    * of the empty table do not depend on parquet footer inference.
    */
  def init(df: DataFrame, nBuckets: Int, protectGen: Long = -1L): Unit = {
    val (seg, files) = writeSegment(df, nBuckets)
    // a full rewrite is last-writer-wins by definition — a lost publish
    // race just rebases onto the new latest and retries
    retryCommit("init") {
      val prev = latest()
      writeManifest(Manifest(prev.map(_.gen + 1).getOrElse(1L), df.schema,
        files, prev.map(_.live.map(_.rel)).getOrElse(Seq.empty)), protectGen)
    }
    clearMarker(new Path(root, seg).toString)
  }

  private def retryCommit(what: String)(attempt: => Boolean): Unit = {
    var tries = 0
    while (!attempt) {
      tries += 1
      require(tries < MaxCommitRetries,
        s"state-table $what at $path lost $tries manifest races — " +
          "a writer storm this deep is a deployment bug, not a race")
    }
  }

  /** The whole table, lazily — a streaming scan, never a cache. The
    * file list is fixed when this is called (snapshot semantics): a
    * commit landing after this returns does not change what the plan
    * reads, and retention keeps the files alive through one concurrent
    * commit.
    */
  def read(): DataFrame = {
    val m = requireLatest()
    readFiles(m, m.live)
  }

  /** TIME-TRAVEL read: the table exactly as generation `gen` committed
    * it. Available for the latest `retention` generations — older
    * manifests (and the files only they referenced) are GC'd. The
    * returned plan has the same snapshot semantics as [[read]].
    */
  def readAt(gen: Long): DataFrame = {
    val m = manifestAt(gen)
    readFiles(m, m.live)
  }

  private def manifestAt(gen: Long): Manifest = {
    val ms = listManifests()
    val hit = ms.collectFirst { case (g, p) if g == gen => p }.getOrElse(
      sys.error(s"generation $gen is not retained at $path " +
        s"(retained: ${ms.map(_._1).mkString(", ")}; retention=$retention)"))
    readManifest(hit)
  }

  /** [[readBuckets]] against a RETAINED generation's manifest instead
    * of the latest — what a multi-table group reader uses so every
    * table is read at its group-pinned generation even while a crashed
    * writer's torn commit sits ahead of the pin.
    */
  def readBucketsAt(gen: Long, buckets: Seq[Int]): DataFrame = {
    val m = manifestAt(gen)
    val want = buckets.toSet
    readFiles(m, m.live.filter(f => want.contains(f.bucket)))
  }

  /** [[bucketBytes]] at a retained generation. */
  def bucketBytesAt(gen: Long, buckets: Seq[Int]): Long = {
    val want = buckets.toSet
    manifestAt(gen).live.filter(f => want.contains(f.bucket))
      .map(_.bytes).sum
  }

  /** The retained generation numbers, oldest first. */
  def generations(): Seq[Long] = listManifests().map(_._1)

  /** Live bytes in the listed buckets — what a [[readBuckets]] of them
    * scans; free from the manifest, no file-system call.
    */
  def bucketBytes(buckets: Seq[Int]): Long = {
    val want = buckets.toSet
    latest().map(_.live.filter(f => want.contains(f.bucket))
      .map(_.bytes).sum).getOrElse(0L)
  }

  /** Manifest-pruned read: only the listed buckets' files enter the
    * plan — file-level pruning from the manifest, the same skip a
    * table format's partition stats give, with no directory listing.
    */
  def readBuckets(buckets: Seq[Int]): DataFrame = {
    val m = requireLatest()
    val want = buckets.toSet
    readFiles(m, m.live.filter(f => want.contains(f.bucket)))
  }

  private def readFiles(m: Manifest, files: Seq[LiveFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], m.schema)
    else
      spark.read.schema(m.schema)
        .parquet(files.map(f => new Path(root, f.rel).toString): _*)

  /** Phase 1: materialize `df` (which must carry the bucket column)
    * into an immutable segment. Runs the action NOW — all reads of the
    * current table complete before any [[commit]] swaps the manifest.
    * The files land in their final location; commit moves nothing.
    */
  def stage(df: DataFrame, nParts: Int): StateTable.Staged = {
    val (seg, files) = writeSegment(df, nParts)
    StateTable.Staged(new Path(root, seg).toString,
      files.map(_.bytes).sum, files)
  }

  /** Phase 2: commit the staged content as the new truth for the
    * affected `buckets` (a bucket in the list with no staged file was
    * emptied by the delta). One manifest write replaces the r15
    * per-bucket directory swap. Returns the number of buckets that
    * received new files.
    *
    * MULTI-WRITER (r17 OCC): pass `baseGen` = the generation the stage
    * was COMPUTED FROM (the [[generation]] the caller resolved before
    * its reads). If other commits landed since, this commit REBASES —
    * the kept-file list is rebuilt from the new latest (staged files
    * are immutable, only the manifest merge replays) — provided none
    * of the intervening commits touched this commit's buckets; an
    * overlap is a LOST UPDATE (the stage read state another writer has
    * since replaced) and throws [[StateTable.CommitConflictException]]
    * — the caller aborts its generation and the orphaned staged
    * segment waits for [[vacuum]]. A lost manifest RENAME race (two
    * writers picking the same generation number) always retries: the
    * re-resolve sees the winner's manifest and the conflict rule
    * decides. `baseGen < 0` (the default) keeps the r16 single-writer
    * contract: rebase unconditionally onto whatever is latest.
    */
  def commit(
      staged: StateTable.Staged, buckets: Seq[Int],
      baseGen: Long = -1L): Int = {
    val affected = buckets.toSet
    val stray = staged.files.filterNot(f => affected.contains(f.bucket))
    require(stray.isEmpty,
      s"staged files for buckets ${stray.map(_.bucket).distinct.sorted} " +
        s"not in the committed bucket list $buckets")
    resolvingMarker(staged) {
      retryCommit("commit") {
        val prev = requireLatest()
        if (baseGen >= 0 && prev.gen != baseGen) {
          val touched = bucketsChangedBetween(baseGen, prev.gen)
          val overlap = touched.intersect(affected)
          if (overlap.nonEmpty)
            throw new StateTable.CommitConflictException(
              s"commit of buckets ${affected.toSeq.sorted.mkString(",")} " +
                s"based on generation $baseGen conflicts with concurrent " +
                s"commits through ${prev.gen} touching buckets " +
                s"${overlap.toSeq.sorted.mkString(",")} at $path — the " +
                "stage read state that has since been replaced; abort " +
                "and recompute (vacuum reclaims the staged segment)")
        }
        val kept = prev.live.filterNot(f => affected.contains(f.bucket))
        val removed = prev.live.filter(f => affected.contains(f.bucket))
        writeManifest(Manifest(
          prev.gen + 1, prev.schema, kept ++ staged.files, removed.map(_.rel)))
      }
    }
    staged.files.map(_.bucket).distinct.size
  }

  /** Commit `staged` as the new truth for `buckets`, computing the
    * KEPT set from retained generation `fromGen` rather than from the
    * latest manifest: any commit that landed AFTER `fromGen` is
    * deliberately discarded (its files go to the removed list and GC).
    * This is the multi-table crash-recovery commit — a writer driving
    * several tables through one group pointer reads every table AT the
    * pinned generation and commits FROM it, so a torn commit a crashed
    * predecessor left ahead of the pin is simply orphaned, never
    * merged. `protectGen` (normally the same pinned generation) is
    * exempted from manifest GC so an arbitrarily-timed second crash
    * can still recover from the pin. Single-logical-writer semantics:
    * no OCC base check — the group pointer IS the serialization point.
    */
  def commitFrom(
      staged: StateTable.Staged, buckets: Seq[Int],
      fromGen: Long, protectGen: Long = -1L): Int = {
    val affected = buckets.toSet
    val stray = staged.files.filterNot(f => affected.contains(f.bucket))
    require(stray.isEmpty,
      s"staged files for buckets ${stray.map(_.bucket).distinct.sorted} " +
        s"not in the committed bucket list $buckets")
    resolvingMarker(staged) {
      retryCommit("commitFrom") {
        val prev = requireLatest()
        val base = if (prev.gen == fromGen) prev else manifestAt(fromGen)
        val kept = base.live.filterNot(f => affected.contains(f.bucket))
        val liveRels = (kept ++ staged.files).map(_.rel).toSet
        val removed = (prev.live ++ base.live).map(_.rel).distinct
          .filterNot(liveRels.contains)
        writeManifest(Manifest(
          prev.gen + 1, base.schema, kept ++ staged.files, removed),
          protectGen)
      }
    }
    staged.files.map(_.bucket).distinct.size
  }

  /** APPEND commit: the staged files JOIN the live set — no bucket is
    * replaced, nothing is removed. The LSM-style write an append-only
    * secondary index uses: readers tolerate stale rows by contract
    * (they validate against a primary table), and a periodic [[init]]
    * from the primary is the compaction that resets staleness. O(1)
    * like [[commit]]: one manifest write, zero data movement.
    */
  def commitAppend(staged: StateTable.Staged): Int = {
    // appends join the live set without displacing anything, so a lost
    // publish race ALWAYS rebases — no conflict is possible
    resolvingMarker(staged) {
      retryCommit("append") {
        val prev = requireLatest()
        writeManifest(Manifest(
          prev.gen + 1, prev.schema, prev.live ++ staged.files, Seq.empty))
      }
    }
    staged.files.map(_.bucket).distinct.size
  }

  /** APPEND from a retained base generation (the [[commitFrom]] twin):
    * the live set becomes `manifestAt(fromGen).live ++ staged` — a
    * torn append a crashed writer left past the pin is discarded, not
    * duplicated.
    */
  def commitAppendFrom(
      staged: StateTable.Staged, fromGen: Long,
      protectGen: Long = -1L): Int = {
    resolvingMarker(staged) {
      retryCommit("appendFrom") {
        val prev = requireLatest()
        val base = if (prev.gen == fromGen) prev else manifestAt(fromGen)
        val live = base.live ++ staged.files
        val liveRels = live.map(_.rel).toSet
        val removed = prev.live.map(_.rel).filterNot(liveRels.contains)
        writeManifest(Manifest(prev.gen + 1, base.schema, live, removed),
          protectGen)
      }
    }
    staged.files.map(_.bucket).distinct.size
  }

  /** Run a commit body, clearing the staged segment's in-flight marker
    * on EVERY exit: success resolves the segment into the table; a
    * conflict (or any other abort) resolves it into vacuum-reclaimable
    * garbage. Either way it is no longer in flight.
    */
  private def resolvingMarker[A](staged: StateTable.Staged)(body: => A): A =
    try body finally clearMarker(staged.dir)

  /** Current LIVE size from the manifest — the state-residence metric
    * (disk holds O(corpus); executor memory must not). Files awaiting
    * GC within retention are not state and are not counted.
    */
  def diskBytes(): Long =
    latest().map(_.live.map(_.bytes).sum).getOrElse(0L)

  /** The current generation number (0 = uninitialized). */
  def generation(): Long = latest().map(_.gen).getOrElse(0L)

  /** Live file count — the small-file health metric a maintenance
    * compaction would watch.
    */
  def liveFileCount(): Long = latest().map(_.live.size.toLong).getOrElse(0L)

  /** Maintenance sweep: physically delete every data file under
    * `data/` that NO retained manifest references — orphaned segments
    * from aborted stages, plus abandoned manifest tmp files — and drop
    * segment directories the sweep emptied. Two independent guards
    * protect an in-flight stage (staged files become referenced only
    * at commit):
    *
    *   - files younger than `graceMs` are spared — the mtime
    *     heuristic; and
    *   - a segment whose `.inflight-` marker (created by [[stage]]
    *     before the first byte, cleared by its commit or abort) is
    *     younger than `inflightGraceMs` is spared WHOLESALE — the
    *     safety boundary a slow writer's stage-to-commit latency
    *     cannot outlive as long as `inflightGraceMs` exceeds it.
    *
    * A marker older than `inflightGraceMs` marks a provably-abandoned
    * writer (it would have committed or aborted by now): the sweep
    * deletes the marker and processes its segment normally. Size
    * `inflightGraceMs` ABOVE the longest stage-to-commit latency any
    * writer can exhibit — reclaiming a live writer's staged segment
    * makes its later commit publish a manifest of deleted files.
    * Returns (filesDeleted, bytesReclaimed).
    */
  def vacuum(
      graceMs: Long = 10L * 60 * 1000,
      inflightGraceMs: Long = 60L * 60 * 1000): (Long, Long) = {
    val referenced: Set[String] =
      listManifests().flatMap { case (_, p) =>
        readManifest(p).live.map(_.rel)
      }.toSet
    val now = System.currentTimeMillis()
    val cutoff = now - graceMs
    val inflightCutoff = now - inflightGraceMs
    var files = 0L
    var bytes = 0L
    val dataDir = new Path(root, DataDir)
    if (fs.exists(dataDir)) {
      val entries = fs.listStatus(dataDir)
      val markers: Map[String, Long] = entries
        .filter(s => s.isFile && s.getPath.getName.startsWith(".inflight-"))
        .map(s => (s.getPath.getName.stripPrefix(".inflight-"),
          s.getModificationTime))
        .toMap
      entries.filter(_.isDirectory).foreach { seg =>
        if (markers.get(seg.getPath.getName).exists(_ > inflightCutoff)) {
          // a live heartbeat: the stage is (or may still be) in
          // flight — the whole segment is off-limits this sweep
        } else {
          var segHasSurvivors = false
          fs.listStatus(seg.getPath).filter(_.isDirectory).foreach { bdir =>
            // survivors counted from the one listing — no per-bucket
            // re-list after the deletes (r18 tidy: the double listing
            // was O(files) per sweep, priced LIST calls on object
            // stores)
            var survivors = 0
            fs.listStatus(bdir.getPath).filter(_.isFile).foreach { f =>
              val rel =
                s"$DataDir/${seg.getPath.getName}/${bdir.getPath.getName}/${f.getPath.getName}"
              if (!referenced.contains(rel) &&
                  f.getModificationTime <= cutoff) {
                bytes += f.getLen
                files += 1
                fs.delete(f.getPath, false)
              } else survivors += 1
            }
            if (survivors == 0) fs.delete(bdir.getPath, false)
            else segHasSurvivors = true
          }
          // non-directory stragglers (_SUCCESS markers) keep a segment
          // alive only if data files survived too
          if (!segHasSurvivors &&
              fs.listStatus(seg.getPath).forall(s =>
                s.isFile && s.getModificationTime <= cutoff))
            fs.delete(seg.getPath, true)
        }
      }
      // expired heartbeats (writer crashed before its commit or abort
      // could clear them) go now; their segments were already swept
      // above under the normal grace rules
      markers.foreach { case (segName, mtime) =>
        if (mtime <= inflightCutoff)
          fs.delete(new Path(dataDir, s".inflight-$segName"), false)
      }
    }
    if (fs.exists(manifestDir))
      fs.listStatus(manifestDir).filter(s => s.isFile &&
          s.getPath.getName.startsWith(".m") &&
          s.getModificationTime <= cutoff)
        .foreach(s => fs.delete(s.getPath, false))
    (files, bytes)
  }
}

object StateTable {
  /** The partition column every state frame carries. */
  val BucketCol = "b"

  /** Thrown when a [[StateTable.commit]] with a declared base
    * generation detects that a concurrent commit replaced one of its
    * buckets — the optimistic-concurrency ABORT (the staged segment is
    * orphaned and reclaimed by [[StateTable.vacuum]]; the table itself
    * is untouched, readers never see a torn generation).
    */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** Rename-race retries before declaring a writer storm. */
  private[sources] val MaxCommitRetries = 16
  /** Shadow of [[BucketCol]] used only to bin files into per-bucket
    * directories at write time; never read back.
    */
  private[sources] val ShadowCol = "__pb"
  private[sources] val DataDir = "data"
  private[sources] val ManifestDir = "_manifests"

  private[sources] final case class LiveFile(bucket: Int, bytes: Long, rel: String)
  private[sources] final case class Manifest(
      gen: Long, schema: StructType,
      live: Seq[LiveFile], removed: Seq[String])

  final case class Staged(
      dir: String, bytes: Long,
      private[sources] val files: Seq[LiveFile])

  /** Bucket of an md5-hex fingerprint column: first 4 hex digits mod
    * nBuckets (deterministic, engine-independent).
    */
  def fpBucket(fp: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(conv(substring(fp, 1, 4), 16, 10).cast("int"), lit(nBuckets))

  /** Bucket of a long id column. */
  def idBucket(id: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(id.cast("long"), lit(nBuckets.toLong)).cast("int")

  /** [[idBucket]] of one id, on the driver. */
  def idBucketOf(id: Long, nBuckets: Int): Int =
    (((id % nBuckets) + nBuckets) % nBuckets).toInt
}
