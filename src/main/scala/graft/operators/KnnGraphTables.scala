package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.{GenGroup, StateTable}

/** Storage-backed kNN graph with a DELTA-DRIVEN refresh — the r16
  * answer to the two per-generation floors the in-memory refresh could
  * not shed:
  *
  *   1. READ floor ∝ corpus: [[Ivf.knnGraphRefreshTracked]] scans every
  *      base edge row to find lossy srcs (the delta's in-degree), every
  *      ranked row for the candidate join, and re-cuts every merge
  *      src's top-k — all per generation, even at |delta| = 100.
  *   2. REWRITE spread: the composed loop's edge table is bucketed by
  *      src, so ≈ k·|delta| lossy srcs touch min(buckets, k·|delta|)
  *      partitions.
  *
  * This module keys each question to its own bucketed [[StateTable]]
  * so every per-generation read is MANIFEST-PRUNED to the delta's
  * buckets:
  *
  *   - `ranked` / `edges` by src — the primary state (unchanged layout).
  *   - `cellidx` (cent_id, vec_id, nv) by CELL — "who is assigned to
  *     this cell": the full-recompute candidate join reads only the
  *     cells the recomputed srcs probe, not the corpus.
  *   - `probeidx` (cent_id, src_id, src_v, ver, dead) by CELL — "who
  *     PROBES this cell, with their vector": the merge pass reads only
  *     the cells the adds landed in AND gets the probing srcs' vectors
  *     from the same cell-pruned read (r17 — through r16 the vectors
  *     came from a src-bucketed `ranked` read, and merge srcs
  *     hash-scatter across ALL src buckets, so that read measured
  *     202–227 MB/gen against the state at 200k/447 cells/|delta|=21;
  *     the probe-cell-duplicated vector is the nProbe× storage trade
  *     that makes the merge read ∝ |addCells| buckets). Maintenance is
  *     APPEND-ONLY with VERSIONED rows — |delta|·nProbe live rows plus
  *     tombstones for cells a changed/removed src leaves; readers
  *     resolve max-ver per (cell, src), exact by construction (a
  *     replace-maintained variant was measured and REJECTED: it
  *     read+rewrote ~50+50 MB/gen of the fat table at |delta|=21 and
  *     saturated to the whole table at |delta|=200). Compaction from
  *     `ranked` when the table outgrows 2× its live mirror
  *     (nProbe × cellidx bytes).
  *   - `nbridx` (nbr_id, src_id) by NBR — "whose top-k holds this id":
  *     the lossy-src question becomes a |delta|-bucket read. The index
  *     is APPEND-ONLY ([[StateTable.commitAppend]]): entries go stale
  *     when a src's list drops a neighbor, readers validate hits
  *     against the live `ranked`/`edges` tables (a stale hit only
  *     costs a redundant identity recompute — the refresh's exact
  *     change test filters it from the rewrite), and a compaction
  *     rebuild from `edges` runs when the index outgrows 2× the edge
  *     table — the LSM trade, measured not asserted.
  *   - `cents` / `meta` — the centroid vectors and the (k, nCentroids,
  *     nProbe, nBuckets, dim, n) contract, so a refresh needs no
  *     caller-remembered parameters.
  *
  * CROSS-TABLE ATOMICITY (r18): the 8 per-table commits of a
  * generation become visible only through ONE [[GenGroup]] pointer
  * publish (an exclusive numbered create, the same CAS a table
  * manifest uses). Readers and the next refresh resolve every table
  * at its group-pinned generation; a crash anywhere between the
  * sequential per-table commits leaves the pointer — and so every
  * observer — on the intact prior generation, and the next refresh
  * commits FROM the pins ([[StateTable.commitFrom]]), orphaning the
  * torn files into GC. Through r17 a crash between the edges and
  * ranked commits left a torn cross-table generation whose only
  * recovery was a full init (reference anchor: the Raft apply loop is
  * atomic per command across the whole state machine,
  * `distributed/node.py:298-309`).
  *
  * The refreshed STATE is row-identical to
  * [[Ivf.knnGraphRefreshTracked]] on the same delta (parity
  * spec-gated): same centroids (stability enforced against the `cents`
  * table), same candidate sets (cell pruning only removes candidates
  * that could not join), same bounded top-k cut, same exact merge test
  * (an add enters a merge src's list iff the pool is short or
  * (distance, nbr_id) beats the rank-k row). Fallbacks mirror the
  * in-memory path and return None — the caller rebuilds with [[init]]:
  * the delta touches a centroid id, or exceeds 10% of the corpus.
  *
  * Scale shape at 100 TB: with nCentroids ∝ √n, a |delta|-row
  * generation reads O(|delta|·nProbe) CELL buckets of
  * cellidx/probeidx, O(|delta|) buckets of nbridx, and the
  * ranked/edges/kth buckets of the recomputed srcs (≈ k·|delta|) —
  * every read is keyed to the delta, none to the corpus. The merge
  * pass — the one read that WAS corpus-proportional through r16 —
  * now rides the probe-cell-duplicated probeidx, so its bytes are the
  * |addCells| cell buckets, not the src-hash-scattered ranked table.
  * Rewrites touch only the buckets of srcs/cells whose rows actually
  * changed. Nothing corpus-sized is read, shuffled, cached, or
  * rewritten on the delta path.
  *
  * Reference anchor: the durable apply-loop state of
  * `distributed/node.py:298-309`, extended to the derived-graph
  * artifact the reference rebuilds from scratch.
  */
object KnnGraphTables {

  private val B = StateTable.BucketCol

  /** Per-generation cost report — the numbers the soak graphs.
    * `staleHits`: nbrIdx suspects that validated away against the live
    * primary (the entry's src no longer exists). `identityRecomputes`:
    * live suspects whose recompute reproduced their base rows — the
    * price of the append-only index's staleness, each one a wasted
    * candidate join that a freshly-compacted index would not have
    * suggested (the long-horizon soak plots both against the 2×
    * compaction trigger).
    */
  final case class Report(
      added: Long, removed: Long, changedSrcs: Long,
      bucketsRead: Int, bucketsRewritten: Int,
      bytesRead: Long, stagedBytes: Long, appendedBytes: Long,
      compacted: Boolean, corpusSize: Long,
      staleHits: Long = 0L, identityRecomputes: Long = 0L,
      probeCompacted: Boolean = false,
      bytesTouched: Long = 0L,
      readByTable: Map[String, Long] = Map.empty)

  private final case class Meta(
      k: Int, nCents: Int, nProbe: Int, nBuckets: Int, dim: Int, n: Long)

  private final class Tabs(spark: SparkSession, dir: String) {
    val meta = new StateTable(spark, s"$dir/meta")
    val cents = new StateTable(spark, s"$dir/cents")
    val ranked = new StateTable(spark, s"$dir/ranked")
    val edges = new StateTable(spark, s"$dir/edges")
    val cellIdx = new StateTable(spark, s"$dir/cellidx")
    val kth = new StateTable(spark, s"$dir/kth")
    val probeIdx = new StateTable(spark, s"$dir/probeidx")
    val nbrIdx = new StateTable(spark, s"$dir/nbridx")
    /** The multi-table generation pointer (r18): per-table commits
      * become VISIBLE — to readers and to the next refresh — only when
      * the group publishes, so a crash between the 8 sequential
      * commits can never expose edges at G+1 with ranked at G.
      */
    val group = new GenGroup(spark, s"$dir/_group")
    val all: Seq[(String, StateTable)] = Seq(
      "meta" -> meta, "cents" -> cents, "ranked" -> ranked,
      "edges" -> edges, "cellidx" -> cellIdx, "kth" -> kth,
      "probeidx" -> probeIdx, "nbridx" -> nbrIdx)
    def pinnedGens(): Map[String, Long] = group.pinned().getOrElse(
      sys.error(s"graph tables at $dir have no group pointer — init() first"))
    def publishGens(): Unit =
      group.publish(all.map { case (n, t) => n -> t.generation() }.toMap)
  }

  private def readMeta(spark: SparkSession, t: Tabs, metaGen: Long): Meta = {
    val r = t.meta.readAt(metaGen).collect()(0)
    Meta(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4), r.getLong(5))
  }

  /** The probeIdx base rows from a ranked frame: one versioned live
    * row per (probed cell, src) — ver 0, superseded by any later
    * append (see the refresh's append-only maintenance).
    */
  private def probeRowsFrom(
      ranked: DataFrame,
      idB: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    ranked.select(
      explode(col("cells.vec_id")).as("cent_id"), col("src_id"),
      col("src_v"))
      .withColumn("ver", lit(0L))
      .withColumn("dead", lit(false))
      .withColumn(B, idB(col("cent_id")))

  private def writeMeta(
      spark: SparkSession, t: Tabs, m: Meta,
      protectGen: Long = -1L): Unit = {
    import spark.implicits._
    t.meta.init(
      Seq((m.k, m.nCents, m.nProbe, m.nBuckets, m.dim, m.n))
        .toDF("k", "n_cents", "n_probe", "n_buckets", "dim", "n")
        .withColumn(B, lit(0)),
      1, protectGen)
  }

  /** Full build: compute the graph with [[Ivf.knnGraphBuild]] and lay
    * every artifact out in its bucketed table. Also the fallback a
    * None from [[refresh]] routes to.
    */
  def init(
      spark: SparkSession,
      dir: String,
      emb: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      nBuckets: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val st = Ivf.knnGraphBuild(emb, k, nCentroids, nProbe, idCol, vecCol)
    val t = new Tabs(spark, dir)
    // a re-init (the rebuild fallback) on a live directory must keep
    // the group-pinned generations readable until the publish below —
    // a crash mid-init leaves the pointer (and so every reader) on the
    // intact prior generation
    val pins = t.group.pinned().getOrElse(Map.empty)
    def pinOf(name: String) = pins.getOrElse(name, -1L)
    val n = st.ranked.count()
    val dim = st.ranked.select(size(col("src_v"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    def idB(c: org.apache.spark.sql.Column) = StateTable.idBucket(c, nBuckets)
    t.ranked.init(st.ranked.withColumn(B, idB(col("src_id"))), nBuckets,
      pinOf("ranked"))
    t.edges.init(st.edges.withColumn(B, idB(col("src_id"))), nBuckets,
      pinOf("edges"))
    t.cents.init(
      st.ranked.orderBy(col("src_id")).limit(nCentroids)
        .select(col("src_id").as("cent_id"), col("src_v").as("ncv"))
        .withColumn(B, idB(col("cent_id"))),
      math.min(nBuckets, nCentroids), pinOf("cents"))
    t.cellIdx.init(
      st.ranked.select(
        element_at(col("cells.vec_id"), 1).as("cent_id"),
        col("src_id").as("vec_id"), col("src_v").as("nv"))
        .withColumn(B, idB(col("cent_id"))),
      nBuckets, pinOf("cellidx"))
    t.probeIdx.init(probeRowsFrom(st.ranked, idB), nBuckets,
      pinOf("probeidx"))
    t.nbrIdx.init(
      st.edges.select(col("nbr_id"), col("src_id"))
        .withColumn(B, idB(col("nbr_id"))),
      nBuckets, pinOf("nbridx"))
    t.kth.init(
      st.edges.where(col("rank") === k)
        .select(col("src_id"), col("distance"), col("nbr_id"))
        .withColumn(B, idB(col("src_id"))),
      nBuckets, pinOf("kth"))
    writeMeta(spark, t, Meta(k, nCentroids, nProbe, nBuckets, dim, n),
      pinOf("meta"))
    t.publishGens()
    st.ranked.unpersist(false)
  }

  /** The current graph state read back from the tables — what a
    * serving/verification plan consumes.
    */
  def readState(spark: SparkSession, dir: String): Ivf.KnnGraphState = {
    val t = new Tabs(spark, dir)
    // group-pinned reads: a torn refresh (crash between per-table
    // commits) is invisible — every table is read at the generation
    // the LAST group publish pinned
    val pins = t.pinnedGens()
    Ivf.KnnGraphState(
      t.ranked.readAt(pins("ranked")).drop(B),
      t.edges.readAt(pins("edges")).drop(B))
  }

  /** One delta generation, entirely bucket-pruned.
    *
    * `adds`: (vec_id, embedding) entering the corpus — including
    * CHANGED vectors (an id may also appear in `removes`; re-insert
    * with a new vector ≡ change). `removes`: vec_id leaving. Unknown
    * remove ids are no-ops; an add of an existing id overwrites.
    *
    * Returns None when the delta demands a full rebuild (centroid
    * membership touched, or |delta| > 10% of the corpus) — the caller
    * re-runs [[init]] on the new corpus, exactly like the in-memory
    * tracked refresh's fallback.
    */
  def refresh(
      spark: SparkSession,
      dir: String,
      adds: DataFrame,
      removes: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      broadcastProbeBytesCap: Long = 64L << 20,
      probeCompactTrigger: Double = 2.0,
      onCommitted: String => Unit = _ => ()): Option[Report] = {
    val t = new Tabs(spark, dir)
    // EVERY read below resolves against the group-pinned generations
    // and every commit is FROM them: a predecessor's torn generation
    // (crash between per-table commits — the pointer never advanced)
    // is never read and never merged, just orphaned into GC
    val pins = t.pinnedGens()
    val m = readMeta(spark, t, pins("meta"))
    def idB(c: org.apache.spark.sql.Column) = StateTable.idBucket(c, m.nBuckets)
    // the driver twin of StateTable.idBucket (pmod of the long id)
    def bucketOf(id: Long): Int =
      ((id % m.nBuckets) + m.nBuckets).toInt % m.nBuckets
    def bucketsOf(ids: Iterable[Long]): Seq[Int] =
      ids.map(bucketOf).toSeq.distinct.sorted
    // DRIVER-LOCAL id relations (r19): every delta/suspect-sized id set
    // the refresh broadcasts is ALREADY collected to the driver by the
    // broadcast machinery itself — but a broadcast whose child is a
    // distributed (cached) frame costs one Spark JOB per consuming
    // action (BroadcastExchange submits a collect job), and r18 still
    // paid ~120 such jobs per refresh, the fixture-scale wall (scaling
    // ratio 1.2 at 8 vs 32 cores: pure driver choreography). Collecting
    // each id set ONCE and re-broadcasting it as a LocalRelation makes
    // every downstream broadcast jobless (BroadcastExchange over
    // LocalTableScan collects driver-side), and all the set algebra,
    // counts and bucket lists that used to be tagged aggregate jobs
    // become driver arithmetic. The memory envelope is UNCHANGED — the
    // same sets sat in the driver's broadcast relations before; the
    // design contract stays "delta and suspect frames are
    // broadcastable" (the 10% fallback gate bounds them).
    import spark.implicits._
    def localIds(ids: Seq[Long], name: String): DataFrame =
      ids.toDF(name)
    // persist + CUT LINEAGE (Bridge.cutLineage), NO job: the refresh
    // derives ~8 layers of mutation-sized frames from each other, and
    // every downstream plan would otherwise embed the full upstream
    // tree — compact as a DAG, multiplicative in every tree walk
    // (optimizer, explainString: the streaming wrapper OOM'd an 8 GB
    // driver printing the composed loop's batch plan). The frames that
    // STAY distributed are exactly the vector-carrying ones
    // (deltaRanked, fullOld, fullEdges, addPairs, newEdgeRows); each is
    // populated by the one collect/count job that also returns its
    // driver-side ids, BEFORE any concurrent consumer can race the
    // unpopulated cache.
    def pinLazy(df: DataFrame): DataFrame = {
      val p = df.persist()
      graft.CacheTracker.register(p)
      org.apache.spark.sql.graftbridge.Bridge.cutLineage(p)
    }
    // ONE job: materialize every (already pinned) frame and return its
    // row count — a tagged union scans each cache-populating branch
    // and a two-level aggregate brings back one row per tag
    def materialize(frames: (String, DataFrame)*): Map[String, Long] = {
      val counts = frames.map { case (tag, p) =>
        p.select(lit(tag).as("__t")) }
        .reduce(_.unionAll(_))
        .groupBy(col("__t")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      frames.map { case (tag, _) =>
        tag -> counts.getOrElse(tag, 0L) }.toMap
    }
    // manifest-accounted pruned reads: the soak's IO-∝-delta evidence.
    // bytesRead sums bucket bytes PER CALL (the r16-comparable metric);
    // readByTable/bytesTouched count each (table, bucket) pair ONCE —
    // the distinct-bytes breakdown that attributes the floor
    var bytesRead = 0L
    var allReadBk = Set.empty[(String, Int)]
    val readByTable = scala.collection.mutable.Map.empty[String, Long]
    def pruned(tbl: StateTable, name: String, bk: Seq[Int]): DataFrame = {
      val pin = pins(name)
      bytesRead += tbl.bucketBytesAt(pin, bk)
      val fresh = bk.filterNot(b => allReadBk.contains((name, b)))
      if (fresh.nonEmpty)
        readByTable(name) =
          readByTable.getOrElse(name, 0L) + tbl.bucketBytesAt(pin, fresh)
      allReadBk ++= bk.map(b => (name, b))
      tbl.readBucketsAt(pin, bk)
    }

    // ids are DISTINCT at pin time: duplicate vec_ids within one delta
    // are one mutation (knnRanked's groupBy already dedups the state),
    // so the counts feeding meta.n and the 10% gate must be id counts.
    // ONE tagged collect brings both sides back; all further delta set
    // algebra is driver arithmetic. The collect is bounded by the gate:
    // (nAdds + nRems)·10 > n holds exactly when the union reaches
    // ⌊n/10⌋ + 1 rows, so the limit truncates only a delta the gate
    // rejects anyway, and an oversized delta never lands on the driver
    val gateRows = math.min(m.n / 10 + 1, Int.MaxValue.toLong).toInt
    val arRows = adds.select(col(idCol).cast("long").as("id")).distinct()
      .select(lit("a").as("__t"), col("id"))
      .unionAll(removes.select(col(idCol).cast("long").as("id")).distinct()
        .select(lit("r").as("__t"), col("id")))
      .limit(gateRows)
      .collect()
    val addIdsA = arRows.filter(_.getString(0) == "a")
      .map(_.getLong(1)).sorted
    val remIdsA = arRows.filter(_.getString(0) == "r")
      .map(_.getLong(1)).sorted
    val addSet = addIdsA.toSet
    val (nAdds, nRems) = (addIdsA.length.toLong, remIdsA.length.toLong)
    if (nAdds + nRems == 0)
      return Some(Report(0, 0, 0, 0, 0, 0L, 0L, 0L, compacted = false, m.n))
    if ((nAdds + nRems) * 10L > m.n) return None
    val deltaAllA = (addSet ++ remIdsA).toArray.sorted
    val arBk = bucketsOf(deltaAllA)
    // centroid ids (≤ nCentroids longs — bounded): one collect
    val centIds = t.cents.readAt(pins("cents"))
      .select(col("cent_id")).collect().map(_.getLong(0)).toSeq

    // ---- delta classification (all reads pruned to delta buckets;
    // ONE ranked read serves adds, removes, and the old-cell lookup —
    // its src_id + probed-cell rows come back in the same collect, so
    // existing/changed/removed classification and every old-cell
    // question below are driver lookups)
    val rdRows = pruned(t.ranked, "ranked", arBk)
      .join(broadcast(localIds(deltaAllA, "src_id")),
        Seq("src_id"), "left_semi")
      .select(col("src_id"), col("cells.vec_id").as("cids"))
      .collect()
    val oldCells: Map[Long, Seq[Long]] = rdRows.map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    val existingSet = oldCells.keySet
    val centsDf = t.cents.readAt(pins("cents"))
      .select(col("cent_id"), col("ncv"))
    // deltaRanked stays DISTRIBUTED (it carries the add vectors); the
    // one collect below both populates its cache and returns the adds'
    // probed cells for the driver-side cell lists
    val deltaRanked = pinLazy(Ivf.knnRanked(
      Ivf.knnNormed(adds, idCol, vecCol), centsDf, m.nProbe, idCol))
    val drRows = deltaRanked
      .select(col("src_id"), col("cells.vec_id").as("cids"))
      .collect()
    val newCells: Map[Long, Seq[Long]] = drRows.map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    val existingAddsA = addIdsA.filter(existingSet)
    val existingRemA = remIdsA.filter(id =>
      existingSet(id) && !addSet(id)) // removed-and-re-added is a CHANGE
    val (nChangedAdds, nRemoved) =
      (existingAddsA.length.toLong, existingRemA.length.toLong)
    // the two fallback triggers, now driver predicates. Centroid
    // stability part 2 (r16 advice): centroids are the nCentroids
    // LOWEST corpus ids, so a BRAND-NEW add id below max(centIds)
    // joins that lowest set in a from-scratch build even though it is
    // not a stored centroid id — membership changes and the in-memory
    // twin would rebuild. Only NEW ids can do this: every existing
    // corpus id < max(centIds) IS a centroid (else the
    // lowest-nCentroids set would not reach max(centIds)), so existing
    // adds and removes below the max are already caught by the id test.
    val centSet = centIds.toSet
    val maxCent = if (centIds.isEmpty) Long.MinValue else centIds.max
    if (deltaAllA.exists(centSet) ||
      addIdsA.exists(id => !existingSet(id) && id < maxCent)) return None
    // existingRem and existingAdds are DISJOINT by construction and
    // each distinct, so their union is distinct
    val rocA = (existingRemA ++ existingAddsA).sorted
    val rocSet = rocA.toSet
    val addAssigned = deltaRanked.select(
      element_at(col("cells.vec_id"), 1).as("cent_id"),
      col("src_id").as("nbr_id"), col("src_v").as("nbr_v"))
    val addCellsA = drRows.map(_.getSeq[Long](1).head).distinct.sorted
    // rewrite-side bucket lists, all driver arithmetic now: the
    // lossy-suspect read (roc), the merge pass's probeIdx cells
    // (addcell), the ranked rewrite (rdelta) and the cellIdx rewrite
    // (ci — old assignments of removed/changed ids + the adds' cells)
    val rocAssignA = rocA.map(oldCells(_).head).distinct.sorted
    val deltaIdsA = (addIdsA ++ existingRemA).sorted // disjoint → distinct
    val rocBk = bucketsOf(rocA)
    val addCellsBk = bucketsOf(addCellsA)
    val rBk = bucketsOf(deltaIdsA)
    val ciBk = bucketsOf(rocAssignA ++ addCellsA)

    // ---- lossy suspects from the inverted index (stale-tolerant) ----
    // one pruned read, ids straight back to the driver (suspect-sized
    // by the LSM contract — bounded reverse-neighbour fan-in)
    val suspectsA = pruned(t.nbrIdx, "nbridx", rocBk)
      .join(broadcast(localIds(rocA, "nbr_id")), Seq("nbr_id"), "left_semi")
      .select(col("src_id")).distinct()
      .join(broadcast(localIds(deltaAllA, "src_id")),
        Seq("src_id"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    val nSuspects = suspectsA.length.toLong
    val suspectsBk = bucketsOf(suspectsA)
    // validate against the live primary: dropped srcs and stale ids
    // out. fullOld stays DISTRIBUTED (it carries the suspects'
    // vectors); its one collect populates the cache and returns the
    // live ids + their probed cells for the driver-side cell list
    val fullOld = pinLazy(pruned(t.ranked, "ranked", suspectsBk)
      .join(broadcast(localIds(suspectsA, "src_id")),
        Seq("src_id"), "left_semi")
      .select(col("src_id"), col("src_v"), col("cells")))
    val foRows = fullOld
      .select(col("src_id"), col("cells.vec_id").as("cids"))
      .collect()
    val fullOldIdsA = foRows.map(_.getLong(0)).sorted
    val nFullOld = fullOldIdsA.length.toLong
    val fBk = bucketsOf(fullOldIdsA)

    // ---- full recompute: suspects + adds, candidates from the probed
    // cells only (manifest-pruned cellIdx read). The union is lazy
    // over its two pinned parents, and its size is known arithmetic
    // (deltaRanked has one row per distinct add id)
    val probeRanked = fullOld.unionByName(
      deltaRanked.select(col("src_id"), col("src_v"), col("cells")))
    val nFull = nFullOld + nAdds
    val probeCellsA = (foRows.flatMap(_.getSeq[Long](1)) ++
      drRows.flatMap(_.getSeq[Long](1))).distinct.sorted
    val cellBk = bucketsOf(probeCellsA)
    val candidates = pruned(t.cellIdx, "cellidx", cellBk)
      .join(broadcast(localIds(probeCellsA, "cent_id")),
        Seq("cent_id"), "left_semi")
      .join(broadcast(localIds(rocA, "vec_id")), Seq("vec_id"), "left_anti")
      .select(col("cent_id"), col("vec_id").as("nbr_id"), col("nv").as("nbr_v"))
      .unionByName(addAssigned
        .join(broadcast(localIds(probeCellsA, "cent_id")),
          Seq("cent_id"), "left_semi"))
    val estProbeBytes = nFull * m.nProbe.toLong * (m.dim.toLong * 8L + 48L)
    // fullEdges is the refresh's one expensive frame (the candidate
    // join + top-k): materialize it ALONE before the exceptAll below
    // scans it twice — batching it with its consumer would recompute
    // the join once per concurrent branch
    val fullEdges = pinLazy(Ivf.knnEdgesFromAssigned(
      probeRanked, candidates, m.k,
      broadcastProbes = estProbeBytes <= broadcastProbeBytesCap))
    materialize("fe" -> fullEdges)
    // exact change test for the suspects: a recompute that reproduced
    // the base rows is the identity — keep it out of the rewrite. The
    // edges read rides fBk (fullOld's bucket list, already collected)
    val fullOldIdsL = localIds(fullOldIdsA, "src_id")
    val baseFullRows = pruned(t.edges, "edges", fBk)
      .join(broadcast(fullOldIdsL), Seq("src_id"), "left_semi")
      .select(col("src_id"), col("nbr_id"), col("distance"), col("rank"))
    val newFullRows = fullEdges
      .join(broadcast(fullOldIdsL), Seq("src_id"), "left_semi")
    // staleness accounting rides the collect counts: suspects that
    // vanished against the live primary, and live suspects whose
    // recompute was the identity — both are the append-only nbrIdx's
    // staleness tax
    val changedFullA = newFullRows.exceptAll(baseFullRows)
      .unionByName(baseFullRows.exceptAll(newFullRows))
      .select(col("src_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val nChangedFull = changedFullA.length.toLong

    // ---- merge: srcs probing the adds' cells (probeIdx-pruned) ----
    // the (probes cell c, src_v) relation comes ENTIRELY from probeIdx
    // rows — the cell-keyed table carries the probing src's vector, so
    // the merge pass reads only |addCells| cell buckets (r17; through
    // r16 the vectors came from a src-bucketed ranked read that merge
    // srcs hash-scattered across, the measured 202–227 MB/gen floor).
    // probeIdx is APPEND-ONLY with versioned rows: the read resolves
    // max-ver per (cell, src) and drops tombstones — exact because a
    // src's vector change/removal always appends a superseding row
    val probeRows = pruned(t.probeIdx, "probeidx", addCellsBk)
      .join(broadcast(localIds(addCellsA, "cent_id")),
        Seq("cent_id"), "left_semi")
    // a freshly-initialized table (pinned generation 1 — no appends
    // visible) has exactly one live row per (cell, src): skip the
    // max-ver shuffle
    val liveProbes =
      if (pins("probeidx") == 1L)
        probeRows.select(col("cent_id"), col("src_id"), col("src_v"))
      else probeRows
        .groupBy(col("cent_id"), col("src_id"))
        .agg(max_by(struct(col("dead"), col("src_v")), col("ver")).as("last"))
        .where(!col("last.dead"))
        .select(col("cent_id"), col("src_id"), col("last.src_v").as("src_v"))
    val mergeProbes = liveProbes
      .join(broadcast(localIds((deltaAllA ++ suspectsA).distinct.sorted,
        "src_id")), Seq("src_id"), "left_anti")
    // addPairs stays DISTRIBUTED (merge-src × add distance rows); the
    // one collect populates its cache and returns the distinct merge
    // src ids for the kth read's bucket list
    val addPairs = pinLazy(mergeProbes
      .join(broadcast(addAssigned), Seq("cent_id"))
      .where(col("nbr_id") =!= col("src_id"))
      .select(col("src_id"), col("nbr_id"),
        VectorFunctions.roundDist(
          lit(1.0) - VectorFunctions.dot(col("src_v"), col("nbr_v")))
          .as("distance")))
    val pairSrcIdsA = addPairs.select(col("src_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val pairBk = bucketsOf(pairSrcIdsA)
    // the rank-k threshold comes from the kth SIDE TABLE (one row per
    // src), not a scan of the k-times-fatter edges table
    val baseKth = pruned(t.kth, "kth", pairBk)
      .join(broadcast(localIds(pairSrcIdsA, "src_id")),
        Seq("src_id"), "left_semi")
      .select(col("src_id"),
        struct(col("distance"), col("nbr_id")).as("kth"))
    // winners only feed the changed-merge id set — collect it directly,
    // no pin (the mergedNew re-cut below reads addPairs, not winners)
    val changedMergeA = addPairs
      .join(baseKth, Seq("src_id"), "left")
      .where(col("kth").isNull ||
        struct(col("distance"), col("nbr_id")) < col("kth"))
      .select(col("src_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cmBk = bucketsOf(changedMergeA)
    val changedMergeL = localIds(changedMergeA, "src_id")
    // re-cut ONLY the merge srcs an add actually enters
    val cmBase = pruned(t.edges, "edges", cmBk)
      .join(broadcast(changedMergeL), Seq("src_id"), "left_semi")
      .select(col("src_id"), col("nbr_id"), col("distance"))
    val mergedNew = cmBase
      .unionByName(addPairs
        .join(broadcast(changedMergeL), Seq("src_id"), "left_semi"))
      .groupBy(col("src_id"))
      .agg(VectorFunctions.topK(col("distance"), col("nbr_id"), m.k).as("topk"))
      .select(col("src_id"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(col("src_id"), col("r.vec_id").as("nbr_id"),
        col("r.distance").as("distance"),
        (col("pos") + 1).cast("long").as("rank"))

    // ---- stage everything (reads of current tables complete here),
    // then commit everything ----
    // changedFull (⊆ suspects), addIds, and changedMerge (anti-joined
    // against suspects and the delta ids) are pairwise DISJOINT and
    // each distinct — so are rewrittenSrcs and existingRem (⊆ remIds):
    // the unions are distinct, and the counts and the edges/kth
    // rewrite bucket list are driver arithmetic
    val rewrittenSrcsA = (changedFullA ++ addIdsA ++ changedMergeA).sorted
    val goneOrRewrittenA = (rewrittenSrcsA ++ existingRemA).sorted
    val nChanged = rewrittenSrcsA.length.toLong
    val eBk = bucketsOf(goneOrRewrittenA)

    // one job pins newEdgeRows before the stage writes fan out — the
    // concurrent stages below all scan it, and an unpopulated cache
    // would triple-compute the merge re-cut
    val newEdgeRows = pinLazy(fullEdges
      .join(broadcast(localIds((changedFullA ++ addIdsA).sorted, "src_id")),
        Seq("src_id"), "left_semi")
      .unionByName(mergedNew))
    materialize("ne" -> newEdgeRows)
    // the six stage writes are INDEPENDENT — every embedded table read
    // is a pinned-manifest snapshot and every shared frame is cached —
    // so they run concurrently: the frames (and their `pruned`
    // accounting) are built on this thread, only the write actions fan
    // out, and the wall is the max of six write jobs instead of their
    // sum (a cluster pipelines them the same way)
    val goneOrRewrittenL = localIds(goneOrRewrittenA, "src_id")
    val eFrame = pruned(t.edges, "edges", eBk)
      .join(broadcast(goneOrRewrittenL), Seq("src_id"), "left_anti")
      .drop(B)
      .unionByName(newEdgeRows)
      .withColumn(B, idB(col("src_id")))
    // kth side table: one row per src, same rewrite set as edges
    val kFrame = pruned(t.kth, "kth", eBk)
      .join(broadcast(goneOrRewrittenL), Seq("src_id"), "left_anti")
      .drop(B)
      .unionByName(newEdgeRows.where(col("rank") === m.k)
        .select(col("src_id"), col("distance"), col("nbr_id")))
      .withColumn(B, idB(col("src_id")))
    // ranked: replace the delta ids' buckets
    val deltaIdsL = localIds(deltaIdsA, "src_id")
    val rFrame = pruned(t.ranked, "ranked", rBk)
      .join(broadcast(deltaIdsL), Seq("src_id"), "left_anti")
      .drop(B)
      .unionByName(deltaRanked)
      .withColumn(B, idB(col("src_id")))
    // cellIdx: replace the buckets of cells whose membership changed —
    // the assignments of removed/changed ids (probe rank 0 of their
    // old cells) plus the adds' assignments (ciBk above)
    // removedOrChanged ∪ addIds ≡ deltaIds (existingAdds ⊆ addIds), so
    // the membership eviction is ONE anti-join against the id list the
    // ranked rewrite already ships
    val ciFrame = pruned(t.cellIdx, "cellidx", ciBk)
      .join(broadcast(localIds(deltaIdsA, "vec_id")),
        Seq("vec_id"), "left_anti")
      .drop(B)
      .unionByName(addAssigned
        .select(col("cent_id"), col("nbr_id").as("vec_id"),
          col("nbr_v").as("nv"))
        .where(idB(col("cent_id")).isin(ciBk: _*)))
      .withColumn(B, idB(col("cent_id")))
    // probeIdx: APPEND-ONLY versioned maintenance (r17) — the replace
    // alternative read+rewrote every probed cell's bucket of the
    // nProbe×-fat table (measured at 200k/1024 buckets/|delta|=21:
    // ~50 MB read + ~50 MB staged per generation, saturating to the
    // whole table at |delta|=200). Appends are |delta|·nProbe rows: a
    // live row (ver = next generation) for every cell a delta id now
    // probes, a TOMBSTONE for every cell a changed/removed id leaves.
    // Readers resolve max-ver per (cell, src); compaction from ranked
    // when the table outgrows 2× its live mirror (nProbe × cellIdx) —
    // the same LSM trade nbrIdx runs. Tombstones (old cells minus new
    // cells per changed/removed src) are pure driver arithmetic over
    // the already-collected cell maps — a LocalRelation, no join
    val pVer = t.probeIdx.generation() + 1
    val addProbe = deltaRanked.select(col("src_id"),
      explode(col("cells.vec_id")).as("cent_id"), col("src_v"))
    val tombPairs: Seq[(Long, Long)] = rocA.toSeq.flatMap { src =>
      val kept = newCells.getOrElse(src, Seq.empty).toSet
      oldCells(src).filterNot(kept).map(c => (c, src))
    }.sorted
    val tombRows = tombPairs.toDF("cent_id", "src_id")
      .select(col("cent_id"), col("src_id"),
        lit(null).cast("array<double>").as("src_v"),
        lit(pVer).as("ver"), lit(true).as("dead"))
    val liveRows = addProbe
      .select(col("cent_id"), col("src_id"), col("src_v"),
        lit(pVer).as("ver"), lit(false).as("dead"))
    val piFrame = tombRows.unionByName(liveRows)
      .withColumn(B, idB(col("cent_id")))
    // nbrIdx: APPEND the new edge rows' endpoints (stale rows tolerated)
    val niFrame = newEdgeRows.select(col("nbr_id"), col("src_id"))
      .withColumn(B, idB(col("nbr_id")))

    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val stageFs = Seq(
      Future(t.edges.stage(eFrame, math.max(1, eBk.size))),
      Future(t.kth.stage(kFrame, math.max(1, eBk.size))),
      Future(t.ranked.stage(rFrame, math.max(1, rBk.size))),
      Future(t.cellIdx.stage(ciFrame, math.max(1, ciBk.size))),
      Future(t.probeIdx.stage(piFrame,
        math.min(m.nBuckets.toLong,
          math.max(1L, (nAdds + nRems) * m.nProbe)).toInt)),
      Future(t.nbrIdx.stage(niFrame,
        math.min(m.nBuckets.toLong, math.max(1L, nChanged * m.k)).toInt)))
    val Seq(eStage, kStage, rStage, ciStage, piStage, niStage) =
      stageFs.map(Await.result(_, Duration.Inf))

    // per-table commits FROM the pinned generations (discarding any
    // torn predecessor), each protected so the pin survives GC until
    // the group publish below advances it; `onCommitted` is the crash
    // hook the kill-between-commits spec injects through
    var rewritten = 0
    rewritten += t.edges.commitFrom(eStage, eBk, pins("edges"), pins("edges"))
    onCommitted("edges")
    rewritten += t.kth.commitFrom(kStage, eBk, pins("kth"), pins("kth"))
    onCommitted("kth")
    rewritten += t.ranked.commitFrom(rStage, rBk, pins("ranked"), pins("ranked"))
    onCommitted("ranked")
    rewritten += t.cellIdx.commitFrom(
      ciStage, ciBk, pins("cellidx"), pins("cellidx"))
    onCommitted("cellidx")
    t.probeIdx.commitAppendFrom(piStage, pins("probeidx"), pins("probeidx"))
    onCommitted("probeidx")
    t.nbrIdx.commitAppendFrom(niStage, pins("nbridx"), pins("nbridx"))
    onCommitted("nbridx")
    val newN = m.n + (nAdds - nChangedAdds) - nRemoved
    writeMeta(spark, t, m.copy(n = newN), pins("meta"))
    onCommitted("meta")

    // compaction: the append-only indexes pay for their O(1) writes
    // with staleness — rebuild each from its primary when it outgrows
    // `trigger`× its live mirror (edges for nbrIdx; nProbe×cellIdx
    // bytes for the vector-carrying probeIdx). The primaries read the
    // JUST-committed latest (consistent: this writer owns them all);
    // the rebuild inits stay pin-protected like every other commit
    val compacted = t.nbrIdx.diskBytes() > 2L * t.edges.diskBytes()
    if (compacted)
      t.nbrIdx.init(
        t.edges.read().select(col("nbr_id"), col("src_id"))
          .withColumn(B, idB(col("nbr_id"))),
        m.nBuckets, pins("nbridx"))
    val probeCompacted =
      t.probeIdx.diskBytes() >
        (probeCompactTrigger * m.nProbe * t.cellIdx.diskBytes()).toLong
    if (probeCompacted)
      t.probeIdx.init(probeRowsFrom(t.ranked.read().drop(B), idB),
        m.nBuckets, pins("probeidx"))

    // the ATOMIC visibility point: one exclusive create pins all 8
    // tables' new generations; everything above was invisible until it
    t.publishGens()

    Some(Report(
      added = nAdds, removed = nRemoved, changedSrcs = nChanged,
      bucketsRead = allReadBk.size,
      bucketsRewritten = rewritten,
      bytesRead = bytesRead,
      stagedBytes = eStage.bytes + kStage.bytes + rStage.bytes +
        ciStage.bytes,
      appendedBytes = niStage.bytes + piStage.bytes,
      compacted = compacted,
      corpusSize = newN,
      staleHits = nSuspects - nFullOld,
      identityRecomputes = nFullOld - nChangedFull,
      probeCompacted = probeCompacted,
      bytesTouched = readByTable.values.sum,
      readByTable = readByTable.toMap))
  }
}
