package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{GenGroup, StateTable}

/** Storage-backed kNN graph: the TABLE store of [[KnnGraphRefresh]].
  * The refresh algorithm is the one [[Ivf.knnGraphRefresh]] runs over
  * in-memory frames; this store answers its questions from disk so
  * that a generation sheds the two floors an in-memory state cannot:
  *
  *   1. READ floor ∝ corpus: over frames, finding the lossy srcs (the
  *      delta's in-degree) scans every edge row, and the candidate and
  *      merge joins scan every ranked row — per generation, even at
  *      |delta| = 100.
  *   2. REWRITE spread: a src-bucketed edge table touches
  *      min(buckets, k·|delta|) partitions for ≈ k·|delta| lossy srcs.
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
  * The refreshed STATE is row-identical to the frame store's on the
  * same delta and to a from-scratch build on the new corpus (the spec
  * chains all three): same centroids (stability checked against the
  * `cents` table), same candidate sets (cell pruning only removes
  * candidates that could not join), same bounded top-k cut, same exact
  * merge test. A None from [[refresh]] means rebuild with [[init]].
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

  /** One delta generation through [[KnnGraphRefresh]], every read
    * bucket-pruned. `adds`: (vec_id, embedding) entering the corpus —
    * including CHANGED vectors (an id may also appear in `removes`;
    * re-insert with a new vector ≡ change). `removes`: vec_id leaving.
    * Unknown remove ids are no-ops; an add of an existing id overwrites.
    *
    * Returns None when the delta demands a full rebuild (centroid
    * membership touched, or |delta| > 10% of the corpus) — the caller
    * re-runs [[init]] on the new corpus.
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
      onCommitted: String => Unit = _ => ()): Option[Report] =
    KnnGraphRefresh.run(
      new TableStore(spark, dir, probeCompactTrigger, onCommitted),
      adds, removes, idCol, vecCol, broadcastProbeBytesCap)

  /** The refresh's views as manifest-pruned reads of the group-pinned
    * generations, and its commit as a staged, per-table, group-published
    * generation. EVERY read resolves against the pins and every commit
    * is FROM them: a predecessor's torn generation (crash between
    * per-table commits — the pointer never advanced) is never read and
    * never merged, just orphaned into GC.
    */
  private final class TableStore(
      spark: SparkSession,
      dir: String,
      probeCompactTrigger: Double,
      onCommitted: String => Unit) extends KnnGraphRefresh.Store[Report] {
    private val t = new Tabs(spark, dir)
    private val pins = t.pinnedGens()
    private val m = readMeta(spark, t, pins("meta"))
    val k: Int = m.k
    val nCentroids: Int = m.nCents
    val nProbe: Int = m.nProbe
    val n: Long = m.n
    private def idB(c: org.apache.spark.sql.Column) = StateTable.idBucket(c, m.nBuckets)
    private def bucketsOf(ids: Iterable[Long]): Seq[Int] =
      ids.map(StateTable.idBucketOf(_, m.nBuckets)).toSeq.distinct.sorted
    private def ids(xs: Seq[Long], name: String) =
      broadcast(KnnGraphRefresh.localIds(spark, xs, name))

    // manifest-accounted pruned reads: the soak's IO-∝-delta evidence.
    // bytesRead sums bucket bytes PER CALL (the r16-comparable metric);
    // readByTable/bytesTouched count each (table, bucket) pair ONCE —
    // the distinct-bytes breakdown that attributes the floor
    private var bytesRead = 0L
    private var allReadBk = Set.empty[(String, Int)]
    private val readByTable = scala.collection.mutable.Map.empty[String, Long]
    private def pruned(tbl: StateTable, name: String, bk: Seq[Int]): DataFrame = {
      val pin = pins(name)
      bytesRead += tbl.bucketBytesAt(pin, bk)
      val fresh = bk.filterNot(b => allReadBk.contains((name, b)))
      if (fresh.nonEmpty)
        readByTable(name) =
          readByTable.getOrElse(name, 0L) + tbl.bucketBytesAt(pin, fresh)
      allReadBk ++= bk.map(b => (name, b))
      tbl.readBucketsAt(pin, bk)
    }
    private def keyed(tbl: StateTable, name: String, key: String, xs: Seq[Long]) =
      pruned(tbl, name, bucketsOf(xs)).join(ids(xs, key), Seq(key), "left_semi")

    def centroids: DataFrame =
      t.cents.readAt(pins("cents")).select(col("cent_id"), col("ncv"))
    def ranked(xs: Seq[Long]): DataFrame = keyed(t.ranked, "ranked", "src_id", xs)
      .select(col("src_id"), col("src_v"), col("cells"))
    // the lossy-suspect question as a |delta|-bucket read of the
    // inverted index (stale-tolerant: the refresh validates hits)
    def holders(nbrs: Seq[Long]): DataFrame = keyed(t.nbrIdx, "nbridx", "nbr_id", nbrs)
      .select(col("src_id")).distinct()
    def members(cells: Seq[Long]): DataFrame = keyed(t.cellIdx, "cellidx", "cent_id", cells)
      .select(col("cent_id"), col("vec_id"), col("nv"))
    // the (probes cell c, src_v) relation comes ENTIRELY from probeIdx
    // rows, so the merge pass reads only |addCells| cell buckets. The
    // read resolves max-ver per (cell, src) and drops tombstones — exact
    // because a src's vector change/removal always appends a
    // superseding row. A freshly-initialized table (pinned generation 1
    // — no appends visible) has one live row per (cell, src): no
    // max-ver shuffle
    def probers(cells: Seq[Long]): DataFrame = {
      val rows = keyed(t.probeIdx, "probeidx", "cent_id", cells)
      if (pins("probeidx") == 1L)
        rows.select(col("cent_id"), col("src_id"), col("src_v"))
      else rows
        .groupBy(col("cent_id"), col("src_id"))
        .agg(max_by(struct(col("dead"), col("src_v")), col("ver")).as("last"))
        .where(!col("last.dead"))
        .select(col("cent_id"), col("src_id"), col("last.src_v").as("src_v"))
    }
    def edges(srcs: Seq[Long]): DataFrame = keyed(t.edges, "edges", "src_id", srcs)
      .select(col("src_id"), col("nbr_id"), col("distance"), col("rank"))
    // the rank-k threshold comes from the kth SIDE TABLE (one row per
    // src), not the k-times-fatter edges table. The merge srcs stay
    // distributed: their bucket list is a ≤ nBuckets-row aggregate
    // (the one job that also populates the pinned addPairs)
    def kth(srcs: DataFrame): DataFrame = {
      val bk = srcs.select(idB(col("src_id"))).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      pruned(t.kth, "kth", bk).select(col("src_id"), col("distance"), col("nbr_id"))
    }
    def unchanged: Report =
      Report(0, 0, 0, 0, 0, 0L, 0L, 0L, compacted = false, m.n)

    def commit(d: KnnGraphRefresh.Delta): Report = {
      import spark.implicits._
      val rBk = bucketsOf(d.rankedIds)
      val eBk = bucketsOf(d.edgeIds)
      // cellIdx: the buckets of cells whose membership changed — the
      // old assignments of removed/changed ids plus the adds' cells
      val ciBk = bucketsOf(
        (d.oldCells.values ++ d.newCells.values).map(_.head).toSeq.distinct)
      // the stage writes are INDEPENDENT — every embedded table read is
      // a pinned-manifest snapshot and every shared frame is cached —
      // so they run concurrently: the frames (and their `pruned`
      // accounting) are built on this thread, only the write actions
      // fan out
      val goneOrRewritten = ids(d.edgeIds, "src_id")
      val eFrame = pruned(t.edges, "edges", eBk)
        .join(goneOrRewritten, Seq("src_id"), "left_anti")
        .drop(B)
        .unionByName(d.newEdges)
        .withColumn(B, idB(col("src_id")))
      // kth side table: one row per src, same rewrite set as edges
      val kFrame = pruned(t.kth, "kth", eBk)
        .join(goneOrRewritten, Seq("src_id"), "left_anti")
        .drop(B)
        .unionByName(d.newEdges.where(col("rank") === m.k)
          .select(col("src_id"), col("distance"), col("nbr_id")))
        .withColumn(B, idB(col("src_id")))
      val rFrame = pruned(t.ranked, "ranked", rBk)
        .join(ids(d.rankedIds, "src_id"), Seq("src_id"), "left_anti")
        .drop(B)
        .unionByName(d.deltaRanked)
        .withColumn(B, idB(col("src_id")))
      // every removed/changed id is a delta id, so the membership
      // eviction is ONE anti-join against the delta id list
      val ciFrame = pruned(t.cellIdx, "cellidx", ciBk)
        .join(ids(d.rankedIds, "vec_id"), Seq("vec_id"), "left_anti")
        .drop(B)
        .unionByName(d.addAssigned
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
      // probes, a TOMBSTONE for every cell a changed/removed id leaves
      // (driver arithmetic over the cell maps — a local relation)
      val pVer = t.probeIdx.generation() + 1
      val tombPairs: Seq[(Long, Long)] = d.oldCells.toSeq.flatMap {
        case (src, cells) =>
          val kept = d.newCells.getOrElse(src, Seq.empty).toSet
          cells.filterNot(kept).map(c => (c, src))
      }.sorted
      val tombRows = tombPairs.toDF("cent_id", "src_id")
        .select(col("cent_id"), col("src_id"),
          lit(null).cast("array<double>").as("src_v"),
          lit(pVer).as("ver"), lit(true).as("dead"))
      val liveRows = d.deltaRanked
        .select(explode(col("cells.vec_id")).as("cent_id"), col("src_id"),
          col("src_v"), lit(pVer).as("ver"), lit(false).as("dead"))
      val piFrame = tombRows.unionByName(liveRows)
        .withColumn(B, idB(col("cent_id")))
      // nbrIdx: APPEND the new edge rows' endpoints (stale rows tolerated)
      val niFrame = d.newEdges.select(col("nbr_id"), col("src_id"))
        .withColumn(B, idB(col("nbr_id")))

      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val (nAdds, nRems) = (d.addIds.length.toLong, d.removeIds.length.toLong)
      val stageFs = Seq(
        Future(t.edges.stage(eFrame, math.max(1, eBk.size))),
        Future(t.kth.stage(kFrame, math.max(1, eBk.size))),
        Future(t.ranked.stage(rFrame, math.max(1, rBk.size))),
        Future(t.cellIdx.stage(ciFrame, math.max(1, ciBk.size))),
        Future(t.probeIdx.stage(piFrame,
          math.min(m.nBuckets.toLong,
            math.max(1L, (nAdds + nRems) * m.nProbe)).toInt)),
        Future(t.nbrIdx.stage(niFrame,
          math.min(m.nBuckets.toLong,
            math.max(1L, d.rewritten.length.toLong * m.k)).toInt)))
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
      val newN = m.n + d.addIds.count(id => !d.oldCells.contains(id)) -
        d.removedIds.length
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

      Report(
        added = nAdds, removed = d.removedIds.length.toLong,
        changedSrcs = d.rewritten.length.toLong,
        bucketsRead = allReadBk.size,
        bucketsRewritten = rewritten,
        bytesRead = bytesRead,
        stagedBytes = eStage.bytes + kStage.bytes + rStage.bytes +
          ciStage.bytes,
        appendedBytes = niStage.bytes + piStage.bytes,
        compacted = compacted,
        corpusSize = newN,
        staleHits = d.suspects - d.liveSuspects,
        identityRecomputes = d.liveSuspects - d.changedSuspects,
        probeCompacted = probeCompacted,
        bytesTouched = readByTable.values.sum,
        readByTable = readByTable.toMap)
    }
  }
}
