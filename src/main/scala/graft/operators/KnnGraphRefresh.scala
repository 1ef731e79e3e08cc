package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions

/** The ONE incremental kNN-graph refresh: given the prior build's state
  * and a delta `(adds, removes)`, bring the [[Ivf.knnGraphBuild]] graph
  * to the new corpus without rebuilding it. The algorithm reads and
  * writes through a small [[Store]] with two implementations:
  *
  *   - [[FrameStore]]: the state is an in-memory [[Ivf.KnnGraphState]]
  *     (`ranked`, `edges`); every view the refresh asks for (cell
  *     members, cell probers, edge lists, rank-k rows, reverse
  *     neighbours) is a filter of those two frames, and the commit
  *     returns the new state.
  *   - the table store inside [[KnnGraphTables]]: the same views are
  *     manifest-pruned bucket reads of per-question [[graft.sources.StateTable]]s,
  *     and the commit stages, commits and publishes a table generation.
  *
  * The delta splits srcs three ways:
  *
  *  - FULL recompute (the cell candidate join, as in the build) for
  *    the adds — their vector changed, every distance with it — and
  *    for the SUSPECTS: srcs whose top-k holds a removed or changed id
  *    (their k-th slot must be refilled from the full candidate set).
  *    That set is ≈ Σ in-degree of the delta (~k·|delta|), not n. A
  *    suspect whose recompute reproduces its base rows is the identity
  *    and stays out of the rewrite.
  *  - MERGE for every other src probing a cell an add landed in: its
  *    base top-k still bounds every surviving old candidate, so only
  *    the adds can enter. An add enters iff the pool is short or its
  *    (distance, nbr_id) beats the src's rank-k row under the cut's
  *    lexicographic order — base rows and add-candidates of a merge src
  *    have disjoint neighbours, so this test is exact, and only the
  *    srcs it passes are re-cut.
  *  - DROP for removed srcs.
  *
  * Result ≡ `knnGraph` on the new corpus, row for row (spec- and
  * oracle-gated): refresh is a cost optimization, never a semantics
  * change. `adds` carries (id, vector) rows entering the corpus —
  * including CHANGED vectors (an id may also appear in `removes`;
  * re-insert ≡ change). `removes` carries ids leaving; unknown ids are
  * no-ops. Duplicate ids within one side are one mutation.
  *
  * Returns None when the delta demands a full rebuild, which the caller
  * runs: the delta touches centroid membership (centroids are the
  * nCentroids lowest ids, so a delta on a centroid id or a NEW id below
  * the highest one moves every cell boundary), or the delta exceeds 10%
  * of the corpus (the merge machinery would outweigh the build it
  * saves, and the driver-side id sets their bound).
  *
  * Driver memory: the delta's ids, the suspects and the changed srcs
  * are collected once and re-broadcast as local relations (a broadcast
  * of a distributed frame costs one job per consuming action). The id
  * collect stops at n/10 + 1 rows, so a delta the gate rejects never
  * lands on the driver. The merge srcs stay distributed — their number
  * grows with the corpus density around the adds' cells, not with the
  * delta — and a store that needs their bucket list derives it from a
  * bucket-level aggregate.
  *
  * Grounding: the incremental top-k reuse of *Incremental Based
  * Framework for Efficient Top-K Similarity Search in Interactive Data
  * Analysis Sessions* (EDBT 2020) — a prior top-k answer bounds the new
  * one, so only candidates that can beat its k-th entry are evaluated.
  */
object KnnGraphRefresh {

  /** Where the refresh reads the prior state and writes the next one.
    * Every read returns the rows of the PRIOR generation.
    */
  private[operators] trait Store[R] {
    def k: Int
    def nCentroids: Int
    def nProbe: Int
    /** Corpus size: the 10% gate's denominator. */
    def n: Long
    /** (cent_id, ncv): the build's centroids, ≤ nCentroids rows. */
    def centroids: DataFrame
    /** (src_id, src_v, cells) of the listed srcs that exist. */
    def ranked(ids: Seq[Long]): DataFrame
    /** Distinct src_id of srcs whose top-k holds a listed id; a store
      * may return stale extras (the refresh validates them against
      * [[ranked]] and its exact change test). */
    def holders(nbrs: Seq[Long]): DataFrame
    /** (cent_id, vec_id, nv): the members assigned to the listed cells. */
    def members(cells: Seq[Long]): DataFrame
    /** (cent_id, src_id, src_v): the srcs probing the listed cells. */
    def probers(cells: Seq[Long]): DataFrame
    /** (src_id, nbr_id, distance, rank) of the listed srcs. */
    def edges(srcs: Seq[Long]): DataFrame
    /** (src_id, distance, nbr_id): the rank-k rows, covering at least
      * the srcs of the distributed `srcs` frame. */
    def kth(srcs: DataFrame): DataFrame
    /** The result of an empty delta. */
    def unchanged: R
    def commit(d: Delta): R
  }

  /** What one generation changes, handed to [[Store.commit]]. The id
    * lists are sorted and distinct; `rewritten` (srcs given new edge
    * rows) and `removedIds` are disjoint.
    */
  private[operators] final case class Delta(
      addIds: Seq[Long],
      removeIds: Seq[Long],
      removedIds: Seq[Long],
      oldCells: Map[Long, Seq[Long]],
      newCells: Map[Long, Seq[Long]],
      rewritten: Seq[Long],
      deltaRanked: DataFrame,
      newEdges: DataFrame,
      suspects: Long,
      liveSuspects: Long,
      changedSuspects: Long) {
    /** Ids whose ranked row is replaced (adds) or dropped (removed). */
    def rankedIds: Seq[Long] = (addIds ++ removedIds).sorted
    /** Srcs whose edge rows are replaced or dropped. */
    def edgeIds: Seq[Long] = (rewritten ++ removedIds).sorted
    /** (cent_id, nbr_id, nbr_v): each add's assignment. */
    def addAssigned: DataFrame = assignment(deltaRanked)
  }

  private[operators] def localIds(
      spark: SparkSession, ids: Seq[Long], name: String): DataFrame = {
    import spark.implicits._
    ids.toDF(name)
  }

  private[operators] def assignment(ranked: DataFrame): DataFrame =
    ranked.select(
      element_at(col("cells.vec_id"), 1).as("cent_id"),
      col("src_id").as("nbr_id"), col("src_v").as("nbr_v"))

  private def held(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE ||
      org.apache.spark.sql.graftbridge.Bridge.checkpointRdd(df)
        .exists(_.getStorageLevel != StorageLevel.NONE)

  /** Persist + CacheTracker-register + CUT LINEAGE. The refresh
    * derives ~8 layers of frames from each other, and every downstream
    * plan would otherwise embed the full upstream tree — compact as a
    * DAG, multiplicative in every tree walk (the streaming wrapper
    * OOM'd an 8 GB driver printing one batch plan). The cut plans the
    * frame, so adaptive execution may already run its shuffle stages;
    * its final stage runs on first use. A frame the caller already
    * holds cached or checkpointed is only cut, not persisted a second
    * time.
    */
  private[operators] def pin(df: DataFrame): DataFrame = {
    if (!held(df)) graft.CacheTracker.register(df.persist())
    org.apache.spark.sql.graftbridge.Bridge.cutLineage(df)
  }

  /** One delta generation through `store`; None = rebuild (see the
    * object doc). `broadcastProbeBytesCap` bounds the full recompute's
    * broadcast probe side (|recomputed srcs|·nProbe vector rows); above
    * it the candidate join shuffles instead, with identical results.
    */
  private[operators] def run[R](
      store: Store[R],
      adds: DataFrame,
      removes: DataFrame,
      idCol: String,
      vecCol: String,
      broadcastProbeBytesCap: Long): Option[R] = {
    val spark = adds.sparkSession
    def ids(xs: Seq[Long], name: String) = localIds(spark, xs, name)

    // ---- the delta's ids: ONE tagged collect, bounded by the gate —
    // (nAdds + nRems)·10 > n holds exactly when the union reaches
    // ⌊n/10⌋ + 1 rows, so the limit truncates only a rejected delta
    val gateRows = math.min(store.n / 10 + 1, Int.MaxValue.toLong).toInt
    val arRows = adds.select(col(idCol).cast("long").as("id")).distinct()
      .select(lit("a").as("__t"), col("id"))
      .unionAll(removes.select(col(idCol).cast("long").as("id")).distinct()
        .select(lit("r").as("__t"), col("id")))
      .limit(gateRows)
      .collect()
    val addIdsA = arRows.filter(_.getString(0) == "a").map(_.getLong(1)).sorted
    val remIdsA = arRows.filter(_.getString(0) == "r").map(_.getLong(1)).sorted
    val addSet = addIdsA.toSet
    val (nAdds, nRems) = (addIdsA.length.toLong, remIdsA.length.toLong)
    if (nAdds + nRems == 0) return Some(store.unchanged)
    if ((nAdds + nRems) * 10L > store.n) return None
    val deltaAllA = (addSet ++ remIdsA).toArray.sorted.toSeq

    // ---- classification: one collect of the centroids (≤ nCentroids
    // rows, re-served below as a local relation) and one of the delta
    // ids' old probed cells; everything after is driver arithmetic
    val centsDf = store.centroids
    val centRows = centsDf.collect()
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centsDf.schema)
    val centIds = centRows.map(_.getLong(0)).toSet
    val dim = centRows.headOption.map(_.getSeq[Double](1).length).getOrElse(0)
    val oldCells: Map[Long, Seq[Long]] = store.ranked(deltaAllA)
      .select(col("src_id"), col("cells.vec_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // centroid stability: every existing corpus id below max(centIds)
    // IS a centroid, so a delta on existing ids moves membership iff it
    // touches a centroid id; a NEW id moves it iff it lands below the
    // highest centroid id, or the corpus has fewer rows than centroids
    val maxCent = if (centIds.isEmpty) Long.MinValue else centIds.max
    if (deltaAllA.exists(centIds) || addIdsA.exists(id => !oldCells.contains(id) &&
        (id < maxCent || centIds.size < store.nCentroids))) return None
    val removedA = remIdsA.filter(id => oldCells.contains(id) && !addSet(id))
    if (addIdsA.isEmpty && removedA.isEmpty) return Some(store.unchanged)
    // removed or changed: every existing delta id
    val rocA = oldCells.keys.toSeq.sorted

    // deltaRanked stays DISTRIBUTED (it carries the add vectors); one
    // collect populates it and returns the adds' probed cells
    val deltaRanked = pin(Ivf.knnRanked(
      Ivf.knnNormed(adds, idCol, vecCol), cents, store.nProbe, idCol))
    val newCells: Map[Long, Seq[Long]] = deltaRanked
      .select(col("src_id"), col("cells.vec_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val addAssigned = assignment(deltaRanked)
    val addCellsA = newCells.values.map(_.head).toSeq.distinct.sorted

    // ---- suspects: srcs whose top-k holds a removed/changed id,
    // validated against the live ranked rows. fullOld stays distributed
    // (it carries the suspects' vectors). A pure-add delta has none,
    // and skips the suspect jobs
    val suspectsA = if (rocA.isEmpty) Seq.empty[Long] else store.holders(rocA)
      .join(broadcast(ids(deltaAllA, "src_id")), Seq("src_id"), "left_anti")
      .collect().map(_.getLong(0)).sorted.toSeq
    val fullOld = pin(store.ranked(suspectsA)
      .select(col("src_id"), col("src_v"), col("cells")))
    val foRows = if (suspectsA.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else fullOld.select(col("src_id"), col("cells.vec_id")).collect()
    val fullOldIdsA = foRows.map(_.getLong(0)).sorted.toSeq

    // ---- full recompute: suspects + adds, candidates from the probed
    // cells only (old members minus removed/changed ids, plus the adds)
    val probeRanked = fullOld.unionByName(
      deltaRanked.select(col("src_id"), col("src_v"), col("cells")))
    val probeCellsA = (foRows.flatMap(_.getSeq[Long](1)) ++
      newCells.values.flatten).distinct.sorted.toSeq
    val probeCellsL = ids(probeCellsA, "cent_id")
    val candidates = store.members(probeCellsA)
      .join(broadcast(ids(rocA, "vec_id")), Seq("vec_id"), "left_anti")
      .select(col("cent_id"), col("vec_id").as("nbr_id"), col("nv").as("nbr_v"))
      .unionByName(addAssigned.join(broadcast(probeCellsL), Seq("cent_id"), "left_semi"))
    val estProbeBytes = (fullOldIdsA.length + nAdds) * store.nProbe.toLong *
      (dim.toLong * 8L + 48L)
    val recomputed = Ivf.knnEdgesFromAssigned(
      probeRanked, candidates, store.k,
      broadcastProbes = estProbeBytes <= broadcastProbeBytesCap)
    // exact change test for the suspects: a recompute that reproduced
    // the base rows is the identity — keep it out of the rewrite. The
    // test scans the one expensive frame (candidate join + top-k) twice,
    // so it is pinned and materialized ALONE first; without suspects it
    // has one consumer and stays a plan
    val fullEdges = if (fullOldIdsA.isEmpty) recomputed else pin(recomputed)
    val changedFullA = if (fullOldIdsA.isEmpty) Seq.empty[Long] else {
      fullEdges.count()
      val baseFullRows = store.edges(fullOldIdsA)
      val newFullRows = fullEdges
        .join(broadcast(ids(fullOldIdsA, "src_id")), Seq("src_id"), "left_semi")
      newFullRows.exceptAll(baseFullRows)
        .unionByName(baseFullRows.exceptAll(newFullRows))
        .select(col("src_id")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
    }

    // ---- merge: srcs probing the adds' cells, minus the delta and the
    // suspects. addPairs (merge src × add distance rows) and its srcs
    // stay distributed
    val addPairs = pin(store.probers(addCellsA)
      .join(broadcast(ids((deltaAllA ++ suspectsA).distinct.sorted, "src_id")),
        Seq("src_id"), "left_anti")
      .join(broadcast(addAssigned), Seq("cent_id"))
      .where(col("nbr_id") =!= col("src_id"))
      .select(col("src_id"), col("nbr_id"),
        VectorFunctions.roundDist(
          lit(1.0) - VectorFunctions.dot(col("src_v"), col("nbr_v")))
          .as("distance")))
    val baseKth = store.kth(addPairs.select(col("src_id")))
      .select(col("src_id"), struct(col("distance"), col("nbr_id")).as("kth"))
    val changedMergeA = addPairs
      .join(baseKth, Seq("src_id"), "left")
      .where(col("kth").isNull ||
        struct(col("distance"), col("nbr_id")) < col("kth"))
      .select(col("src_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    // re-cut ONLY the merge srcs an add actually enters
    val changedMergeL = ids(changedMergeA, "src_id")
    val mergedNew = store.edges(changedMergeA)
      .select(col("src_id"), col("nbr_id"), col("distance"))
      .unionByName(addPairs.join(broadcast(changedMergeL), Seq("src_id"), "left_semi"))
      .groupBy(col("src_id"))
      .agg(VectorFunctions.topK(col("distance"), col("nbr_id"), store.k).as("topk"))
      .select(col("src_id"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(col("src_id"), col("r.vec_id").as("nbr_id"),
        col("r.distance").as("distance"),
        (col("pos") + 1).cast("long").as("rank"))

    // changedFull (⊆ suspects), the adds and changedMerge (anti-joined
    // against both) are pairwise disjoint, so their union is distinct.
    // One job pins the new edge rows before the store's writes fan out
    val newEdges = pin(fullEdges
      .join(broadcast(ids((changedFullA ++ addIdsA).sorted, "src_id")),
        Seq("src_id"), "left_semi")
      .unionByName(mergedNew))
    newEdges.count()
    Some(store.commit(Delta(
      addIds = addIdsA.toSeq, removeIds = remIdsA.toSeq, removedIds = removedA.toSeq,
      oldCells = oldCells, newCells = newCells,
      rewritten = (changedFullA ++ addIdsA ++ changedMergeA).sorted,
      deltaRanked = deltaRanked, newEdges = newEdges,
      suspects = suspectsA.length.toLong,
      liveSuspects = fullOldIdsA.length.toLong,
      changedSuspects = changedFullA.length.toLong)))
  }

  /** The in-memory store over a [[Ivf.KnnGraphState]]: every view is a
    * filter of the two base frames, and the commit returns the next
    * state plus every src whose ranked or edge rows may differ (a
    * delta-sized superset; see [[Ivf.KnnGraphRefreshResult]]). Each
    * base frame is read several times, so a frame the caller does not
    * hold cached or checkpointed is pinned for the refresh.
    */
  private[operators] final class FrameStore(
      base: Ivf.KnnGraphState, val k: Int, val nCentroids: Int, val nProbe: Int)
      extends Store[Ivf.KnnGraphRefreshResult] {
    private val spark = base.ranked.sparkSession
    private lazy val ranked0 = pin(base.ranked)
    private lazy val edges0 = pin(base.edges)
    private def semi(df: DataFrame, xs: Seq[Long], name: String) =
      df.join(broadcast(localIds(spark, xs, name)), Seq(name), "left_semi")

    lazy val n: Long = ranked0.count()
    def centroids: DataFrame = ranked0.orderBy(col("src_id")).limit(nCentroids)
      .select(col("src_id").as("cent_id"), col("src_v").as("ncv"))
    def ranked(ids: Seq[Long]): DataFrame = semi(ranked0, ids, "src_id")
    def holders(nbrs: Seq[Long]): DataFrame =
      semi(edges0, nbrs, "nbr_id").select(col("src_id")).distinct()
    def members(cells: Seq[Long]): DataFrame = semi(ranked0.select(
      element_at(col("cells.vec_id"), 1).as("cent_id"),
      col("src_id").as("vec_id"), col("src_v").as("nv")), cells, "cent_id")
    def probers(cells: Seq[Long]): DataFrame = semi(ranked0.select(
      explode(col("cells.vec_id")).as("cent_id"), col("src_id"), col("src_v")),
      cells, "cent_id")
    def edges(srcs: Seq[Long]): DataFrame = semi(edges0, srcs, "src_id")
      .select(col("src_id"), col("nbr_id"), col("distance"), col("rank"))
    def kth(srcs: DataFrame): DataFrame = edges0.where(col("rank") === k)
      .select(col("src_id"), col("distance"), col("nbr_id"))
    def unchanged: Ivf.KnnGraphRefreshResult =
      Ivf.KnnGraphRefreshResult(base, Seq.empty)
    def commit(d: Delta): Ivf.KnnGraphRefreshResult = {
      def keep(df: DataFrame, xs: Seq[Long]) = df.join(
        broadcast(localIds(spark, xs, "src_id")), Seq("src_id"), "left_anti")
      Ivf.KnnGraphRefreshResult(
        Ivf.KnnGraphState(
          keep(ranked0, d.rankedIds).unionByName(d.deltaRanked),
          keep(edges0, d.edgeIds).unionByName(d.newEdges)),
        (d.rankedIds ++ d.edgeIds).distinct.sorted)
    }
  }
}
