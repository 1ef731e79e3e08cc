package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest neighbor — the scale path for
  * similarity search, complementary to HNSW (SURVEY §2.5 extension table):
  * partition the corpus into cells around centroids, probe only the
  * `nProbe` cells nearest the query.
  *
  * DETERMINISTIC VARIANT: centroids are the vectors of the `nCentroids`
  * lowest ids (no k-means iterations, no RNG), and every ordering
  * tie-breaks on id — so the full algorithm is reproducible in DuckDB SQL
  * and the query is oracle-checkable even though it is "approximate" in
  * the ANN sense (it can miss neighbors outside probed cells, but both
  * engines miss identically).
  *
  * Scale shape: one broadcast of the centroid set (small), a map-side-
  * combined argmin aggregate for assignment (the shuffle carries one row
  * per vector, not the pair frame), then cell-pruned distance evaluation —
  * at 100 TB the assignment is written once as a partitioned layout
  * (writeLayout) and the probe touches nProbe/nCentroids of the data.
  */
object Ivf {

  /** The deterministic centroid frame: (cent_id, cv) = the `nCentroids`
    * lowest-id vectors. Single source of truth for assignment, the
    * in-memory probe, and the persisted layout — they cannot drift.
    */
  def centroids(
      emb: DataFrame,
      nCentroids: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    emb
      .orderBy(col(idCol))
      .limit(nCentroids)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cv"))

  /** The nProbe cells nearest the query: (cent_id, qd), deterministic
    * tie-break on cent_id. Shared by `knn` and `knnFromLayout` so the
    * layout probe selects exactly the cells the in-memory operator would.
    */
  private def probedCells(
      cents: DataFrame,
      query: DataFrame,
      nProbe: Int,
      metric: (Column, Column) => Column): DataFrame =
    cents
      .crossJoin(broadcast(query))
      .select(col("cent_id"),
        VectorFunctions.roundDist(metric(col("cv"), col("qv"))).as("qd"))
      .orderBy(col("qd"), col("cent_id"))
      .limit(nProbe)

  /** Cell assignment: each vector → its nearest centroid (ties by centroid
    * id). Output: (vec_id, embedding, cent_id).
    */
  def assign(
      emb: DataFrame,
      nCentroids: Int,
      metric: (Column, Column) => Column,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = centroids(emb, nCentroids, idCol, vecCol)
    // Argmin as a struct-min AGGREGATE, not a ranking window: struct
    // comparison is lexicographic (cd, then cent_id for the tie, then the
    // carried vector — never reached since (cd, cent_id) is unique per
    // group), and min() combines MAP-SIDE, so the shuffle carries one row
    // per vector instead of the full n × nCentroids pair frame a
    // row_number window would shuffle.
    emb
      .crossJoin(broadcast(cents))
      .select(
        col(idCol), col("cent_id"),
        VectorFunctions.roundDist(metric(col(vecCol), col("cv"))).as("cd"),
        col(vecCol).as("v"))
      .groupBy(col(idCol))
      .agg(min(struct(col("cd"), col("cent_id"), col("v"))).as("m"))
      .select(col(idCol), col("m.v").as(vecCol), col("m.cent_id").as("cent_id"))
  }

  /** Materialize the IVF index as a PARTITIONED PARQUET LAYOUT: the
    * assignment written with `partitionBy(cent_id)` plus the centroid
    * set as a small side table. At 100 TB the index IS the table
    * layout — a probe then reads ONLY the probed cells' directories
    * (`PartitionFilters: [cent_id IN (...)]` in the scan, verified in
    * IvfLayoutSpec), i.e. nProbe/nCentroids of the data, with zero
    * index structure to keep in memory anywhere.
    */
  def writeLayout(
      emb: DataFrame,
      nCentroids: Int,
      metric: (Column, Column) => Column,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    centroids(emb, nCentroids, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$path/centroids")
    assign(emb, nCentroids, metric, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/cells")
  }

  /** Probe the partitioned layout: nearest nProbe centroids from the
    * (tiny) centroid table pick the cell directories; the cell scan's
    * partition filter prunes everything else at the FILE level before
    * any row is read. Same results as the in-memory `knn` (spec-gated).
    */
  def knnFromLayout(
      spark: SparkSession,
      path: String,
      query: DataFrame,
      k: Int,
      nProbe: Int,
      metric: (Column, Column) => Column,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val probedIds = probedCells(cents, query, nProbe, metric)
      .collect()
      .map(_.getLong(0))
    spark.read.parquet(s"$path/cells")
      .where(col("cent_id").isin(probedIds.toSeq: _*)) // → partition pruning
      .crossJoin(broadcast(query))
      .select(col(idCol), VectorFunctions.roundDist(metric(col(vecCol), col("qv"))).as("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }

  /** k-NN GRAPH construction (cosine): every vector's top-k nearest
    * neighbors, with candidate generation through the IVF cells — the
    * embedding-pipeline primitive behind graph clustering, connected-
    * component dedup, and graph-ANN index builds.
    *
    * COSINE-ONLY, BY DESIGN: vectors are L2-normalized ONCE up front so
    * every distance afterwards is `1 − dot` — ONE array pass per candidate
    * pair instead of the three the full cosine formula costs (two norms +
    * a dot). The same trick `Dedup.embeddingNearDup` measured 3× cheaper
    * on its pair hot path. Zero vectors pass through normalization
    * unchanged, so `1 − 0 = 1.0` preserves the reference's zero-norm
    * cosine semantics (core/hnsw/graph.py:33-34).
    *
    * Scale shape (never corpus × corpus): each vector probes its nProbe
    * nearest cells (bounded TopKByDistance aggregate, map-side combined);
    * candidates come from an equi-join keyed on **(cent_id, salt)** — the
    * probe side salts deterministically on src_id and the assignment side
    * is exploded over all `saltFactor` salts, so the shuffle key space is
    * nCentroids × saltFactor instead of nCentroids alone (an unsalted
    * join caps parallelism at nCentroids tasks and lets one hot cell
    * absorb its whole square). Salting never changes results: every
    * (probe, candidate) pair still meets exactly once, at the probe's own
    * salt. The final per-vector top-k is again the bounded aggregate, so
    * shuffles carry cells and k-row results, not the pair frame.
    *
    * Operating contract at scale: choose nCentroids = O(√N) so each cell
    * holds O(√N) vectors and the per-cell candidate square is O(N) total;
    * saltFactor then spreads each cell square over saltFactor tasks. The
    * fixture query keeps nCentroids=16 for oracle checkability.
    *
    * Deterministic (deterministic centroids, rounded distances, id
    * tie-breaks) → oracle-checked end to end despite being an ANN
    * construction. Self-pairs are excluded. Output:
    * (src_id, nbr_id, distance, rank), rank 1..k ascending.
    */
  def knnGraph(
      emb: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      saltFactor: Int = 8): DataFrame =
    knnGraphBuild(emb, k, nCentroids, nProbe, idCol, vecCol, saltFactor).edges

  /** The build's two artifacts: `ranked` (src_id, src_v, cells — each
    * vector's normalized form + its nProbe nearest cells, element 1 =
    * its assignment) and `edges` (the [[knnGraph]] output). Holding
    * `ranked` is what makes [[knnGraphRefresh]] incremental: the
    * per-vector probe/assignment state is exactly what a delta must
    * consult to find which edge lists it can touch.
    */
  case class KnnGraphState(ranked: DataFrame, edges: DataFrame)

  /** [[knnGraphRefresh]]'s result: the refreshed state plus the srcs
    * whose ranked or edge rows MAY differ from the base state (a
    * delta-sized superset — every actually-changed src is in it, and a
    * listed src is a delta id, a src whose rows were recomputed, or a
    * merge src an add entered). A storage-backed caller uses it to
    * rewrite only the state buckets the generation touched.
    */
  final case class KnnGraphRefreshResult(
      state: KnnGraphState, changedSrcs: Seq[Long])

  private[operators] def knnNormed(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(
      col(idCol).cast("long").as(idCol),
      VectorFunctions.l2Normalize(col(vecCol)).as("nv"))

  private[operators] def knnCents(normed: DataFrame, idCol: String, nCentroids: Int): DataFrame =
    normed
      .orderBy(col(idCol))
      .limit(nCentroids)
      .select(col(idCol).as("cent_id"), col("nv").as("ncv"))

  // ONE corpus × centroids pass feeds BOTH sides: each vector's ranked
  // nearest cells (bounded TopKByDistance, map-side combined) give its
  // probe set AND — element 0, the same (qd, cent_id) ordering as
  // assign()'s struct-min — its cell assignment. The normalized source
  // vector rides along so candidates need no join back.
  private[operators] def knnRanked(
      normed: DataFrame, cents: DataFrame, nProbe: Int, idCol: String): DataFrame =
    normed
      .crossJoin(broadcast(cents))
      .select(
        col(idCol).as("src_id"), col("nv").as("src_v"),
        col("cent_id"),
        VectorFunctions.roundDist(
          lit(1.0) - VectorFunctions.dot(col("nv"), col("ncv"))).as("qd"))
      .groupBy(col("src_id"))
      .agg(
        first(col("src_v")).as("src_v"),
        VectorFunctions.topK(col("qd"), col("cent_id"), nProbe).as("cells"))

  // the candidate equi-join + per-src bounded top-k; probe side =
  // the srcs whose edge lists are being (re)computed, assign side =
  // the WHOLE corpus's cell assignments (candidates can come from
  // anywhere the probe set reaches)
  private def knnEdges(
      probeRanked: DataFrame, assignRanked: DataFrame,
      k: Int, saltFactor: Int): DataFrame = {
    val probes = probeRanked.select(col("src_id"), col("src_v"),
      explode(col("cells.vec_id")).as("cent_id"))
      .withColumn("__salt", pmod(hash(col("src_id")), lit(saltFactor)))
    val assigned = assignRanked.select(
      element_at(col("cells.vec_id"), 1).as("cent_id"),
      col("src_id").as("nbr_id"), col("src_v").as("nbr_v"))
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    probes
      .join(assigned, Seq("cent_id", "__salt"))
      .where(col("nbr_id") =!= col("src_id"))
      .select(
        col("src_id"), col("nbr_id"),
        VectorFunctions.roundDist(
          lit(1.0) - VectorFunctions.dot(col("src_v"), col("nbr_v"))).as("d"))
      .groupBy(col("src_id"))
      .agg(VectorFunctions.topK(col("d"), col("nbr_id"), k).as("topk"))
      .select(col("src_id"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(
        col("src_id"),
        col("r.vec_id").as("nbr_id"),
        col("r.distance").as("distance"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  // the refresh's candidate join: the srcs being recomputed (~k·|delta|)
  // are the broadcast PROBE side, and the ASSIGNED side is the cell
  // members the store hands over (only the probed cells' members — the
  // result is identical because candidates outside the probed cells
  // cannot join), so the join is map-side over the members scan and
  // needs no salt. broadcastProbes=false takes a plain equi-join for
  // probe sets past the broadcast cap (AQE handles skew)
  private[operators] def knnEdgesFromAssigned(
      probeRanked: DataFrame, assigned: DataFrame, k: Int,
      broadcastProbes: Boolean = true): DataFrame = {
    val probes = probeRanked.select(col("src_id"), col("src_v"),
      explode(col("cells.vec_id")).as("cent_id"))
    assigned
      .join(if (broadcastProbes) broadcast(probes) else probes,
        Seq("cent_id"))
      .where(col("nbr_id") =!= col("src_id"))
      .select(
        col("src_id"), col("nbr_id"),
        VectorFunctions.roundDist(
          lit(1.0) - VectorFunctions.dot(col("src_v"), col("nbr_v"))).as("d"))
      .groupBy(col("src_id"))
      .agg(VectorFunctions.topK(col("d"), col("nbr_id"), k).as("topk"))
      .select(col("src_id"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(
        col("src_id"),
        col("r.vec_id").as("nbr_id"),
        col("r.distance").as("distance"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** [[knnGraph]] returning BOTH artifacts (the ranked frame is
    * filled) so callers can hand them to
    * [[knnGraphRefresh]] instead of rebuilding on every corpus delta.
    */
  def knnGraphBuild(
      emb: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      saltFactor: Int = 8): KnnGraphState = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    require(k >= 1 && nCentroids >= 1 && nProbe >= 1,
      "k, nCentroids and nProbe must be >= 1")
    val normed = knnNormed(emb, idCol, vecCol)
    val ranked = knnRanked(normed, knnCents(normed, idCol, nCentroids),
      nProbe, idCol)
    // populate before knnEdges scans ranked from BOTH join sides: two
    // concurrent first-scans of the unpopulated cache each recompute
    // the corpus x centroids ranking pass (the self-join wave lesson)
    graft.CacheTracker.fill(ranked)
    KnnGraphState(ranked, knnEdges(ranked, ranked, k, saltFactor))
  }

  /** INCREMENTAL kNN-graph refresh of an in-memory [[KnnGraphState]]
    * — the `refreshResident` discipline applied to the graph artifact.
    * Runs [[KnnGraphRefresh]] (the one refresh algorithm, shared with
    * the bucketed [[KnnGraphTables]]) over a frame store: `adds` are
    * (idCol, vecCol) rows entering the corpus, changed vectors included
    * (an add of an existing id replaces it); `removes` are the idCol
    * values leaving. Result ≡ `knnGraph` on the new corpus, row for
    * row. None means the delta demands a rebuild — it touches centroid
    * membership or exceeds 10% of the corpus — which the caller runs
    * with [[knnGraphBuild]] on the new corpus. An empty delta returns
    * the base state itself.
    *
    * Scale shape: the delta's ranked pass runs over |delta| rows; the
    * full recompute probes ~k·|delta| srcs against only their probed
    * cells' members; the merge pass joins the srcs probing the adds'
    * cells with the |delta|-row add assignments and re-cuts only the
    * srcs an add enters. Over frames the reverse-neighbour and rank-k
    * lookups still scan the n·k base edge rows once each — the read
    * floor the table store removes.
    */
  def knnGraphRefresh(
      base: KnnGraphState,
      adds: DataFrame,
      removes: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      broadcastProbeBytesCap: Long = 64L << 20): Option[KnnGraphRefreshResult] = {
    require(k >= 1 && nCentroids >= 1 && nProbe >= 1,
      "k, nCentroids and nProbe must be >= 1")
    KnnGraphRefresh.run(
      new KnnGraphRefresh.FrameStore(base, k, nCentroids, nProbe),
      adds, removes, idCol, vecCol, broadcastProbeBytesCap)
  }

  /** ANN-graph diagnostics over [[knnGraph]] — the standard health checks
    * of a k-NN graph build: RECIPROCITY (the mutual-edge rate; mutual-kNN
    * subgraphs are what graph clustering and diversity-aware ANN serving
    * consume, and a collapsing reciprocity flags a bad quantizer or too
    * few probes) and the in-degree extreme (a hub vertex with runaway
    * in-degree flags a density pathology the graph's search quality
    * suffers from). One row: n_nodes, n_edges, n_mutual, reciprocity,
    * max_in_degree.
    *
    * Scale shape: the edge list (≈ n·k rows, the only large frame) is
    * computed once and persisted; the mutual count is an equi-join of the
    * edge list against its own reversal on (src, nbr) — shuffle keyed on
    * the pair, never a cross product; in-degree is one map-side-combined
    * groupBy. The three single-row aggregates cross-join at the end
    * (1×1×1). Deterministic, integer-exact except the one rounded ratio —
    * oracle-checked by wrapping the knn_graph SQL as a CTE.
    */
  def knnGraphStats(
      emb: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int): DataFrame = {
    val edges = knnGraph(emb, k, nCentroids, nProbe)
      .select(col("src_id"), col("nbr_id"))
    graft.CacheTracker.pin(edges)
    knnGraphStatsFromEdges(edges)
  }

  /** [[knnGraphStats]] over an ALREADY-BUILT (ideally persisted) edge
    * list — the build-once/diagnose-many face callers with a shared
    * graph use so the candidate generation never re-runs.
    */
  def knnGraphStatsFromEdges(edgeList: DataFrame): DataFrame = {
    val edges = edgeList.select(col("src_id"), col("nbr_id"))
    val base = edges.agg(
      countDistinct(col("src_id")).as("n_nodes"),
      count(lit(1)).as("n_edges"))
    val mutual = edges.as("a")
      .join(edges.as("b"),
        col("a.src_id") === col("b.nbr_id") &&
          col("a.nbr_id") === col("b.src_id"),
        "left_semi")
      .agg(count(lit(1)).as("n_mutual"))
    val indeg = edges
      .groupBy(col("nbr_id")).agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("max_in_degree"))
    base.crossJoin(mutual).crossJoin(indeg)
      .select(
        col("n_nodes"), col("n_edges"), col("n_mutual"),
        (round(col("n_mutual").cast("double") / col("n_edges"), 6) + 0.0)
          .as("reciprocity"),
        col("max_in_degree"))
  }

  /** IVF top-k for a single query frame (column qv): probe the nProbe
    * nearest cells, exact distances within them.
    */
  def knn(
      emb: DataFrame,
      query: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      metric: (Column, Column) => Column,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probed = probedCells(
      centroids(emb, nCentroids, idCol, vecCol), query, nProbe, metric)
    assign(emb, nCentroids, metric, idCol, vecCol)
      .join(broadcast(probed), Seq("cent_id"))
      .crossJoin(broadcast(query))
      .select(col(idCol), VectorFunctions.roundDist(metric(col(vecCol), col("qv"))).as("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }
}
