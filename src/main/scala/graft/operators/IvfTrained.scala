package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF with TRAINED centroids — the production-quality variant of Ivf:
  * centroids come from MLlib k-means (seeded, so builds are reproducible
  * run-to-run) instead of the lowest-id vectors. Trained cells are
  * balanced around the data's actual modes, so recall at the same nProbe
  * is higher than the deterministic variant's — the trade is that k-means
  * involves RNG + iteration order, which no cross-engine oracle can
  * reproduce; quality is therefore spec-gated (recall vs exact), the same
  * contract as HNSW (SURVEY §4.2 determinism rule).
  *
  * Scale shape: k-means training samples/aggregates per-partition
  * (MLlib's distributed Lloyd iterations), the centroid set broadcasts,
  * assignment is one narrow pass, and the probe reads nProbe/nCentroids
  * of the corpus. At 100 TB the assignment would be written once as a
  * table bucketed by cell (sources.Storage.writeBucketed) and probes
  * become pruned scans.
  */
object IvfTrained {

  /** `spherical = true` means the cells were trained on l2-normalized
    * vectors (spherical k-means): euclidean distance on the unit sphere is
    * monotone in cosine distance, so cell geometry matches cosine queries.
    * Use spherical cells for cosine/dot metrics, raw cells for euclidean.
    */
  final case class Model(
      centroids: Array[(Int, Array[Double])],
      spherical: Boolean)

  /** Train `nCentroids` k-means centroids (MLlib, seeded) over the
    * embedding column. Returns the centroid table for broadcast joins.
    */
  def train(
      emb: DataFrame,
      nCentroids: Int,
      spherical: Boolean = false,
      seed: Long = 42L,
      maxIter: Int = 20,
      vecCol: String = "embedding"): Model = {
    val v = col(vecCol).cast("array<double>")
    // ml.functions.array_to_vector is the built-in array→Vector bridge —
    // no Scala UDF at the MLlib boundary
    val feats = emb.select(
      org.apache.spark.ml.functions.array_to_vector(
        if (spherical) VectorFunctions.l2Normalize(v) else v).as("features"))
    val km = new KMeans()
      .setK(nCentroids).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features")
    val model = km.fit(feats)
    Model(model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) },
      spherical)
  }

  /** The vector used for cell geometry (normalized iff the model is
    * spherical); the FINAL ranking metric always sees the raw vector.
    */
  private def cellVec(m: Model, v: Column): Column =
    if (m.spherical) VectorFunctions.l2Normalize(v) else v

  private def centDf(emb: DataFrame, m: Model): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    m.centroids.toSeq.toDF("cent_id", "cv")
  }

  /** Nearest-centroid assignment (ties by cent_id): (id, embedding, cent_id). */
  def assign(
      emb: DataFrame,
      m: Model,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    assignWithDist(emb, m, idCol, vecCol).drop("cd")

  /** [[assign]] keeping `cd`, the CELL-SPACE distance to the owning
    * centroid (euclidean over normalized vectors when the model is
    * spherical) — the per-vector term the exact-search radius bound needs.
    */
  def assignWithDist(
      emb: DataFrame,
      m: Model,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    // Argmin as the bounded graft_topk(k=1) aggregate, not a window: a
    // window partitioned by vec_id shuffles all nCentroids candidate rows
    // per vector, so at a production cell count (thousands of cells over
    // 100 TB) the assignment exchange dominates the whole build. The
    // TypedImperative topK plans as an ObjectHashAggregate with map-side
    // partials — the crossJoin stream is consumed by a per-partition hash
    // map and the exchange carries ONE row per vector, an nCentroids×
    // reduction. (NOT min(struct(...)): declarative struct-min plans as a
    // SortAggregate that sorts the whole N × nCentroids stream — the same
    // trap SemanticDedup.assign documents.) Ties on cd break by cent_id
    // ascending — graft_topk's (distance, id) order, exactly the
    // (cd, cent_id) order the previous window used; first(vecCol) is
    // deterministic because vec_id is unique in the corpus, so every
    // candidate row of a group carries the same vector.
    emb
      .crossJoin(broadcast(centDf(emb, m)))
      .select(
        col(idCol), col(vecCol),
        VectorFunctions.euclidean(cellVec(m, col(vecCol)), col("cv")).as("cd"),
        col("cent_id").cast("long").as("cent_id"))
      .groupBy(col(idCol))
      .agg(
        first(col(vecCol)).as(vecCol),
        VectorFunctions.topK(col("cd"), col("cent_id"), 1).as("c1"))
      .select(
        col(idCol), col(vecCol),
        element_at(col("c1"), 1).getField("vec_id").cast("int").as("cent_id"),
        element_at(col("c1"), 1).getField("distance").as("cd"))

  /** Top-k by `metric` probing the `nProbe` cells nearest the query. */
  def knn(
      emb: DataFrame,
      query: DataFrame, // one row, col "qv"
      m: Model,
      k: Int,
      nProbe: Int,
      metric: (Column, Column) => Column,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probed = centDf(emb, m)
      .crossJoin(broadcast(query))
      .select(col("cent_id"),
        VectorFunctions.euclidean(col("cv"), cellVec(m, col("qv"))).as("qd"))
      .orderBy(col("qd"), col("cent_id"))
      .limit(nProbe)
    assign(emb, m, idCol, vecCol)
      .join(broadcast(probed), Seq("cent_id"))
      .crossJoin(broadcast(query))
      .select(col(idCol),
        VectorFunctions.roundDist(metric(col(vecCol), col("qv"))).as("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }

  /** The cells that can possibly contain a global top-k member, by the
    * triangle inequality in cell space: any vector v in cell c satisfies
    * d_cell(q, v) ≥ qd_c − r_c (qd_c = query-to-centroid distance,
    * r_c = max member-to-centroid distance), so once a kth-best distance
    * τ is known from a seed probe, every cell with qd_c − r_c > τ_cell is
    * provably top-k-free and prunable. For cosine over a SPHERICAL model
    * the bound runs in euclidean-on-the-unit-sphere space, where
    * cos_dist = d²/2 is monotone — τ_cell = sqrt(2τ). A 1e-6 slack
    * absorbs the rounding of the seed τ; slack only ever ADDS cells,
    * never threatening exactness. Two tiny driver actions by
    * construction: the per-cell table (nCentroids rows) and the seed
    * top-k (k rows) — the adaptive-pruning pattern, not a data collect.
    */
  private[graft] def exactCandidateCells(
      assigned: DataFrame,
      query: DataFrame,
      m: Model,
      k: Int,
      nProbeSeed: Int,
      metric: (Column, Column) => Column,
      cosineSpace: Boolean,
      idCol: String,
      vecCol: String): Seq[Int] = {
    val cellStats = assigned
      .groupBy(col("cent_id")).agg(max(col("cd")).as("radius"))
      .join(
        centDf(assigned, m).crossJoin(broadcast(query))
          .select(col("cent_id"),
            VectorFunctions.euclidean(col("cv"), cellVec(m, col("qv"))).as("qd")),
        Seq("cent_id"))
      .collect() // nCentroids rows — tiny by construction
      .map(r => (r.getAs[Int]("cent_id"), r.getAs[Double]("radius"),
        r.getAs[Double]("qd")))
    val seed = cellStats.sortBy { case (id, _, qd) => (qd, id) }
      .take(math.min(nProbeSeed, cellStats.length)).map(_._1).toSeq
    val seedTop = assigned
      .where(col("cent_id").isin(seed: _*))
      .crossJoin(broadcast(query))
      .select(VectorFunctions.roundDist(metric(col(vecCol), col("qv"))).as("d"))
      .orderBy(col("d"))
      .limit(k)
      .collect() // k rows
    val tau =
      if (seedTop.length < k) Double.PositiveInfinity
      else seedTop.last.getAs[Double]("d")
    // τ is the ROUNDED kth-best (round(·,6) can sit 5e-7 under the true
    // distance), so slack goes INSIDE the sqrt for cosine — outside it,
    // d(v) ≤ τ+5e-7 maps to sqrt(2τ+1e-6), which near τ=0 exceeds
    // sqrt(2τ) by far more than any constant epsilon
    val tauCell =
      if (cosineSpace) math.sqrt(2.0 * (tau + 1e-6)) else tau + 1e-6
    cellStats.collect {
      case (id, r, qd) if qd - r <= tauCell + 1e-9 => id
    }.toSeq
  }

  /** EXACT top-k accelerated by the trained quantizer: seed-probe the
    * `nProbeSeed` nearest cells for a kth-best bound τ, prune every cell
    * the radius bound proves top-k-free, and rerank the survivors
    * exactly. The output is the GLOBAL exact top-k by the triangle
    * inequality — independent of model quality (a badly-trained quantizer
    * only prunes less), so a cross-engine oracle can state it as a plain
    * exact k-NN. Supports cosine over a spherical model (the monotone
    * d²/2 mapping; the reference's zero-norm→1.0 convention stays exact
    * because a zero vector's cell is never prunable at τ ≥ 1) and
    * euclidean over a raw model.
    */
  private def resolveSpace(metricName: String, m: Model): Boolean =
    metricName match {
      case "cosine" =>
        require(m.spherical, "cosine exact search needs a spherical model")
        true
      case "euclidean" =>
        require(!m.spherical, "euclidean exact search needs a raw model")
        false
      case other =>
        throw new IllegalArgumentException(s"unsupported metric $other")
    }

  def knnExact(
      emb: DataFrame,
      query: DataFrame,
      m: Model,
      k: Int,
      nProbeSeed: Int = 4,
      metricName: String = "cosine",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cosineSpace = resolveSpace(metricName, m)
    val metric: (Column, Column) => Column =
      if (cosineSpace) VectorFunctions.cosine else VectorFunctions.euclidean
    val assigned = graft.CacheTracker.pin(assignWithDist(emb, m, idCol, vecCol))
    val cells = exactCandidateCells(
      assigned, query, m, k, nProbeSeed, metric, cosineSpace, idCol, vecCol)
    assigned
      .where(col("cent_id").isin(cells: _*))
      .crossJoin(broadcast(query))
      .select(col(idCol),
        VectorFunctions.roundDist(metric(col(vecCol), col("qv"))).as("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }

  /** BATCH form of [[knnExact]] — the serving shape: per-query exact
    * top-k through the trained quantizer with NO driver-side per-query
    * actions. Every phase is a declarative frame:
    *
    *  - query×centroid distances: centroids × broadcast queries
    *    (nQ·nCent rows — dimension-scale);
    *  - seed cells: a window over that tiny frame (nCent rows per
    *    query partition);
    *  - per-query τ: bounded map-side-combining top-k aggregate over
    *    the seed cells' members — the kth element, +∞ when a query saw
    *    fewer than k seed candidates (then nothing is prunable);
    *  - surviving (query, cell) pairs: the same triangle-inequality
    *    radius bound as single-query, evaluated as a filter on the
    *    query×centroid frame;
    *  - final rerank: corpus ⋈ surviving cells (cent_id equi-join fans
    *    each vector out ONLY to the queries still probing its cell) →
    *    bounded top-k per query.
    *
    * Output (query_id, vec_id, distance, rank) = the global exact
    * top-k per query, the [[graft.operators.Knn.knnBatch]] face.
    */
  def knnExactBatch(
      emb: DataFrame,
      queries: DataFrame, // (query_id, qv)
      m: Model,
      k: Int,
      nProbeSeed: Int = 4,
      metricName: String = "cosine",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      preAssigned: Option[DataFrame] = None): DataFrame = {
    val cosineSpace = resolveSpace(metricName, m)
    val metric: (Column, Column) => Column =
      if (cosineSpace) VectorFunctions.cosine else VectorFunctions.euclidean
    // serving keeps the assignment as a long-lived artifact (the same
    // lifecycle as the resident HNSW shards) and passes it in; ad-hoc
    // calls build and cache it for the duration of this query
    val assigned = preAssigned.getOrElse(graft.CacheTracker.pin(
      assignWithDist(emb, m, idCol, vecCol)))
    val radii = assigned.groupBy(col("cent_id")).agg(max(col("cd")).as("radius"))
    // nQ × nCent — dimension-scale, read twice
    val qd = graft.CacheTracker.pin(
      centDf(emb, m).crossJoin(broadcast(queries))
        .select(col("query_id"), col("cent_id"),
          VectorFunctions.euclidean(col("cv"), cellVec(m, col("qv"))).as("qd")))
    val seedW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("qd"), col("cent_id"))
    // seed only from cells that HAVE members (radii's key set): a badly
    // trained quantizer can leave centroids empty, and seeding into them
    // yields < k candidates → τ = +∞ → no pruning at all (the single-
    // query path already seeds from the assigned-cell stats)
    val seedCells = qd
      .join(radii.select(col("cent_id")), Seq("cent_id"))
      .withColumn("rn", row_number().over(seedW))
      .where(col("rn") <= nProbeSeed)
      .select(col("query_id"), col("cent_id"))
    val seedTau = assigned
      .join(broadcast(seedCells), Seq("cent_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"),
        VectorFunctions.roundDist(metric(col(vecCol), col("qv"))).as("distance"),
        col(idCol))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("distance"), col(idCol), k).as("topk"))
      .select(col("query_id"),
        when(size(col("topk")) >= k,
          element_at(col("topk"), k).getField("distance"))
          .otherwise(lit(Double.PositiveInfinity)).as("tau"))
    // same slack discipline as single-query: rounding slack inside the
    // sqrt for cosine, absent queries (no seed candidates at all) get +∞
    val tauCell =
      if (cosineSpace) sqrt(lit(2.0) * (col("tau") + lit(1e-6)))
      else col("tau") + lit(1e-6)
    val finalCells = qd
      .join(radii, Seq("cent_id"))
      .join(broadcast(seedTau), Seq("query_id"), "left_outer")
      .withColumn("tau", coalesce(col("tau"), lit(Double.PositiveInfinity)))
      .where(col("qd") - col("radius") <= tauCell + lit(1e-9))
      .select(col("query_id"), col("cent_id"))
    assigned
      .join(broadcast(finalCells), Seq("cent_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"),
        VectorFunctions.roundDist(metric(col(vecCol), col("qv"))).as("distance"),
        col(idCol))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("distance"), col(idCol), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(
        col("query_id"),
        col("r.vec_id").as(idCol),
        col("r.distance").as("distance"),
        (col("pos") + 1).cast("int").as("rank"))
  }
}
