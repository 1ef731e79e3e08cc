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

  /** [[knnGraphRefreshTracked]]'s result: the refreshed state plus the
    * srcs whose ranked/edge rows MAY differ from the base state (a
    * superset — every actually-changed src is in it; a listed src may
    * be unchanged). `None` means the refresh fell back to a full
    * rebuild, so every src may have changed. A storage-backed caller
    * (the composed online loop's keeper tables) uses it to rewrite
    * only the state buckets the generation touched.
    */
  final case class KnnGraphRefreshResult(
      state: KnnGraphState, changedSrcs: Option[DataFrame])

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

  // the same candidate join with the PROBE side broadcast — the refresh
  // path's shape, where the srcs being recomputed are ~k·|delta| while
  // the assign side is the whole (persisted) corpus: broadcasting the
  // small side makes the join map-side over the assign scan instead of
  // re-shuffling n·saltFactor assignment rows, and no salt is needed
  // because there is no shuffle to skew
  private def knnEdgesBroadcastProbes(
      probeRanked: DataFrame, assignRanked: DataFrame, k: Int): DataFrame =
    knnEdgesFromAssigned(probeRanked, assignRanked.select(
      element_at(col("cells.vec_id"), 1).as("cent_id"),
      col("src_id").as("nbr_id"), col("src_v").as("nbr_v")), k)

  // the broadcast-probes candidate join with the ASSIGNED side passed
  // explicitly — the table-backed refresh hands a bucket-pruned
  // candidate frame (only the probed cells' members) instead of the
  // whole corpus; the result is identical because candidates outside
  // the probed cells cannot join. broadcastProbes=false takes a plain
  // equi-join for probe sets past the broadcast cap (AQE handles skew)
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

  /** [[knnGraph]] returning BOTH artifacts (the ranked frame is cached;
    * CacheTracker-registered) so callers can hand them to
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
    val normed = knnNormed(emb, idCol, vecCol)
    val ranked = knnRanked(normed, knnCents(normed, idCol, nCentroids),
      nProbe, idCol).persist()
    graft.CacheTracker.register(ranked)
    // populate before knnEdges scans ranked from BOTH join sides: two
    // concurrent first-scans of the unpopulated cache each recompute
    // the corpus x centroids ranking pass (the self-join wave lesson)
    ranked.count()
    KnnGraphState(ranked, knnEdges(ranked, ranked, k, saltFactor))
  }

  /** INCREMENTAL kNN-graph refresh — the `refreshResident` discipline
    * applied to the graph artifact (the last full-rebuild artifact in
    * the incremental family: dedup, decontamination, and the serving
    * index already refresh). Given the prior build's [[KnnGraphState]]
    * and the NEW corpus, the refresh splits srcs three ways:
    *
    *  - FULL recompute (the cell candidate join, as in the build) only
    *    for (a) the delta's own added/changed rows — their vector
    *    changed, every distance with it — and (b) srcs whose BASE
    *    top-k contains a removed/changed neighbor: their k-th slot
    *    must be refilled from the full candidate set (the base list
    *    no longer bounds it). That set is ≈ Σ in-degree of the delta
    *    (~k·|delta|), not n.
    *  - MERGE for everyone else: the base top-k remains a valid bound
    *    for every surviving old candidate (anything it beat is still
    *    beaten), so only the delta's ADDED candidates can enter —
    *    union base edge rows with distances to add-candidates in the
    *    src's probed cells (a broadcast of the |delta|-row assignment
    *    frame) and re-cut the bounded top-k.
    *  - DROP for removed srcs.
    *
    * Result ≡ `knnGraph(newEmb, …)` row for row (parity spec-gated) —
    * refresh is a cost optimization, never a semantics change. The
    * delta itself is found with the [[Versioning.snapshotDiff]] shape:
    * a full-outer id join carrying (id, md5-of-NORMALIZED-vector —
    * rescaling a vector never moves its cosine edges and is correctly
    * ignored), never the vectors.
    *
    * Fallbacks to a full rebuild (still parity-exact): the delta
    * perturbs centroid MEMBERSHIP (first nCentroids ids, a bounded
    * driver check — every cell boundary would move), or the delta
    * exceeds 10% of the corpus (the merge machinery would outweigh the
    * build it saves, and the add-assignment broadcast its size bound).
    *
    * Scale shape: the diff join shuffles (id, 16-byte hash); the
    * ranked pass runs over |delta| rows; the merge pass touches
    * n·k base edge rows + n·nProbe·|delta|/nCentroids add pairs
    * (vs the build's n·nProbe·(n/nCentroids) candidate pairs); the
    * full-recompute join's probe side is ~k·|delta| srcs. Cost is
    * ∝ |delta|·(n/nCentroids) work overall — sublinear in n for a
    * bounded delta, and the 500k/5k soak measures the ratio.
    */
  def knnGraphRefresh(
      base: KnnGraphState,
      newEmb: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      saltFactor: Int = 8,
      broadcastProbeBytesCap: Long = 64L << 20): KnnGraphState =
    knnGraphRefreshTracked(base, newEmb, k, nCentroids, nProbe, idCol,
      vecCol, saltFactor, broadcastProbeBytesCap).state

  /** [[knnGraphRefresh]] that also REPORTS which srcs it may have
    * touched (see [[KnnGraphRefreshResult]]). The superset is exact by
    * construction of the refresh's three-way split: ranked rows change
    * only for the delta's ids; edge rows change only for (a) the
    * FULL-recompute srcs, (b) a merge src that actually saw an
    * add-candidate pair (everyone else's top-k re-cut of its own base
    * rows is the identity), and (c) removed srcs, whose rows vanish.
    * The state frames themselves are identical to [[knnGraphRefresh]]'s.
    */
  def knnGraphRefreshTracked(
      base: KnnGraphState,
      newEmb: DataFrame,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      saltFactor: Int = 8,
      broadcastProbeBytesCap: Long = 64L << 20): KnnGraphRefreshResult = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    val normed = knnNormed(newEmb, idCol, vecCol).persist()
    graft.CacheTracker.register(normed)
    // centroid stability: both frames' first-nCentroids (id, vector)
    // lists, driver-compared — bounded at nCentroids rows by definition
    val oldC = base.ranked.orderBy(col("src_id")).limit(nCentroids)
      .select(col("src_id"), col("src_v")).collect()
    val newC = normed.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol), col("nv")).collect()
    val centsStable = oldC.length == newC.length &&
      oldC.zip(newC).forall { case (a, b) =>
        a.getLong(0) == b.getLong(0) &&
          a.getSeq[Double](1) == b.getSeq[Double](1)
      }
    if (!centsStable)
      return KnnGraphRefreshResult(
        knnGraphBuild(newEmb, k, nCentroids, nProbe, idCol, vecCol,
          saltFactor), None)
    // the struct field is ALIASED to a fixed name: to_json embeds field
    // names, so md5(to_json(struct(src_v))) vs …(struct(nv)) would
    // mismatch on EVERY row and silently route refresh to the >10%
    // rebuild fallback (the empty-delta identity spec pins this)
    val fp = (c: Column) => md5(to_json(struct(c.as("v"))))
    val delta = base.ranked
      .select(col("src_id"), fp(col("src_v")).as("fp_old"))
      .join(normed.select(col(idCol).as("src_id"), fp(col("nv")).as("fp_new")),
        Seq("src_id"), "full_outer")
      .where(col("fp_old").isNull || col("fp_new").isNull ||
        col("fp_old") =!= col("fp_new"))
      .select(col("src_id"),
        col("fp_old").isNull.as("is_added"),
        col("fp_new").isNull.as("is_removed"))
      .persist()
    graft.CacheTracker.register(delta)
    val deltaCount = delta.count()
    if (deltaCount == 0)
      return KnnGraphRefreshResult(base, Some(delta.select(col("src_id"))))
    if (deltaCount * 10L > base.ranked.count())
      return KnnGraphRefreshResult(
        knnGraphBuild(newEmb, k, nCentroids, nProbe, idCol, vecCol,
          saltFactor), None)
    // the delta-derived id frames are all ≤ ~k·|delta| rows of longs —
    // every join against them is explicitly broadcast so no corpus-
    // sized frame ever shuffles in the refresh
    val removedOrChanged = delta.where(!col("is_added")).select(col("src_id"))
    val addedOrChanged = delta.where(!col("is_removed")).select(col("src_id"))
    // ranked entries recomputed for |delta| rows only, against the
    // SAME (stability-checked) centroids
    val cents = knnCents(normed, idCol, nCentroids)
    val deltaRanked = knnRanked(
      normed.join(broadcast(addedOrChanged.withColumnRenamed("src_id", idCol)),
        Seq(idCol), "left_semi"),
      cents, nProbe, idCol).persist()
    graft.CacheTracker.register(deltaRanked)
    // populate: the ranked union and the merge pass's addAssigned both
    // scan this delta-sized cache concurrently
    deltaRanked.count()
    val ranked = base.ranked
      .join(broadcast(removedOrChanged), Seq("src_id"), "left_anti")
      .unionByName(deltaRanked)
      .persist()
    graft.CacheTracker.register(ranked)
    // base.edges is consumed by THREE refresh subtrees (this lossy
    // scan, the merge base pairs, the k-th-row bound) and the build
    // hands it over lazily — persist a refresh-local alias so the
    // candidate join + top-k behind it runs once, not per consumer
    // (populated by the bounded fullSrcs count below, before the
    // remaining consumers execute)
    val baseEdges = base.edges.persist()
    graft.CacheTracker.register(baseEdges)
    // FULL-recompute srcs: delta-new rows + every src whose base top-k
    // held a removed/changed neighbor (the in-degree of the delta)
    val lossySrcs = baseEdges
      .join(broadcast(removedOrChanged.withColumnRenamed("src_id", "nbr_id")),
        Seq("nbr_id"), "left_semi")
      .select(col("src_id"))
    val fullSrcs = lossySrcs.union(addedOrChanged).distinct().persist()
    graft.CacheTracker.register(fullSrcs)
    // the broadcast-probes join ships |fullSrcs|·nProbe rows EACH
    // carrying a dim-length src vector; near the 10%-delta ceiling that
    // is ~0.1·n·nProbe vector rows (hundreds of MB at the 500k/64-dim
    // soak shape) — above the cap, take the salted shuffle join instead
    // of risking autoBroadcastJoinThreshold / driver-OOM failures
    // (results identical either way; the cap=0 parity spec pins it)
    val probeRanked =
      ranked.join(broadcast(fullSrcs), Seq("src_id"), "left_semi")
    val dim = newC.headOption.map(_.getSeq[Double](1).length).getOrElse(0)
    val estProbeBytes =
      fullSrcs.count() * nProbe.toLong * (dim.toLong * 8L + 48L)
    val fullEdges =
      if (estProbeBytes <= broadcastProbeBytesCap)
        knnEdgesBroadcastProbes(probeRanked, ranked, k)
      else knnEdges(probeRanked, ranked, k, saltFactor)
    // MERGE srcs: base rows all survive (no removed/changed neighbor,
    // unchanged own vector) — only add-candidates can displace them
    val keepRanked = ranked.join(broadcast(fullSrcs), Seq("src_id"), "left_anti")
    val addAssigned = deltaRanked.select(
      element_at(col("cells.vec_id"), 1).as("cent_id"),
      col("src_id").as("nbr_id"), col("src_v").as("nbr_v"))
    val addPairs = keepRanked
      .select(col("src_id"), col("src_v"),
        explode(col("cells.vec_id")).as("cent_id"))
      .join(broadcast(addAssigned), Seq("cent_id"))
      .where(col("nbr_id") =!= col("src_id"))
      .select(col("src_id"), col("nbr_id"),
        VectorFunctions.roundDist(
          lit(1.0) - VectorFunctions.dot(col("src_v"), col("nbr_v")))
          .as("distance"))
    val basePairs = baseEdges
      .join(broadcast(fullSrcs.union(removedOrChanged).distinct()),
        Seq("src_id"), "left_anti")
      .select(col("src_id"), col("nbr_id"), col("distance"))
    val merged = basePairs.unionByName(addPairs)
      .groupBy(col("src_id"))
      .agg(VectorFunctions.topK(col("distance"), col("nbr_id"), k).as("topk"))
      .select(col("src_id"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(
        col("src_id"),
        col("r.vec_id").as("nbr_id"),
        col("r.distance").as("distance"),
        (col("pos") + 1).cast("long").as("rank"))
    // the may-have-changed set: full-recompute srcs, removed srcs
    // (their rows vanish), and merge srcs whose top-k an add-candidate
    // ACTUALLY enters. The merge test is exact, not the
    // probe-neighborhood superset (r15): for a merge src, base rows
    // and add-candidates have DISJOINT neighbors (added nbrs did not
    // exist at base build; changed/removed nbrs route the src to
    // fullSrcs), so an add-candidate enters the re-cut iff the pool is
    // short or its (distance, nbr_id) beats the src's worst base pair
    // under the cut's lexicographic order — one aggregate over the
    // base edge rows + a join against the mutation-sized addPairs,
    // keeping the changed-src frame (and the graph buckets a
    // storage-backed caller rewrites) delta-proportional
    // the worst base pair needs NO aggregate: edge rows carry rank in
    // (distance, nbr_id) order, so the k-th pair IS the rank-k row and
    // a src with no rank-k row has a short pool (any add enters). The
    // filter is map-side over base edges — r15 aggregated the same
    // n·k rows into a per-src max, a shuffle this replaces. Srcs in
    // fullSrcs/removed can't match addPairs (addPairs srcs come from
    // keepRanked), so their rank-k rows join to nothing — no anti-join
    // needed.
    val baseKth = baseEdges
      .where(col("rank") === k)
      .select(col("src_id"),
        struct(col("distance"), col("nbr_id")).as("kth"))
    val changedMerge = addPairs
      .join(baseKth, Seq("src_id"), "left")
      .where(col("kth").isNull ||
        struct(col("distance"), col("nbr_id")) < col("kth"))
      .select(col("src_id")).distinct()
    val changed = fullSrcs
      .unionByName(removedOrChanged)
      .unionByName(changedMerge)
      .distinct()
    KnnGraphRefreshResult(
      KnnGraphState(ranked, merged.unionByName(fullEdges)), Some(changed))
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
      .persist()
    graft.CacheTracker.register(edges)
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
