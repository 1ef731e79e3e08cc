package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SoakKit._
import graft.functions.VectorFunctions
import graft.operators.{BinaryQuantization, Coreset, Dsir, Ivf, Knn, KnnGraphTables,
  Opq, Pca, ProductQuantization, Projection, Sketches}
import graft.sources.StateTable

/** Scale soak (suite `curation`) for the round-11 curation operators —
  * measured points for the 100 TB arguments, same policy as the dedup
  * and graph suites: distributed
  * deterministic corpus generation (no driver arrays), one JSON line out.
  *
  * Usage: graft.Soak curation [mode] [n] [mode args]
  *   mode ∈ projection | coreset | pca | reducerecall | kmeans | bqrecall
  *   | bqautosize | pqrecall | opqrecall | graphrefresh | graphtables
  *   | graphhorizon | graphrefreshloop | sortedneighborhood | reduceindex
  *   | kmvoverlap | opqserve | pqserve | dsir; the default `all` runs
  *   every mode except graphtables, graphhorizon, graphrefreshloop,
  *   opqserve and pqserve, one JSON line per measurement.
  *
  *  - projection: n vectors (default 1M) at dIn=256 → dOut=32. The op is
  *    map-only; the report is rows/sec plus the measured mean relative
  *    norm distortion (the JL contract at dOut=32: E ≈ √(2/32) ≈ 0.25).
  *  - coreset: Gonzalez k-center, k=16 over n (default 1M) 64-dim
  *    vectors; per-round cost is one narrow pass + a 1-row argmax, so
  *    sec_per_round ~ constant is the claim under test. Reports the
  *    final covering radius.
  *  - kmvoverlap: n docs (default 500k) over 50 sources, KMV k=64 pair
  *    estimates (1225 pairs); one corpus aggregate + sketch-table
  *    algebra is the claim. Sources share a planted global phrase pool,
  *    and even sources additionally share a block vocabulary — the
  *    estimates must separate the two regimes. A single pair's exact
  *    Jaccard is recomputed distributed for an error spot-check.
  *  - pca: fit (one Gramian stats pass + driver Jacobi) and project at
  *    n×256→32; fit_sec is the full corpus-pass cost.
  *  - reducerecall: recall@10 of reduce-then-search candidate generation
  *    (JL and PCA at [dOut], plus top-50-rerank) against exact full-dim
  *    truth on a deliberately HARD clustered corpus — 1000 clusters of
  *    200, true neighbors separated only by fine within-cluster noise.
  */
object CurationSoak {

  /** (name, runs under `all`, body): in the order `all` runs them. */
  private val modes: Seq[(String, Boolean, (SparkSession, Array[String]) => Unit)] = Seq(
    ("projection", true, projection),
    ("coreset", true, coreset),
    ("pca", true, pca),
    ("reducerecall", true, reduceRecall),
    ("kmeans", true, kmeans),
    ("bqrecall", true, bqRecall),
    ("bqautosize", true, bqAutosize),
    ("pqrecall", true, pqRecall),
    ("opqrecall", true, opqRecall),
    ("graphrefresh", true, graphRefresh),
    ("graphtables", false, graphTables),
    ("graphhorizon", false, graphHorizon),
    ("graphrefreshloop", false, graphRefreshLoop),
    ("sortedneighborhood", true, sortedNeighborhood),
    ("reduceindex", true, reduceIndex),
    ("kmvoverlap", true, kmvOverlap),
    ("opqserve", false, opqServe),
    ("pqserve", false, pqServe),
    ("dsir", true, dsir))

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val mode = if (args.length > 0) args(0) else "all"
    for ((name, inAll, body) <- modes if name == mode || (mode == "all" && inAll))
      body(spark, args)
  }

  private def long(args: Array[String], i: Int, default: Long): Long =
    if (args.length > i) args(i).toLong else default
  private def int(args: Array[String], i: Int, default: Int): Int =
    if (args.length > i) args(i).toInt else default

  /** n uniform hashed vectors, ids [0, n). */
  private def vecs(spark: SparkSession, n: Long, dim: Int): DataFrame =
    spark.range(0, n, 1, cpus(spark))
      .select(col("id").as("vec_id"), vector(dim, uniformElem("id")).as("embedding"))

  /** n vectors in `clusters` planted clusters, noise amplitude `noise`. */
  private def clusteredVecs(spark: SparkSession, n: Long, dim: Int,
      clusters: Int, noise: String = "0.3"): DataFrame =
    spark.range(0, n, 1, cpus(spark))
      .select(col("id").as("vec_id"), vector(dim, clusteredElem(clusters, noise)).as("embedding"))

  /** The anisotropic clustered corpus: within-cluster noise rides ONLY
    * the first 8 dims (amplitude 0.6 there, 0.02 elsewhere).
    */
  private def anisotropic(spark: SparkSession, n: Long, dim: Int): DataFrame =
    clusteredVecs(spark, n, dim, 1000, "(CASE WHEN j < 8 THEN 0.6 ELSE 0.02 END)")

  /** The corpus rows with id < nQ as (query_id, qv). */
  private def queriesOf(corpus: DataFrame, nQ: Int): DataFrame =
    corpus.where(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** Exact cosine top-k per query: the ground truth recall is taken against. */
  private def truthOf(corpus: DataFrame, queries: DataFrame, k: Int): Map[Long, Set[Long]] =
    byQuery(Knn.knnBatch(corpus, queries, k, VectorFunctions.cosine)
      .select(col("query_id"), col("vec_id")).collect())

  /** Time `got`'s collect: (recall against `truth`, seconds). */
  private def timedRecall(got: => DataFrame, truth: Map[Long, Set[Long]]): (Double, Double) = {
    val (rows, sec) = timed(got.select(col("query_id"), col("vec_id")).collect())
    (recall(byQuery(rows), truth), sec)
  }

  /** Fit PCA to `dOut` components on `base`; the projection as a column map. */
  private def pcaProjector(base: DataFrame, dim: Int, dOut: Int): Column => Column = {
    val (_, w, mu) = Pca.fitComponents(base, dim, dOut)
    val shift = w.map(r0 => r0.zip(mu).map { case (a, b) => a * b }.sum)
    c0 => Bridge.column(graft.functions.ArrayMatVec(
      Bridge.expression(c0.cast("array<double>")),
      w.flatten.toSeq, dim, dOut, 1.0, 6, shift.toSeq))
  }

  /** projection: n vectors (default 1M) at dIn=256 → dOut=32. */
  private def projection(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val (dIn, dOut) = (256, 32)
    val base = CacheTracker.fill(vecs(spark, n, dIn))
    val (p, sec) = timed {
      val p = Projection.randomProject(base, dIn, dOut)
      // force every projected value (sum of all dims of all rows)
      p.select(sum(aggregate(col("rp"), lit(0.0), (a, x) => a + x))).head()
      p
    }
    val dev = base.select(col("vec_id"),
        aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x).as("n2"))
      .join(p, "vec_id")
      .select(abs(aggregate(col("rp"), lit(0.0), (a, x) => a + x * x) /
        col("n2") - 1.0).as("dev"))
      .agg(avg(col("dev"))).head().getDouble(0)
    CacheTracker.releaseAll()
    emit("mode" -> "projection", "n" -> n, "d_in" -> dIn, "d_out" -> dOut,
      "project_sec" -> fixed(sec, 2),
      "rows_per_sec" -> (n / sec).toLong,
      "mean_norm_distortion" -> fixed(dev, 4))
  }

  /** coreset: Gonzalez k-center, k=16 over n 64-dim vectors. */
  private def coreset(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val k = 16
    val base = CacheTracker.fill(vecs(spark, n, 64))
    val (picks, sec) = timed(Coreset.kCenter(base, k).collect())
    CacheTracker.releaseAll()
    val radii = picks.map(_.getDouble(2))
    emit("mode" -> "coreset", "n" -> n, "dim" -> 64, "k" -> k,
      "total_sec" -> fixed(sec, 2),
      "sec_per_round" -> fixed(sec / k, 2),
      "covering_radius" -> radii.last,
      "first_radius" -> radii(1))
  }

  /** pca: fit (one Gramian stats pass + driver Jacobi) and project at
    * n×256→32.
    */
  private def pca(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val (dim, c) = (256, 32)
    val base = CacheTracker.fill(vecs(spark, n, dim))
    val ((vals, _, _), fitSec) = timed(Pca.fitComponents(base, dim, c))
    val (nOut, projSec) = timed(Pca.pcaProject(base, dim, c).count())
    CacheTracker.releaseAll()
    emit("mode" -> "pca", "n" -> n, "dim" -> dim, "c" -> c,
      "fit_sec" -> fixed(fitSec, 2), "project_sec" -> fixed(projSec, 2),
      "rows_out" -> nOut,
      "top_eigenvalue" -> fixed(vals.head, 4),
      "explained_top8" -> fixed(vals.take(8).sum / vals.sum, 4))
  }

  /** reduce-then-search QUALITY: on a CLUSTERED corpus (uniform noise has
    * no recoverable NN structure), measure recall@10 of candidate
    * generation in JL-16 and PCA-16 space vs exact full-dim truth, plus
    * the serving pattern: top-50 reduced candidates + exact rerank. The
    * number a practitioner needs before trusting the projection in front
    * of an index. Args: [n] [dOut] [cand].
    */
  private def reduceRecall(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 200000L)
    val (dim, dOut, k, cand) = (64, int(args, 2, 16), 10, int(args, 3, 50))
    val base = CacheTracker.fill(clusteredVecs(spark, n, dim, 1000))
    val queries = queriesOf(base, 100)
    def topIds(corpus: DataFrame, vc: String, kk: Int) =
      Knn.knnBatch(corpus, queries.select(col("query_id"),
          (if (vc == "embedding") col("qv")
           else Projection.projectColumn(col("qv"), dim, dOut)).as("qv")),
        kk, VectorFunctions.cosine, vecCol = vc)
        .select(col("query_id"), col("vec_id"))
    def recallOf(got: DataFrame, truth: Map[Long, Set[Long]]) =
      recall(byQuery(got.collect()), truth)
    val truth = byQuery(topIds(base, "embedding", k).collect())
    val jlCorpus = CacheTracker.fill(Projection.randomProject(base, dim, dOut)
      .withColumnRenamed("rp", "rpv"))
    val jlRecall = recallOf(topIds(jlCorpus, "rpv", k), truth)
    // serving shape: cand reduced candidates, exact rerank, top k
    val jlCand = topIds(jlCorpus, "rpv", cand)
    val rerank = base.select(col("vec_id"), col("embedding"))
      .join(jlCand, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.roundDist(
          VectorFunctions.cosine(col("embedding"), col("qv"))).as("d"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("d"), col("vec_id"), k).as("topk"))
      .select(col("query_id"), explode(col("topk.vec_id")).as("vec_id"))
    val jlRerankRecall = recallOf(rerank, truth)
    jlCorpus.unpersist()
    // PCA-16 candidates (centered data-dependent reduction)
    val pcaCol = pcaProjector(base, dim, dOut)
    val pcaCorpus = CacheTracker.fill(
      base.select(col("vec_id"), pcaCol(col("embedding")).as("pcv")))
    val pcaRecall = recallOf(Knn.knnBatch(pcaCorpus,
      queries.select(col("query_id"), pcaCol(col("qv")).as("qv")),
      k, VectorFunctions.cosine, vecCol = "pcv")
      .select(col("query_id"), col("vec_id")), truth)
    CacheTracker.releaseAll()
    emit("mode" -> "reducerecall", "n" -> n, "dim" -> dim, "d_out" -> dOut,
      "k" -> k, "jl_recall" -> fixed(jlRecall, 4),
      s"jl_rerank${cand}_recall" -> fixed(jlRerankRecall, 4),
      "pca_recall" -> fixed(pcaRecall, 4))
  }

  /** integer-exact Lloyd at production shape: 1M x 64 over 256 cells, 3
    * iterations — per iteration ONE broadcast argmin pass (one row per
    * vector on the exchange) + ONE (cent, dim)-keyed sum bounded at k*dim
    * groups; the claim is flat per-iteration cost and a k*dim driver
    * state only. Args: [n] [cells].
    */
  private def kmeans(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val kCells = int(args, 2, 256)
    val iters = 3
    val base = CacheTracker.fill(vecs(spark, n, 64))
    val (model, fitSec) = timed(graft.operators.Kmeans.fit(base, kCells, iters))
    // force the distances, not a prunable count: Catalyst strips
    // unreferenced columns under count(), which made the first cut of
    // this metric read 1.16 s while the real pass cost minutes. avg, not
    // sum: per-row sqdist reaches dim·(2·10⁶)² ≈ 2.6e14 and a LONG sum
    // over ≥ 40k rows overflows under ANSI (found at 400k)
    val (assignRow, assignSec) = timed(graft.operators.Kmeans
      .assignFace(base, kCells, 0)
      .agg(count(lit(1)).as("c"), avg(col("sqdist_micro")).as("s")).head())
    val nOut = assignRow.getLong(0)
    require(nOut == n && !assignRow.isNullAt(1),
      s"assignment lost rows: $nOut of $n")
    val spread = model.centroids.map(_._2.head)
    CacheTracker.releaseAll()
    emit("mode" -> "kmeans", "n" -> n, "dim" -> 64, "k" -> kCells,
      "iterations" -> iters, "fit_sec" -> fixed(fitSec, 2),
      "sec_per_iter" -> fixed(fitSec / iters, 2),
      "assign_sec" -> fixed(assignSec, 2),
      "dim0_spread" -> (spread.max - spread.min))
  }

  /** binary-quantization operating curve: recall@10 of the two-stage
    * Hamming-cut + exact-rerank path vs exact truth, swept over
    * candFactor × dim at 1M CLUSTERED vectors (the hard corpus the
    * reducerecall soak uses) — pricing the 32× compression like every
    * other ANN path here.
    */
  private def bqRecall(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val (k, nQ) = (10, 100)
    for (dim <- Seq(64, 128)) {
      val base = CacheTracker.fill(clusteredVecs(spark, n, dim, 1000))
      val queries = queriesOf(base, nQ)
      val truth = truthOf(base, queries, k)
      for (cf <- Seq(2, 4, 8, 16)) {
        val (r, sec) =
          timedRecall(BinaryQuantization.bqKnnBatch(base, queries, k, cf, dim), truth)
        emit("mode" -> "bqrecall", "n" -> n, "dim" -> dim, "k" -> k,
          "cand_factor" -> cf, "recall" -> fixed(r, 4),
          "search_sec" -> fixed(sec, 2))
      }
      CacheTracker.releaseAll()
    }
  }

  /** BQ candFactor AUTO-SIZING at 1M on two cluster geometries (the r12
    * finding automated): size candFactor from measured occupancy for a
    * target recall, then verify the sized search actually clears the
    * target; and on a geometry whose occupancy exceeds the cost ceiling,
    * the rule must REFUSE loudly — the automated "BQ is the wrong tool
    * here" signal.
    */
  private def bqAutosize(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val (dim, k, nQ, target) = (64, 10, 25, 0.1)
    // geometry B: 256 clusters of ~n/256 — sized candFactor fits the cap
    // and the measured recall must clear the target
    val base = CacheTracker.fill(clusteredVecs(spark, n, dim, 256))
    val cf = BinaryQuantization.autoCandFactor(base, k, target,
      kCells = 256, iterations = 2)
    val queries = queriesOf(base, nQ)
    val truth = truthOf(base, queries, k)
    val (r, _) = timedRecall(BinaryQuantization.bqKnnBatch(base, queries, k, cf, dim), truth)
    emit("mode" -> "bqautosize", "n" -> n, "n_clusters" -> 256,
      "target_recall" -> target, "sized_cand_factor" -> cf,
      "measured_recall" -> fixed(r, 4),
      "target_met" -> (r >= target))
    CacheTracker.releaseAll()
    // geometry A: 64 clusters of ~n/64 — occupancy implies candFactor
    // past the cap; the rule must refuse with the wrong-tool message
    val wide = CacheTracker.fill(clusteredVecs(spark, n, dim, 64))
    val outcome: Seq[(String, Any)] = try {
      Seq("UNEXPECTED_cf" -> BinaryQuantization.autoCandFactor(wide, k, target,
        kCells = 64, iterations = 2))
    } catch {
      case e: IllegalArgumentException =>
        Seq("refused" -> true, "reason" ->
          e.getMessage.takeWhile(_ != '\n').replace("\"", "'").take(160))
    }
    emit(Seq("mode" -> "bqautosize", "n" -> n, "n_clusters" -> 64) ++ outcome: _*)
    CacheTracker.releaseAll()
  }

  /** integer-exact PQ operating curve at 1M CLUSTERED vectors — the
    * bqrecall corpus — swept over candFactor × codebook geometry. The
    * claim from the r12 BQ finding: within-cluster ranking needs
    * fine-grained distance resolution; PQ's per-subspace codebooks supply
    * exactly that, so recall should clear BQ's 0.14–0.37 band at the SAME
    * candFactors (at 16× compression vs BQ's 32×).
    */
  private def pqRecall(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val (dim, k, nQ, iters) = (64, 10, 25, 3)
    val base = CacheTracker.fill(clusteredVecs(spark, n, dim, 1000))
    val queries = queriesOf(base, nQ)
    val truth = truthOf(base, queries, k)
    // geometries sweep SUBSPACE RESOLUTION: at dim 64, m=8 leaves dsub=8
    // (256 cells ⇒ cell side ~2/256^(1/8) = 1.0, ABOVE the fixture's 0.6
    // within-cluster spread — whole clusters share a code, the BQ
    // blindness); m=16 halves dsub (cell side ~0.5, below it — codes
    // differ INSIDE a cluster and ADC can rank there)
    for ((m, kSub) <- Seq((8, 64), (8, 256), (16, 256))) {
      val (models, fitSec) = timed(ProductQuantization.fitExact(base, dim, m, kSub, iters))
      val (encoded, encodeSec) =
        timed(CacheTracker.fill(ProductQuantization.encodeExact(base, models, dim)))
      for (cf <- Seq(1, 2, 4, 8)) {
        val (r, sec) = timedRecall(ProductQuantization.exactAdcKnnBatchFrom(
          base, encoded, models, queries, k, cf), truth)
        emit("mode" -> "pqrecall", "n" -> n, "dim" -> dim, "m" -> m,
          "k_sub" -> kSub, "k" -> k, "cand_factor" -> cf,
          "recall" -> fixed(r, 4),
          "fit_sec" -> fixed(fitSec, 2),
          "encode_sec" -> fixed(encodeSec, 2),
          "search_sec" -> fixed(sec, 2))
      }
      releaseAllBut(base)
    }
    // RESIDUAL (IVF-)PQ on the same corpus — the structural remedy: a
    // 1000-cell coarse quantizer (first-k init lands one centroid per
    // planted cluster) absorbs the cluster geometry; the m=8 codebooks
    // then quantize pure within-cluster offsets, which is exactly the
    // resolution flat PQ spent on cluster centers
    import spark.implicits._
    for ((m, kSub) <- Seq((8, 256), (16, 256))) {
      val (kCoarse, nProbe) = (1000, 4)
      val qRows = queries.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val (rm, fitSec) = timed(ProductQuantization.fitResidual(base, dim, kCoarse,
        coarseIters = 2, m, kSub, pqIters = 2))
      val (encoded, encodeSec) =
        timed(CacheTracker.fill(ProductQuantization.encodeResidual(base, rm)))
      for (cf <- Seq(1, 2, 4, 8)) {
        val (recalls, sec) = timed(qRows.map { case (qid, qv) =>
          val ids = ProductQuantization.residualAdcKnnFrom(
            base, encoded, rm, Seq(qv).toDF("qv"), nProbe, k, cf)
            .select(col("vec_id")).collect().map(_.getLong(0)).toSet
          (ids & truth(qid)).size.toDouble / truth(qid).size
        })
        emit("mode" -> "pqrecall", "variant" -> "residual", "n" -> n,
          "dim" -> dim, "m" -> m, "k_sub" -> kSub, "k_coarse" -> kCoarse,
          "n_probe" -> nProbe, "k" -> k, "cand_factor" -> cf,
          "recall" -> fixed(recalls.sum / recalls.length, 4),
          "fit_sec" -> fixed(fitSec, 2),
          "encode_sec" -> fixed(encodeSec, 2),
          "search_sec" -> fixed(sec, 2))
      }
      releaseAllBut(base)
    }
    CacheTracker.releaseAll()
  }

  /** OPQ recall-at-equal-bytes at 1M ANISOTROPIC clustered vectors: flat
    * residual PQ's subspace 0 carries ALL the rankable signal (one
    * saturated codebook) while subspaces 1..7 quantize near-constants
    * (wasted bytes) — the axis-aligned variance skew OPQ rotations exist
    * to fix. Same code budget everywhere (kCoarse=1000, m=8, kSub=256, 10
    * bytes/vector): identity vs seeded-sign Hadamard vs PCA eigenbasis
    * with Ge-style eigenvalue allocation. Ground truth is computed once on
    * the RAW corpus — both rotations are orthonormal, so the true
    * neighbor sets are identical in every space.
    */
  private def opqRecall(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val (dim, k, nQ) = (64, 10, 25)
    val (kCoarse, nProbe, m, kSub) = (1000, 4, 8, 256)
    val raw = CacheTracker.fill(anisotropic(spark, n, dim))
    val rawQ = queriesOf(raw, nQ)
    val truth = truthOf(raw, rawQ, k)
    val (pcaR, pcaFitSec) = timed(Opq.fitPcaRotation(raw, dim, m))
    val variants = Seq(
      ("flat", raw, rawQ),
      ("hd", Opq.hdRotate(raw, dim),
        rawQ.select(col("query_id"),
          Opq.hdRotationColumn(col("qv"), dim).as("qv"))),
      ("pca", raw.select(col("vec_id"),
        Opq.rotationColumn(col("embedding"), pcaR).as("embedding")),
        rawQ.select(col("query_id"),
          Opq.rotationColumn(col("qv"), pcaR).as("qv"))))
    for ((name, corpus0, queries) <- variants) {
      val corpus = CacheTracker.fill(corpus0)
      val (rm, fitSec) = timed(ProductQuantization.fitResidual(corpus, dim, kCoarse,
        coarseIters = 2, m, kSub, pqIters = 2))
      val (encoded, encodeSec) =
        timed(CacheTracker.fill(ProductQuantization.encodeResidual(corpus, rm)))
      for (cf <- Seq(2, 8)) {
        val (r, sec) = timedRecall(ProductQuantization.residualAdcKnnBatchFrom(
          corpus, encoded, rm, queries, nProbe, k, cf), truth)
        emit(Seq("mode" -> "opqrecall", "rotation" -> name, "n" -> n,
          "dim" -> dim, "m" -> m, "k_sub" -> kSub, "k_coarse" -> kCoarse,
          "n_probe" -> nProbe, "k" -> k, "cand_factor" -> cf,
          "recall" -> fixed(r, 4),
          "fit_sec" -> fixed(fitSec, 2)) ++
          (if (name == "pca") Seq("rotation_fit_sec" -> fixed(pcaFitSec, 2)) else Nil) ++
          Seq("encode_sec" -> fixed(encodeSec, 2),
            "search_sec" -> fixed(sec, 2)): _*)
      }
      releaseAllBut(raw)
    }
    CacheTracker.releaseAll()
  }

  /** incremental kNN-graph refresh vs full rebuild: a 5k MIXED delta
    * (changes + DELETES + adds, centroid ids untouched) against a 500k
    * base at realistic cell count (~√n). Deletes are the expensive branch
    * — every src whose base top-k held a deleted neighbor joins the full
    * re-cut (lossySrcs, sized by the delta's in-degree) — so the mixed
    * soak prices exactly what the pure-adds loop soak cannot. The claim
    * under test: refresh cost ∝ touched-cell volume + |delta|, not n —
    * the same discipline refreshResident proved for the serving index.
    * Args: [n] [delta].
    */
  private def graphRefresh(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 500000L)
    val dDelta = long(args, 2, 5000L)
    val (dim, k, nProbe) = (64, 8, 4)
    val nCents = math.max(16, math.sqrt(n.toDouble).toInt)
    require(n > 200000L + dDelta / 3,
      "mixed delta plants changes at 100k and deletes at 200k")
    val base = CacheTracker.fill(vecs(spark, n, dim))
    // delta thirds: changed rows (ids ≥ 100000, far from the first
    // nCents centroid ids), DELETED rows (ids ≥ 200000, no re-add),
    // appended rows (ids ≥ n)
    val third = dDelta / 3
    val adds = vecs(spark, third, dim)
      .select((col("vec_id") + 100000L).as("vec_id"),
        vector(dim, uniformElem("vec_id + 7")).as("embedding"))
      .unionByName(vecs(spark, dDelta - 2 * third, dim)
        .select((col("vec_id") + n).as("vec_id"), col("embedding")))
    val removes = spark.range(200000L, 200000L + third)
      .select(col("id").as("vec_id"))
    val newEmb = CacheTracker.fill(base
      .where(!(col("vec_id") >= 100000L &&
        col("vec_id") < lit(100000L + third)))
      .where(!(col("vec_id") >= 200000L &&
        col("vec_id") < lit(200000L + third)))
      .unionByName(adds))
    // 1. base build (warms JIT for every downstream measurement too);
    //    refresh consumes the materialized base edges
    val (st, buildSec) = timed {
      val st = Ivf.knnGraphBuild(base, k, nCents, nProbe)
      CacheTracker.fill(st.edges)
      st
    }
    // 2. full rebuild on the new corpus, measured with ONLY the cached
    //    corpora available (base artifacts released first so no cached
    //    subplan can flatter it; re-pinned after)
    releaseAllBut(base, newEmb)
    val (rebuiltCount, rebuildSec) =
      timed(Ivf.knnGraph(newEmb, k, nCents, nProbe).count())
    releaseAllBut(base, newEmb)
    // 3. refresh, consuming re-pinned base artifacts (what a serving loop
    //    holds); generations pin via localCheckpoint (plan truncation —
    //    the serving-loop discipline; a bare persist left gen 2
    //    re-analyzing gen 1's nested plans), and that checkpoint IS the
    //    generation's cost
    CacheTracker.fill(st.ranked)
    CacheTracker.fill(st.edges)
    val ((refreshed, refreshedCount), refreshSec) = timed {
      val refreshed0 = Ivf.knnGraphRefresh(st, adds, removes, k, nCents, nProbe)
        .getOrElse(sys.error("unexpected rebuild fallback in soak")).state
      val refreshed = Ivf.KnnGraphState(
        refreshed0.ranked.localCheckpoint(true),
        refreshed0.edges.localCheckpoint(true))
      (refreshed, refreshed.edges.count())
    }
    // 4. second generation in the same JVM: the steady-state number (gen
    //    1 pays one-time JIT + union-cache materialization)
    val adds2 = vecs(spark, dDelta / 2, dim)
      .select((col("vec_id") + n + dDelta).as("vec_id"), col("embedding"))
    val removes2 = newEmb.where(col("vec_id") >= n + dDelta / 2)
      .select(col("vec_id"))
    val (_, refresh2Sec) = timed(Ivf
      .knnGraphRefresh(refreshed, adds2, removes2, k, nCents, nProbe)
      .getOrElse(sys.error("unexpected rebuild fallback in soak")).state
      .edges.count())
    require(refreshedCount == rebuiltCount,
      s"refresh/rebuild row-count mismatch: $refreshedCount vs $rebuiltCount")
    CacheTracker.releaseAll()
    emit("mode" -> "graphrefresh", "n" -> n, "delta" -> dDelta,
      "dim" -> dim, "k" -> k, "n_cents" -> nCents, "n_probe" -> nProbe,
      "build_sec" -> fixed(buildSec, 2),
      "refresh_sec" -> fixed(refreshSec, 2),
      "refresh2_sec" -> fixed(refresh2Sec, 2),
      "rebuild_sec" -> fixed(rebuildSec, 2),
      "speedup" -> fixed(rebuildSec / refresh2Sec, 1),
      "edges" -> refreshedCount)
  }

  /** Generation g's mixed delta over an n-vector base: a third CHANGES
    * (re-add with a new vector) from n/4, a third REMOVES from n/2, a
    * third ADDS past n — fresh id ranges every generation, all clear of
    * the first nCents centroid ids.
    */
  private def mixedDelta(spark: SparkSession, n: Long, dim: Int, third: Long, g: Int)
      : (DataFrame, DataFrame) = {
    val c0 = n / 4 + (g - 1).toLong * third
    val r0 = n / 2 + (g - 1).toLong * third
    val a0 = n + (g - 1).toLong * third
    val changed = spark.range(c0, c0 + third, 1, cpus(spark))
      .select(col("id").as("vec_id"),
        vector(dim, uniformElem("id", s"j + ${1000 + g}")).as("embedding"))
    val adds = changed.unionByName(vecs(spark, third, dim)
      .select((col("vec_id") + a0).as("vec_id"), col("embedding")))
    val removes = spark.range(c0, c0 + third)
      .select(col("id").as("vec_id"))
      .unionByName(spark.range(r0, r0 + third)
        .select(col("id").as("vec_id")))
    (adds, removes)
  }

  /** The one refresh algorithm over its two stores: the table store
    * (KnnGraphTables — manifest-pruned reads, exact-diff rewrites,
    * append-only inverted index) vs the frame store (in-memory state +
    * changed-bucket rewrite into src-bucketed state tables) on IDENTICAL
    * mixed deltas, interleaved per generation so JIT/GC drift hits both
    * paths equally. The scale claims under test: path B's per-gen table
    * READS are ∝ delta (bytes_read), its executor-resident state is ZERO
    * (the corpus lives on disk), and its final state is row-identical to
    * path A's. Args: [n] [gens] [delta] [buckets] [nCents] — the nCents
    * override is the r18 cellidx-floor sweep: the corpus fixed, the cell
    * count varied to measure the claimed b_read_by_table.cellidx ∝
    * 1/nCents falloff.
    */
  private def graphTables(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 200000L)
    val gens = int(args, 2, 8)
    val dDelta = int(args, 3, 200)
    val nBuckets = int(args, 4, 1024)
    val (dim, k, nProbe) = (64, 8, 4)
    val nCents = int(args, 5, math.max(16, math.sqrt(n.toDouble).toInt))
    val third = dDelta / 3
    require(n / 4 + gens.toLong * third < n / 2 &&
      n / 2 + gens.toLong * third < n,
      "delta id ranges must not collide across generations")
    val base = CacheTracker.fill(vecs(spark, n, dim))
    val B = StateTable.BucketCol
    def idB(c: Column) = StateTable.idBucket(c, nBuckets)
    val dirRoot = java.nio.file.Files
      .createTempDirectory("graph-tables-soak").toString
    // shared base build feeds BOTH paths' initial state
    val (_, initSec) = timed(KnnGraphTables.init(spark, s"$dirRoot/b", base, k,
      nCents, nProbe, nBuckets))
    val st0 = KnnGraphTables.readState(spark, s"$dirRoot/b")
    val rankedA = new StateTable(spark, s"$dirRoot/a/ranked")
    val edgesA = new StateTable(spark, s"$dirRoot/a/edges")
    rankedA.init(st0.ranked.withColumn(B, idB(col("src_id"))), nBuckets)
    edgesA.init(st0.edges.withColumn(B, idB(col("src_id"))), nBuckets)
    var memA = Ivf.KnnGraphState(
      st0.ranked.localCheckpoint(true), st0.edges.localCheckpoint(true))
    val aSec, bSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val aStagedMb, aCachedMb, bStagedMb, bReadMb, bChanged, bCachedMb, bStale,
      bIdentity, bTouchedMb = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bRewritten = scala.collection.mutable.ArrayBuffer.empty[Int]
    var lastReadByTable = Map.empty[String, Long]
    var compactions = 0
    for (g <- 1 to gens) {
      val (adds, removes) = mixedDelta(spark, n, dim, third, g)
      // ---- path A: in-memory frame refresh + bucket rewrite ----
      val (aStaged, aDt) = timed {
        val rr = Ivf.knnGraphRefresh(memA, adds, removes, k, nCents, nProbe)
          .getOrElse(sys.error("unexpected rebuild fallback in soak"))
        val affSb = rr.changedSrcs.map(StateTable.idBucketOf(_, nBuckets))
          .distinct.sorted
        val sr = rankedA.stage(rr.state.ranked
          .withColumn(B, idB(col("src_id")))
          .where(col(B).isin(affSb: _*)), math.max(1, affSb.size))
        val se = edgesA.stage(rr.state.edges
          .withColumn(B, idB(col("src_id")))
          .where(col(B).isin(affSb: _*)), math.max(1, affSb.size))
        rankedA.commit(sr, affSb); edgesA.commit(se, affSb)
        val nextMem = Ivf.KnnGraphState(
          rr.state.ranked.localCheckpoint(true),
          rr.state.edges.localCheckpoint(true))
        // release the SUPERSEDED generation's checkpoints so path A's
        // resident metric reads steady state, not an accumulating chain
        Bridge.releaseCheckpoint(memA.ranked)
        Bridge.releaseCheckpoint(memA.edges)
        memA = nextMem
        CacheTracker.releaseAll()
        sr.bytes + se.bytes
      }
      aSec += aDt
      aStagedMb += aStaged / 1000000
      aCachedMb += cachedBytes(spark) / 1000000
      // ---- path B: delta-driven table-native refresh ----
      val (rep, bDt) = timed {
        val rep = KnnGraphTables.refresh(spark, s"$dirRoot/b", adds, removes)
          .getOrElse(sys.error("unexpected rebuild fallback in soak"))
        CacheTracker.releaseAll()
        rep
      }
      bSec += bDt
      bStagedMb += (rep.stagedBytes + rep.appendedBytes) / 1000000
      bReadMb += rep.bytesRead / 1000000
      bChanged += rep.changedSrcs
      bRewritten += rep.bucketsRewritten
      bStale += rep.staleHits
      bIdentity += rep.identityRecomputes
      bTouchedMb += rep.bytesTouched / 1000000
      lastReadByTable = rep.readByTable
      if (rep.compacted || rep.probeCompacted) compactions += 1
      // B holds NO generation state in executor memory: total resident
      // after a B generation is path A's pinned state alone (README cites
      // the two arrays side by side)
      bCachedMb += cachedBytes(spark) / 1000000
    }
    // final parity: the two paths' states must be row-identical
    val stB = KnnGraphTables.readState(spark, s"$dirRoot/b")
    val edgeDiff = stB.edges.exceptAll(memA.edges).count() +
      memA.edges.exceptAll(stB.edges).count()
    val stateMb = graphTableBytes(spark, s"$dirRoot/b") / 1000000
    CacheTracker.releaseAll()
    emit("mode" -> "graphtables", "n" -> n, "gens" -> gens,
      "delta" -> dDelta, "n_buckets" -> nBuckets, "n_cents" -> nCents,
      "init_sec" -> fixed(initSec, 1),
      "a_gen_sec" -> aSec.map(fixed(_, 1)),
      "a_staged_mb" -> aStagedMb,
      "a_cached_mb" -> aCachedMb,
      "b_gen_sec" -> bSec.map(fixed(_, 1)),
      "b_staged_mb" -> bStagedMb,
      "b_read_mb" -> bReadMb,
      "cached_after_b_mb" -> bCachedMb,
      "b_changed_srcs" -> bChanged,
      "b_buckets_rewritten" -> bRewritten,
      "b_stale_hits" -> bStale,
      "b_identity_recomputes" -> bIdentity,
      "b_touched_mb" -> bTouchedMb,
      "b_read_by_table_last_mb" -> json(lastReadByTable.toSeq.sortBy(-_._2)
        .map { case (t, v) => t -> v / 1000000 }: _*),
      "b_compactions" -> compactions,
      "b_state_mb" -> stateMb,
      "edge_diff" -> edgeDiff)
  }

  /** On-disk bytes of the eight KnnGraphTables sub-tables under `dir`. */
  private def graphTableBytes(spark: SparkSession, dir: String): Long =
    Seq("meta", "cents", "ranked", "edges", "kth", "cellidx", "probeidx", "nbridx")
      .map(t => new StateTable(spark, s"$dir/$t").diskBytes()).sum

  /** LONG-HORIZON nbrIdx staleness/compaction evidence (r17): the
    * tables-only refresh loop run far enough to TRIP the 2× compaction
    * trigger, measuring what the append-only inverted index actually
    * costs before the rebuild and what the rebuild pause is when it
    * fires. Per generation: wall sec, stale index hits (suspects that
    * validated away), identity recomputes (live suspects whose recompute
    * changed nothing — the redundant work stale entries cause),
    * nbrIdx/edges byte ratio, compaction flag. Ends with a from-scratch
    * parity check on the final corpus. Args: [n] [gens] [delta] [buckets]
    * [probe trigger pct].
    */
  private def graphHorizon(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 40000L)
    val gens = int(args, 2, 60)
    val dDelta = int(args, 3, 400)
    val nBuckets = int(args, 4, 256)
    // probe-compaction trigger for THE RUN (percent of the live mirror,
    // default the production 200): the id-range collision constraint caps
    // gens at ~0.75·n/delta, which is exactly where the probeIdx ratio
    // reaches 2× — a sub-200 trigger lets the horizon FIRE the
    // vector-carrying rebuild inside the legal range and measure its pause
    // (the pause is trigger-independent)
    val probeTrigPct = int(args, 5, 200)
    val (dim, k, nProbe) = (64, 8, 4)
    val nCents = math.max(16, math.sqrt(n.toDouble).toInt)
    val third = dDelta / 3
    require(n / 4 + gens.toLong * third < n / 2 &&
      n / 2 + gens.toLong * third < n,
      "delta id ranges must not collide across generations")
    val base = CacheTracker.fill(vecs(spark, n, dim))
    val dir = java.nio.file.Files
      .createTempDirectory("graph-horizon").toString
    val (_, initSec) =
      timed(KnnGraphTables.init(spark, dir, base, k, nCents, nProbe, nBuckets))
    val nbrT = new StateTable(spark, s"$dir/nbridx")
    val edgT = new StateTable(spark, s"$dir/edges")
    val prbT = new StateTable(spark, s"$dir/probeidx")
    val celT = new StateTable(spark, s"$dir/cellidx")
    var corpus = base.localCheckpoint(true)
    val sec, compactSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stale, identity, ratioPct, probeRatioPct =
      scala.collection.mutable.ArrayBuffer.empty[Long]
    val compactedAt, probeCompactedAt = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (g <- 1 to gens) {
      val (adds, removes) = mixedDelta(spark, n, dim, third, g)
      val (rep, dt) = timed {
        val rep = KnnGraphTables.refresh(spark, dir, adds, removes,
          probeCompactTrigger = probeTrigPct / 100.0)
          .getOrElse(sys.error("unexpected rebuild fallback in horizon soak"))
        CacheTracker.releaseAll()
        rep
      }
      sec += dt
      stale += rep.staleHits
      identity += rep.identityRecomputes
      ratioPct += 100L * nbrT.diskBytes() / math.max(1L, edgT.diskBytes())
      probeRatioPct += 100L * prbT.diskBytes() /
        math.max(1L, nProbe * celT.diskBytes())
      // one wall entry per compaction GENERATION (a gen where both indexes
      // compact would otherwise count its dt twice and overstate the
      // published pause array — r17 advice)
      if (rep.compacted) compactedAt += g
      if (rep.probeCompacted) probeCompactedAt += g
      if (rep.compacted || rep.probeCompacted) compactSec += dt
      val prev = corpus
      corpus = corpus
        .join(adds.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .join(removes, Seq("vec_id"), "left_anti")
        .unionByName(adds)
        .localCheckpoint(true)
      Bridge.releaseCheckpoint(prev)
    }
    // parity after the whole horizon (including through compactions)
    val stEnd = KnnGraphTables.readState(spark, dir)
    val fresh = Ivf.knnGraphBuild(corpus, k, nCents, nProbe)
    val edgeDiff = stEnd.edges.exceptAll(fresh.edges).count() +
      fresh.edges.exceptAll(stEnd.edges).count()
    CacheTracker.releaseAll()
    emit("mode" -> "graphhorizon", "n" -> n, "gens" -> gens,
      "delta" -> dDelta, "n_buckets" -> nBuckets, "n_cents" -> nCents,
      "init_sec" -> fixed(initSec, 1),
      "gen_p50_sec" -> fixed(pct(sec.toSeq, 0.5), 1),
      "gen_max_sec" -> fixed(sec.max, 1),
      "stale_hits" -> stale,
      "identity_recomputes" -> identity,
      "nbr_vs_edges_pct" -> ratioPct,
      "probe_vs_live_pct" -> probeRatioPct,
      "probe_compacted_at_gens" -> probeCompactedAt,
      "compacted_at_gens" -> compactedAt,
      "compaction_gen_sec" -> compactSec.map(fixed(_, 1)),
      "edge_diff" -> edgeDiff)
  }

  /** sustained-ingest graph serving: N mutation generations through
    * streamingGraphRefresh; the claims under test are flat per-generation
    * latency AND flat storage in BYTES, LIVE RDDS, and ON-DISK BLOCK
    * FILES (the r13 fix: generations release the checkpoint RDD's blocks
    * — Dataset.unpersist alone left one dead corpus-sized block per
    * generation for the ContextCleaner). Args: [n] [gens].
    */
  private def graphRefreshLoop(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 200000L)
    val gens = int(args, 2, 25)
    val dDelta = 2000
    val (dim, k, nProbe) = (64, 8, 4)
    val nCents = math.max(16, math.sqrt(n.toDouble).toInt)
    val base = CacheTracker.fill(vecs(spark, n, dim))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long, Seq[Double])]
    val (q, cur) = graft.streaming.StreamingOps.streamingGraphRefresh(
      stream.toDF().toDF("op", "vec_id", "vec"), base, k, nCents, nProbe)
    val genSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val storage, diskFiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    val liveRdds = scala.collection.mutable.ArrayBuffer.empty[Int]
    try {
      for (g <- 1 to gens) {
        val rows = (0 until dDelta).map { j =>
          ("add", n + g.toLong * dDelta + j,
            (0 until dim).map(d =>
              ((g * 31 + j * 7 + d * 3) % 100) / 50.0 - 1.0))
        }
        genSec += timed {
          stream.addData(rows)
          q.processAllAvailable()
        }._2
        storage += cachedBytes(spark)
        liveRdds += spark.sparkContext.getPersistentRDDs.size
        // dead generations' SHUFFLE files are reclaimed by the
        // ContextCleaner only after their dependency objects are GC'd; on
        // a large idle heap that can lag many generations — force the
        // collection (outside the timed window) so the files metric
        // measures LEAKED files, not cleaner lag
        System.gc()
        Thread.sleep(200)
        diskFiles += blockFileCount()
      }
    } finally q.stop()
    val finalEdges = cur().edges.count()
    CacheTracker.releaseAll()
    emit("mode" -> "graphrefreshloop", "n" -> n, "delta" -> dDelta,
      "gens" -> gens, "n_cents" -> nCents,
      "gen_sec" -> genSec.map(fixed(_, 1)),
      "first_gen_sec" -> fixed(genSec.head, 1),
      "last_gen_sec" -> fixed(genSec.last, 1),
      "storage_mb" -> storage.map(_ / 1000000),
      "live_rdds" -> liveRdds,
      "disk_block_files" -> diskFiles,
      "final_edges" -> finalEdges)
  }

  /** the content-independence claim, measured: candidate count must be
    * EXACTLY n*(window-1) - boundary shortfall, regardless of content;
    * timing covers rank (prefix count) + self-join + exact verify.
    */
  private def sortedNeighborhood(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 500000L)
    val window = 4
    // planted adjacent near-dups: ids sharing id/100 differ only in a
    // suffix token, so their normalized texts sort adjacently
    val docs = CacheTracker.fill(spark.range(0, n, 1, cpus(spark))
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          expr("concat_ws(' ', transform(sequence(0, 19), " +
            "j -> concat('w', abs(xxhash64(id div 100, j)))))"),
          concat(lit("m"), col("id") % 100)).as("text")))
    val (pairs, sec) = timed(graft.operators.Dedup
      .sortedNeighborhoodPairs(docs, n = 3, window = window, threshold = 0.3)
      .count())
    CacheTracker.releaseAll()
    emit("mode" -> "sortedneighborhood", "n" -> n, "window" -> window,
      "pairs" -> pairs, "sec" -> fixed(sec, 2),
      "max_candidates" -> n * (window - 1))
  }

  /** reduce-then-INDEX: HNSW build + serve cost in PCA-reduced space vs
    * full dimension at the same n — the infrastructure payoff the
    * projection buys (graph distance evals scale with dim), next to
    * reducerecall's quality price for the same trade.
    */
  private def reduceIndex(spark: SparkSession, args: Array[String]): Unit = {
    import graft.index.HnswSpark
    val n = long(args, 1, 200000L)
    val (dim, dOut, shards, k) = (256, 32, 32, 10)
    val base = CacheTracker.fill(vecs(spark, n, dim))
    val queries = base.where(col("vec_id") < 100)
    val (full, buildFullSec) =
      timed(HnswSpark.buildResident(base, HnswSpark.Params(dim = dim), shards))
    val qFull = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val (nFull, qFullSec) = timed(HnswSpark.searchResident(spark, full, qFull, k).count())
    full.unpersist(true)
    val pcaCol = pcaProjector(base, dim, dOut)
    val reduced = CacheTracker.fill(
      base.select(col("vec_id"), pcaCol(col("embedding")).as("embedding")))
    val (red, buildRedSec) =
      timed(HnswSpark.buildResident(reduced, HnswSpark.Params(dim = dOut), shards))
    val (nRed, qRedSec) = timed(HnswSpark.searchResident(spark, red,
      queries.select(col("vec_id").as("query_id"),
        pcaCol(col("embedding")).as("qv")), k).count())
    red.unpersist(true)
    CacheTracker.releaseAll()
    require(nFull == nRed, s"row mismatch $nFull vs $nRed")
    emit("mode" -> "reduceindex", "n" -> n, "dim" -> dim, "d_out" -> dOut,
      "build_full_sec" -> fixed(buildFullSec, 2),
      "build_reduced_sec" -> fixed(buildRedSec, 2),
      "build_speedup" -> fixed(buildFullSec / buildRedSec, 2),
      "query_full_sec" -> fixed(qFullSec, 2),
      "query_reduced_sec" -> fixed(qRedSec, 2))
  }

  /** kmvoverlap: n docs (default 500k) over 50 sources, KMV k=64 pair
    * estimates (1225 pairs); one corpus aggregate + sketch-table algebra
    * is the claim. Sources share a planted global phrase pool, and even
    * sources additionally share a block vocabulary — the estimates must
    * separate the two regimes. A single pair's exact Jaccard is
    * recomputed distributed for an error spot-check.
    */
  private def kmvOverlap(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 500000L)
    val nSources = 50
    // every doc: 4 tokens from the GLOBAL pool (all sources overlap a
    // little) + 16 tokens from a BLOCK pool shared by even sources only
    // (so even×even pairs overlap a lot) + 4 unique-ish tokens
    val docs = CacheTracker.fill(spark.range(0, n, 1, cpus(spark))
      .select(col("id").as("doc_id"),
        (col("id") % nSources).cast("string").as("source"),
        concat_ws(" ",
          expr("concat_ws(' ', transform(sequence(0, 3), " +
            "j -> concat('g', abs(xxhash64(id % 40, j)) % 50)))"),
          expr(s"concat_ws(' ', transform(sequence(0, 15), " +
            s"j -> concat('b', (id % $nSources) % 2, '_', " +
            "abs(xxhash64(id % 997, j)) % 2000)))"),
          expr("concat_ws(' ', transform(sequence(0, 3), " +
            "j -> concat('u', abs(xxhash64(id, j)))))")).as("text")))
    val (est, sec) = timed(Sketches.kmvSourceOverlap(docs, n = 3, k = 64).collect())
    releaseAllBut(docs)
    val evenEven = est.filter(r =>
      r.getString(0).toInt % 2 == 0 && r.getString(1).toInt % 2 == 0)
    val evenOdd = est.filter(r =>
      r.getString(0).toInt % 2 != r.getString(1).toInt % 2)
    val jSame = evenEven.map(_.getDouble(2)).sum / evenEven.length
    val jCross = evenOdd.map(_.getDouble(2)).sum / evenOdd.length
    // exact spot-check for pair (0, 2): distributed distinct shingles
    val sh = CacheTracker.pin(docs.where(col("source").isin("0", "2"))
      .select(col("source"),
        explode(VectorFunctions.wordShingles(col("text"), 3)).as("shingle"))
      .distinct())
    val both = sh.groupBy(col("shingle"))
      .agg(countDistinct(col("source")).as("ns"))
    val inter = both.where(col("ns") === 2).count()
    val union = both.count()
    CacheTracker.releaseAll()
    val jExact = inter.toDouble / union
    val j02 = est.find(r => r.getString(0) == "0" && r.getString(1) == "2")
      .get.getDouble(2)
    emit("mode" -> "kmvoverlap", "n" -> n, "sources" -> nSources,
      "pairs" -> est.length, "sketch_sec" -> fixed(sec, 2),
      "j_mean_same_block" -> fixed(jSame, 4),
      "j_mean_cross_block" -> fixed(jCross, 4),
      "j_exact_0_2" -> fixed(jExact, 4), "j_est_0_2" -> j02)
  }

  /** Serving economics of the ROTATION-CARRYING OPQ layout at 1M (r15):
    * the PCA-allocated rotation persists beside the cells
    * (Opq.writeOpqLayoutRotated), so the highest-recall face serves from
    * disk WITHOUT re-fitting the eigenbasis — the opqrecall anisotropic
    * corpus, the pqserve reporting shape. Recall is against raw-space
    * ground truth (rotations preserve cosine).
    */
  private def opqServe(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val (dim, k, nQ) = (64, 10, 25)
    val (kCoarse, nProbe, m, kSub) = (1000, 4, 8, 256)
    val raw = CacheTracker.fill(anisotropic(spark, n, dim))
    val rawQ = queriesOf(raw, nQ)
    val truth = truthOf(raw, rawQ, k)
    val (pcaR, rotFitSec) = timed(Opq.fitPcaRotation(raw, dim, m))
    val rotated = CacheTracker.fill(raw.select(col("vec_id"),
      Opq.rotationColumn(col("embedding"), pcaR).as("embedding")))
    val (rm, fitSec) = timed(ProductQuantization.fitResidual(rotated, dim, kCoarse,
      coarseIters = 2, m, kSub, pqIters = 2))
    val path = java.nio.file.Files.createTempDirectory("opqserve").toString
    val (_, writeSec) = timed(Opq.writeOpqLayoutRotated(raw, rm, pcaR, path))
    releaseAllBut(raw)
    def serve(cf: Int): (Double, Double) = timedRecall(
      Opq.opqKnnBatchFromLayoutRotated(spark, path, raw, rawQ, nProbe, k, cf), truth)
    serve(2) // warm the JIT + file-index caches
    for (cf <- Seq(2, 8)) {
      val (r, sec) = serve(cf)
      emit("mode" -> "opqserve", "rotation" -> "pca", "n" -> n,
        "dim" -> dim, "m" -> m, "k_sub" -> kSub, "k_coarse" -> kCoarse,
        "n_probe" -> nProbe, "k" -> k, "cand_factor" -> cf,
        "rotation_fit_sec" -> fixed(rotFitSec, 2),
        "fit_sec" -> fixed(fitSec, 2),
        "write_sec" -> fixed(writeSec, 2),
        "serve_sec" -> fixed(sec, 2),
        "ms_per_query" -> fixed(sec * 1000 / nQ, 2),
        "recall" -> fixed(r, 4))
    }
    CacheTracker.releaseAll()
  }

  /** Serving economics of the persisted residual-PQ layout at 1M: train +
    * encode + write once, then answer query batches off the
    * 16×-compressed codes with per-probe cell-directory pruning — the
    * ms/query number the layout face's 100 TB story rests on.
    */
  private def pqServe(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val dim = 64
    val base = CacheTracker.fill(vecs(spark, n, dim))
    val (rm, fitSec) = timed(ProductQuantization.fitResidual(
      base, dim, kCoarse = 256, coarseIters = 2, m = 8, kSub = 16,
      pqIters = 2))
    val path = java.nio.file.Files.createTempDirectory("pqserve").toString
    val (_, writeSec) = timed(ProductQuantization.writeResidualLayout(base, rm, path))
    // resident codes, the serving steady state
    val codes = CacheTracker.fill(spark.read.parquet(s"$path/cells"))
    def queryBatch(qn: Int, salt: Long) =
      base.where(col("vec_id") % 1999 === salt).limit(qn) // ~500/salt
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
    def serve(qn: Int, salt: Long, bulk: Boolean = false): Double = timed {
      val out =
        if (bulk) ProductQuantization.residualAdcKnnBulk(base, codes, rm,
          queryBatch(qn, salt), nProbe = 8, k = 10, candFactor = 8)
        else ProductQuantization.residualAdcKnnBatchFrom(base, codes, rm,
          queryBatch(qn, salt), nProbe = 8, k = 10, candFactor = 8)
      val rows = out.count()
      require(rows == qn * 10L,
        s"${if (bulk) "bulk served" else "served"} $rows of ${qn * 10}")
    }._2
    serve(8, 1L); serve(8, 1L, bulk = true) // warm the JIT + codes cache
    val one = (2L to 4L).map(s => serve(1, s)).min
    val b64 = (5L to 7L).map(s => serve(64, s)).min
    val bulk64 = (5L to 7L).map(s => serve(64, s, bulk = true)).min
    val bulk256 = serve(256, 8L, bulk = true)
    CacheTracker.releaseAll()
    emit("mode" -> "pqserve", "n" -> n, "dim" -> dim, "k_coarse" -> 256,
      "m" -> 8, "k_sub" -> 16, "n_probe" -> 8,
      "fit_sec" -> fixed(fitSec, 1), "encode_write_sec" -> fixed(writeSec, 1),
      "q1_ms" -> fixed(one * 1000, 1),
      "q64_batch_sec" -> fixed(b64, 2),
      "q64_ms_per_query" -> fixed(b64 * 1000 / 64, 2),
      "bulk64_sec" -> fixed(bulk64, 2),
      "bulk64_ms_per_query" -> fixed(bulk64 * 1000 / 64, 2),
      "bulk256_sec" -> fixed(bulk256, 2),
      "bulk256_ms_per_query" -> fixed(bulk256 * 1000 / 256, 2))
  }

  /** DSIR at selection scale: a 1M raw pool where 5% of docs are PLANTED
    * target-like (drawing from the target vocabulary), the rest
    * background; a 100k target corpus defines p̂. Measured: can the
    * hashed-n-gram importance weight separate the plant, and at what
    * throughput? Docs are 20 tokens, half topical / half common — the
    * common mass is what smoothed ratios must see through.
    */
  private def dsir(spark: SparkSession, args: Array[String]): Unit = {
    val n = long(args, 1, 1000000L)
    val nTgt = n / 10
    val buckets = 4096
    def tok(vocab: String, vSize: Int, salt: Int) =
      s"concat('$vocab', abs(xxhash64(id, j, $salt)) % $vSize)"
    def docText(topical: String) =
      expr("concat_ws(' ', transform(sequence(0, 19), j -> " +
        s"CASE WHEN abs(xxhash64(id, j, 1)) % 2 = 0 THEN $topical " +
        s"ELSE ${tok("com", 1000, 3)} END))")
    val raw = CacheTracker.fill(spark.range(0, n, 1, cpus(spark))
      .select(col("id").as("doc_id"),
        when(col("id") % 20 === 0, docText(tok("tgt", 500, 2)))
          .otherwise(docText(tok("bg", 1000, 2))).as("text")))
    val target = CacheTracker.fill(spark.range(0, nTgt, 1, cpus(spark))
      .select((col("id") + n).as("doc_id"),
        docText(tok("tgt", 500, 4)).as("text")))
    val nPlanted = raw.where(col("doc_id") % 20 === 0).count()
    val (model, fitSec) = timed(CacheTracker.fill(
      Dsir.bucketLogRatios(raw, target, buckets).select(col("bucket"), col("lr"))))
    val (w, scoreSec) = timed(CacheTracker.fill(Dsir.weightsWithModel(raw, model, buckets)))
    // selection quality: take exactly nPlanted docs; precision = fraction
    // planted (chance level = 5%)
    val (picked, selSec) = timed(w.orderBy(col("logw").desc, col("doc_id"))
      .limit(nPlanted.toInt)
      .where(col("doc_id") % 20 === 0).count())
    val precision = picked.toDouble / nPlanted
    // weight separation: mean logw of planted vs background
    val Array(mPlant, mBg) = w
      .groupBy((col("doc_id") % 20 === 0).as("planted"))
      .agg(avg(col("logw")).as("m"))
      .orderBy(col("planted").desc)
      .collect().map(_.getDouble(1))
    CacheTracker.releaseAll()
    emit("mode" -> "dsir", "n_raw" -> n, "n_target" -> nTgt,
      "buckets" -> buckets, "n_planted" -> nPlanted,
      "fit_sec" -> fixed(fitSec, 2), "score_sec" -> fixed(scoreSec, 2),
      "select_sec" -> fixed(selSec, 2),
      "docs_per_sec" -> (n / scoreSec).toLong,
      "precision_at_planted" -> fixed(precision, 4),
      "mean_logw_planted" -> fixed(mPlant, 2),
      "mean_logw_background" -> fixed(mBg, 2))
  }
}
