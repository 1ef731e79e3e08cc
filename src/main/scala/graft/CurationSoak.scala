package graft

import org.apache.spark.sql.functions._

import graft.operators.{Coreset, Dsir, Projection, Sketches}

/** Scale soak for the round-11 curation operators — measured points for
  * the 100 TB arguments, same policy as DedupSoak/GraphSoak: distributed
  * deterministic corpus generation (no driver arrays), one JSON line out.
  *
  * Usage: graft.CurationSoak [mode] [n] [dOut]
  *   mode ∈ projection | coreset | pca | reducerecall | kmvoverlap
  *   (default: all)
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
  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 0) args(0) else "all"
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local(cpus)
    val nPart = cpus

    def vecs(n: Long, dim: Int) = spark.range(0, n, 1, nPart)
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "j -> cast(abs(xxhash64(id, j)) % 2000 as double) / 1000.0 - 1.0)")
          .as("embedding"))

    if (mode == "projection" || mode == "all") {
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val (dIn, dOut) = (256, 32)
      val base = vecs(n, dIn).persist()
      base.count()
      val t0 = System.nanoTime()
      val p = Projection.randomProject(base, dIn, dOut)
      // force every projected value (sum of all dims of all rows)
      p.select(sum(aggregate(col("rp"), lit(0.0), (a, x) => a + x))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      val dev = base.select(col("vec_id"),
          aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x).as("n2"))
        .join(p, "vec_id")
        .select(abs(aggregate(col("rp"), lit(0.0), (a, x) => a + x * x) /
          col("n2") - 1.0).as("dev"))
        .agg(avg(col("dev"))).head().getDouble(0)
      base.unpersist()
      println(s"""{"mode":"projection","n":$n,"d_in":$dIn,"d_out":$dOut,""" +
        s""""project_sec":${f"$sec%.2f"},""" +
        s""""rows_per_sec":${(n / sec).toLong},""" +
        s""""mean_norm_distortion":${f"$dev%.4f"}}""")
    }

    if (mode == "coreset" || mode == "all") {
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val k = 16
      val base = vecs(n, 64).persist()
      base.count()
      val t0 = System.nanoTime()
      val picks = Coreset.kCenter(base, k).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      base.unpersist()
      val radii = picks.map(_.getDouble(2))
      println(s"""{"mode":"coreset","n":$n,"dim":64,"k":$k,""" +
        s""""total_sec":${f"$sec%.2f"},""" +
        s""""sec_per_round":${f"${sec / k}%.2f"},""" +
        s""""covering_radius":${radii.last},""" +
        s""""first_radius":${radii(1)}}""")
    }

    if (mode == "pca" || mode == "all") {
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val (dim, c) = (256, 32)
      val base = vecs(n, dim).persist()
      base.count()
      val t0 = System.nanoTime()
      val (vals, _, _) = graft.operators.Pca.fitComponents(base, dim, c)
      val fitSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val proj = graft.operators.Pca.pcaProject(base, dim, c)
      val nOut = proj.count()
      val projSec = (System.nanoTime() - t1) / 1e9
      base.unpersist()
      println(s"""{"mode":"pca","n":$n,"dim":$dim,"c":$c,""" +
        s""""fit_sec":${f"$fitSec%.2f"},"project_sec":${f"$projSec%.2f"},""" +
        s""""rows_out":$nOut,""" +
        s""""top_eigenvalue":${f"${vals.head}%.4f"},""" +
        s""""explained_top8":${f"${vals.take(8).sum / vals.sum}%.4f"}}""")
    }

    if (mode == "reducerecall" || mode == "all") {
      // reduce-then-search QUALITY: on a CLUSTERED corpus (uniform noise
      // has no recoverable NN structure), measure recall@10 of candidate
      // generation in JL-16 and PCA-16 space vs exact full-dim truth,
      // plus the serving pattern: top-50 reduced candidates + exact
      // rerank. The number a practitioner needs before trusting the
      // projection in front of an index.
      val n = if (args.length > 1) args(1).toLong else 200000L
      val dOutArg = if (args.length > 2) args(2).toInt else 16
      val candArg = if (args.length > 3) args(3).toInt else 50
      val (dim, dOut, k, cand) = (64, dOutArg, 10, candArg)
      val base = spark.range(0, n, 1, nPart)
        .select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), j -> " +
            "cast(abs(xxhash64(id % 1000, j)) % 2000 as double) / 1000.0 - 1.0 + " +
            "(cast(abs(xxhash64(id, j)) % 2000 as double) / 1000.0 - 1.0) * 0.3)")
            .as("embedding"))
        .persist()
      base.count()
      val queries = base.where(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      import graft.operators.{Knn, Pca, Projection}
      import graft.functions.VectorFunctions
      def topIds(corpus: org.apache.spark.sql.DataFrame, vc: String, kk: Int) =
        Knn.knnBatch(corpus, queries.select(col("query_id"),
            (if (vc == "embedding") col("qv")
             else Projection.projectColumn(col("qv"), dim, dOut)).as("qv")),
          kk, VectorFunctions.cosine, vecCol = vc)
          .select(col("query_id"), col("vec_id"))
      def recallOf(got: org.apache.spark.sql.DataFrame,
          truth: Map[Long, Set[Long]]): Double = {
        val byQ = got.collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
        byQ.map { case (q, ids) =>
          (ids & truth(q)).size.toDouble / truth(q).size }.sum / byQ.size
      }
      val truth = topIds(base, "embedding", k).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val jlCorpus = Projection.randomProject(base, dim, dOut)
        .withColumnRenamed("rp", "rpv").persist()
      jlCorpus.count()
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
      val (_, w, mu) = Pca.fitComponents(base, dim, dOut)
      val shift = w.map(r0 => r0.zip(mu).map { case (a, b) => a * b }.sum)
      def pcaCol(c0: org.apache.spark.sql.Column) =
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.ArrayMatVec(
            org.apache.spark.sql.graftbridge.Bridge
              .expression(c0.cast("array<double>")),
            w.flatten.toSeq, dim, dOut, 1.0, 6, shift.toSeq))
      val pcaCorpus = base.select(col("vec_id"), pcaCol(col("embedding")).as("pcv"))
        .persist()
      pcaCorpus.count()
      val pcaGot = Knn.knnBatch(pcaCorpus,
        queries.select(col("query_id"), pcaCol(col("qv")).as("qv")),
        k, VectorFunctions.cosine, vecCol = "pcv")
        .select(col("query_id"), col("vec_id"))
      val pcaRecall = recallOf(pcaGot, truth)
      pcaCorpus.unpersist()
      base.unpersist()
      println(s"""{"mode":"reducerecall","n":$n,"dim":$dim,"d_out":$dOut,""" +
        s""""k":$k,"jl_recall":${f"$jlRecall%.4f"},""" +
        s""""jl_rerank${cand}_recall":${f"$jlRerankRecall%.4f"},""" +
        s""""pca_recall":${f"$pcaRecall%.4f"}}""")
    }

    if (mode == "kmeans" || mode == "all") {
      // integer-exact Lloyd at production shape: 1M x 64 over 256
      // cells, 3 iterations — per iteration ONE broadcast argmin pass
      // (one row per vector on the exchange) + ONE (cent, dim)-keyed
      // sum bounded at k*dim groups; the claim is flat per-iteration
      // cost and a k*dim driver state only
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val kCells = if (args.length > 2) args(2).toInt else 256
      val iters = 3
      val base = vecs(n, 64).persist()
      base.count()
      val t0 = System.nanoTime()
      val model = graft.operators.Kmeans.fit(base, kCells, iters)
      val fitSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      // force the distances, not a prunable count: Catalyst strips
      // unreferenced columns under count(), which made the first cut of
      // this metric read 1.16 s while the real pass cost minutes
      val assignRow = graft.operators.Kmeans
        .assignFace(base, kCells, 0)
        .agg(count(lit(1)).as("c"), avg(col("sqdist_micro")).as("s")).head()
      // avg, not sum: per-row sqdist reaches dim·(2·10⁶)² ≈ 2.6e14 and a
      // LONG sum over ≥ 40k rows overflows under ANSI (found at 400k)
      val assignSec = (System.nanoTime() - t1) / 1e9
      val nOut = assignRow.getLong(0)
      require(nOut == n && !assignRow.isNullAt(1),
        s"assignment lost rows: $nOut of $n")
      val spread = model.centroids.map(_._2.head)
      graft.CacheTracker.releaseAll()
      base.unpersist()
      println(s"""{"mode":"kmeans","n":$n,"dim":64,"k":$kCells,""" +
        s""""iterations":$iters,"fit_sec":${f"$fitSec%.2f"},""" +
        s""""sec_per_iter":${f"${fitSec / iters}%.2f"},""" +
        s""""assign_sec":${f"$assignSec%.2f"},""" +
        s""""dim0_spread":${spread.max - spread.min}}""")
    }

    if (mode == "bqrecall" || mode == "all") {
      // binary-quantization operating curve: recall@10 of the two-stage
      // Hamming-cut + exact-rerank path vs exact truth, swept over
      // candFactor × dim at 1M CLUSTERED vectors (the hard corpus the
      // reducerecall soak uses — uniform noise has no recoverable NN
      // structure) — pricing the 32× compression like every other ANN
      // path here.
      import graft.operators.{BinaryQuantization, Knn}
      import graft.functions.VectorFunctions
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val (k, nQ) = (10, 100)
      for (dim <- Seq(64, 128)) {
        val base = spark.range(0, n, 1, nPart)
          .select(col("id").as("vec_id"),
            expr(s"transform(sequence(0, ${dim - 1}), j -> " +
              "cast(abs(xxhash64(id % 1000, j)) % 2000 as double) / 1000.0 - 1.0 + " +
              "(cast(abs(xxhash64(id, j)) % 2000 as double) / 1000.0 - 1.0) * 0.3)")
              .as("embedding"))
          .persist()
        base.count()
        val queries = base.where(col("vec_id") < nQ)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val truth = Knn.knnBatch(base, queries, k, VectorFunctions.cosine)
          .select(col("query_id"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        for (cf <- Seq(2, 4, 8, 16)) {
          val t0 = System.nanoTime()
          val got = BinaryQuantization.bqKnnBatch(base, queries, k, cf, dim)
            .select(col("query_id"), col("vec_id")).collect()
          val sec = (System.nanoTime() - t0) / 1e9
          val byQ = got.map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
          val recall = byQ.map { case (q, ids) =>
            (ids & truth(q)).size.toDouble / truth(q).size }.sum / byQ.size
          println(s"""{"mode":"bqrecall","n":$n,"dim":$dim,"k":$k,""" +
            s""""cand_factor":$cf,"recall":${f"$recall%.4f"},""" +
            s""""search_sec":${f"$sec%.2f"}}""")
        }
        base.unpersist()
      }
    }

    if (mode == "bqautosize" || mode == "all") {
      // BQ candFactor AUTO-SIZING at 1M on two cluster geometries (the
      // r12 finding automated): size candFactor from measured occupancy
      // for a target recall, then verify the sized search actually
      // clears the target; and on a geometry whose occupancy exceeds
      // the cost ceiling, the rule must REFUSE loudly — the automated
      // "BQ is the wrong tool here" signal.
      import graft.operators.{BinaryQuantization, Knn}
      import graft.functions.VectorFunctions
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val (dim, k, nQ, target) = (64, 10, 25, 0.1)
      def clustered(nClusters: Int) = spark.range(0, n, 1, nPart)
        .select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), j -> " +
            s"cast(abs(xxhash64(id % $nClusters, j)) % 2000 as double) / 1000.0 - 1.0 + " +
            "(cast(abs(xxhash64(id, j)) % 2000 as double) / 1000.0 - 1.0) * 0.3)")
            .as("embedding"))
      // geometry B: 256 clusters of ~n/256 — sized candFactor fits the
      // cap and the measured recall must clear the target
      val base = clustered(256).persist()
      base.count()
      val cf = BinaryQuantization.autoCandFactor(base, k, target,
        kCells = 256, iterations = 2)
      val queries = base.where(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val truth = Knn.knnBatch(base, queries, k, VectorFunctions.cosine)
        .select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val got = BinaryQuantization.bqKnnBatch(base, queries, k, cf, dim)
        .select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val recall = got.map { case (q, ids) =>
        (ids & truth(q)).size.toDouble / truth(q).size }.sum / got.size
      println(s"""{"mode":"bqautosize","n":$n,"n_clusters":256,""" +
        s""""target_recall":$target,"sized_cand_factor":$cf,""" +
        s""""measured_recall":${f"$recall%.4f"},""" +
        s""""target_met":${recall >= target}}""")
      base.unpersist()
      graft.CacheTracker.releaseAll()
      // geometry A: 64 clusters of ~n/64 — occupancy implies candFactor
      // past the cap; the rule must refuse with the wrong-tool message
      val wide = clustered(64).persist()
      wide.count()
      val refused = try {
        val c = BinaryQuantization.autoCandFactor(wide, k, target,
          kCells = 64, iterations = 2)
        s"""{"mode":"bqautosize","n":$n,"n_clusters":64,"UNEXPECTED_cf":$c}"""
      } catch {
        case e: IllegalArgumentException =>
          s"""{"mode":"bqautosize","n":$n,"n_clusters":64,""" +
            s""""refused":true,"reason":"${e.getMessage.takeWhile(_ != '\n')
              .replace("\"", "'").take(160)}"}"""
      }
      println(refused)
      wide.unpersist()
      graft.CacheTracker.releaseAll()
    }

    if (mode == "pqrecall" || mode == "all") {
      // integer-exact PQ operating curve at 1M CLUSTERED vectors — the
      // bqrecall corpus — swept over candFactor × codebook geometry.
      // The claim from the r12 BQ finding: within-cluster ranking needs
      // fine-grained distance resolution; PQ's per-subspace codebooks
      // supply exactly that, so recall should clear BQ's 0.14–0.37 band
      // at the SAME candFactors (at 16× compression vs BQ's 32×).
      import graft.operators.{Knn, ProductQuantization}
      import graft.functions.VectorFunctions
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val (dim, k, nQ, iters) = (64, 10, 25, 3)
      val base = spark.range(0, n, 1, nPart)
        .select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), j -> " +
            "cast(abs(xxhash64(id % 1000, j)) % 2000 as double) / 1000.0 - 1.0 + " +
            "(cast(abs(xxhash64(id, j)) % 2000 as double) / 1000.0 - 1.0) * 0.3)")
            .as("embedding"))
        .persist()
      base.count()
      val queries = base.where(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val truth = Knn.knnBatch(base, queries, k, VectorFunctions.cosine)
        .select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // geometries sweep SUBSPACE RESOLUTION: at dim 64, m=8 leaves
      // dsub=8 (256 cells ⇒ cell side ~2/256^(1/8) = 1.0, ABOVE the
      // fixture's 0.6 within-cluster spread — whole clusters share a
      // code, the BQ blindness); m=16 halves dsub (cell side ~0.5,
      // below it — codes differ INSIDE a cluster and ADC can rank there)
      for ((m, kSub) <- Seq((8, 64), (8, 256), (16, 256))) {
        val t0 = System.nanoTime()
        val models = ProductQuantization.fitExact(base, dim, m, kSub, iters)
        val fitSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val encoded = ProductQuantization.encodeExact(base, models, dim)
          .persist()
        encoded.count()
        val encodeSec = (System.nanoTime() - t1) / 1e9
        for (cf <- Seq(1, 2, 4, 8)) {
          val t2 = System.nanoTime()
          val got = ProductQuantization.exactAdcKnnBatchFrom(
            base, encoded, models, queries, k, cf)
            .select(col("query_id"), col("vec_id")).collect()
          val sec = (System.nanoTime() - t2) / 1e9
          val byQ = got.map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
          val recall = byQ.map { case (q, ids) =>
            (ids & truth(q)).size.toDouble / truth(q).size }.sum / byQ.size
          println(s"""{"mode":"pqrecall","n":$n,"dim":$dim,"m":$m,""" +
            s""""k_sub":$kSub,"k":$k,"cand_factor":$cf,""" +
            s""""recall":${f"$recall%.4f"},""" +
            s""""fit_sec":${f"$fitSec%.2f"},""" +
            s""""encode_sec":${f"$encodeSec%.2f"},""" +
            s""""search_sec":${f"$sec%.2f"}}""")
        }
        encoded.unpersist()
        graft.CacheTracker.releaseAll()
      }
      // RESIDUAL (IVF-)PQ on the same corpus — the structural remedy:
      // a 1000-cell coarse quantizer (first-k init lands one centroid
      // per planted cluster) absorbs the cluster geometry; the m=8
      // codebooks then quantize pure within-cluster offsets, which is
      // exactly the resolution flat PQ spent on cluster centers
      for ((m, kSub) <- Seq((8, 256), (16, 256))) {
        val (kCoarse, nProbe) = (1000, 4)
        val qRows = queries.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
        val t0 = System.nanoTime()
        val rm = ProductQuantization.fitResidual(base, dim, kCoarse,
          coarseIters = 2, m, kSub, pqIters = 2)
        val fitSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val encoded = ProductQuantization.encodeResidual(base, rm).persist()
        encoded.count()
        val encodeSec = (System.nanoTime() - t1) / 1e9
        val spark2 = spark
        import spark2.implicits._
        for (cf <- Seq(1, 2, 4, 8)) {
          val t2 = System.nanoTime()
          val recalls = qRows.map { case (qid, qv) =>
            val qdf = Seq(qv).toDF("qv")
            val ids = ProductQuantization.residualAdcKnnFrom(
              base, encoded, rm, qdf, nProbe, k, cf)
              .select(col("vec_id")).collect().map(_.getLong(0)).toSet
            (ids & truth(qid)).size.toDouble / truth(qid).size
          }
          val sec = (System.nanoTime() - t2) / 1e9
          val recall = recalls.sum / recalls.length
          println(s"""{"mode":"pqrecall","variant":"residual","n":$n,""" +
            s""""dim":$dim,"m":$m,"k_sub":$kSub,"k_coarse":$kCoarse,""" +
            s""""n_probe":$nProbe,"k":$k,"cand_factor":$cf,""" +
            s""""recall":${f"$recall%.4f"},""" +
            s""""fit_sec":${f"$fitSec%.2f"},""" +
            s""""encode_sec":${f"$encodeSec%.2f"},""" +
            s""""search_sec":${f"$sec%.2f"}}""")
        }
        encoded.unpersist()
        graft.CacheTracker.releaseAll()
      }
      base.unpersist()
    }

    if (mode == "opqrecall" || mode == "all") {
      // OPQ recall-at-equal-bytes at 1M ANISOTROPIC clustered vectors:
      // within-cluster noise rides ONLY the first 8 dims (amplitude 0.6
      // there, 0.02 elsewhere), so flat residual PQ's subspace 0 carries
      // ALL the rankable signal (one saturated codebook) while
      // subspaces 1..7 quantize near-constants (wasted bytes) — the
      // axis-aligned variance skew OPQ rotations exist to fix. Same
      // code budget everywhere (kCoarse=1000, m=8, kSub=256, 10 bytes/
      // vector): identity vs seeded-sign Hadamard vs PCA eigenbasis
      // with Ge-style eigenvalue allocation. Ground truth is computed
      // once on the RAW corpus — both rotations are orthonormal, so the
      // true neighbor sets are identical in every space.
      import graft.operators.{Knn, Opq, ProductQuantization}
      import graft.functions.VectorFunctions
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val (dim, k, nQ) = (64, 10, 25)
      val (kCoarse, nProbe, m, kSub) = (1000, 4, 8, 256)
      val raw = spark.range(0, n, 1, nPart)
        .select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), j -> " +
            "cast(abs(xxhash64(id % 1000, j)) % 2000 as double) / 1000.0 - 1.0 + " +
            "(cast(abs(xxhash64(id, j)) % 2000 as double) / 1000.0 - 1.0) * " +
            "(CASE WHEN j < 8 THEN 0.6 ELSE 0.02 END))")
            .as("embedding"))
        .persist()
      raw.count()
      val rawQ = raw.where(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val truth = Knn.knnBatch(raw, rawQ, k, VectorFunctions.cosine)
        .select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val tR = System.nanoTime()
      val pcaR = Opq.fitPcaRotation(raw, dim, m)
      val pcaFitSec = (System.nanoTime() - tR) / 1e9
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
        val corpus = if (name == "flat") corpus0 else corpus0.persist()
        corpus.count()
        val t0 = System.nanoTime()
        val rm = ProductQuantization.fitResidual(corpus, dim, kCoarse,
          coarseIters = 2, m, kSub, pqIters = 2)
        val fitSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val encoded = ProductQuantization.encodeResidual(corpus, rm).persist()
        encoded.count()
        val encodeSec = (System.nanoTime() - t1) / 1e9
        for (cf <- Seq(2, 8)) {
          val t2 = System.nanoTime()
          val got = ProductQuantization.residualAdcKnnBatchFrom(
            corpus, encoded, rm, queries, nProbe, k, cf)
            .select(col("query_id"), col("vec_id")).collect()
          val sec = (System.nanoTime() - t2) / 1e9
          val byQ = got.map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
          val recall = byQ.map { case (q, ids) =>
            (ids & truth(q)).size.toDouble / truth(q).size }.sum / byQ.size
          println(s"""{"mode":"opqrecall","rotation":"$name","n":$n,""" +
            s""""dim":$dim,"m":$m,"k_sub":$kSub,"k_coarse":$kCoarse,""" +
            s""""n_probe":$nProbe,"k":$k,"cand_factor":$cf,""" +
            s""""recall":${f"$recall%.4f"},""" +
            s""""fit_sec":${f"$fitSec%.2f"},""" +
            (if (name == "pca") s""""rotation_fit_sec":${f"$pcaFitSec%.2f"},"""
             else "") +
            s""""encode_sec":${f"$encodeSec%.2f"},""" +
            s""""search_sec":${f"$sec%.2f"}}""")
        }
        encoded.unpersist()
        if (name != "flat") corpus.unpersist()
        graft.CacheTracker.releaseAll()
      }
      raw.unpersist()
    }

    if (mode == "graphrefresh" || mode == "all") {
      // incremental kNN-graph refresh vs full rebuild: a 5k MIXED delta
      // (changes + DELETES + adds, centroid ids untouched) against a
      // 500k base at realistic cell count (~√n). Deletes are the
      // expensive branch — every src whose base top-k held a deleted
      // neighbor joins the full re-cut (lossySrcs, sized by the
      // delta's in-degree) — so the mixed soak prices exactly what the
      // pure-adds loop soak cannot. The claim under test: refresh cost
      // ∝ touched-cell volume + |delta|, not n — the same discipline
      // refreshResident proved for the serving index.
      val n = if (args.length > 1) args(1).toLong else 500000L
      val dDelta = if (args.length > 2) args(2).toLong else 5000L
      val (dim, k, nProbe) = (64, 8, 4)
      val nCents = math.max(16, math.sqrt(n.toDouble).toInt)
      require(n > 200000L + dDelta / 3,
        "mixed delta plants changes at 100k and deletes at 200k")
      val base = vecs(n, dim).persist()
      base.count()
      // delta thirds: changed rows (ids ≥ 100000, far from the first
      // nCents centroid ids), DELETED rows (ids ≥ 200000, no re-add),
      // appended rows (ids ≥ n)
      val third = dDelta / 3
      val adds = vecs(third, dim)
        .select((col("vec_id") + 100000L).as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), " +
            "j -> cast(abs(xxhash64(vec_id + 7, j)) % 2000 as double) " +
            "/ 1000.0 - 1.0)").as("embedding"))
        .unionByName(vecs(dDelta - 2 * third, dim)
          .select((col("vec_id") + n).as("vec_id"), col("embedding")))
      val removes = spark.range(200000L, 200000L + third)
        .select(col("id").as("vec_id"))
      val newEmb = base
        .where(!(col("vec_id") >= 100000L &&
          col("vec_id") < lit(100000L + third)))
        .where(!(col("vec_id") >= 200000L &&
          col("vec_id") < lit(200000L + third)))
        .unionByName(adds)
        .persist()
      newEmb.count()
      // 1. base build (warms JIT for every downstream measurement too)
      val t0 = System.nanoTime()
      val st = graft.operators.Ivf.knnGraphBuild(base, k, nCents, nProbe)
      val stEdges = st.edges.persist()
      stEdges.count() // materialize base edges: refresh consumes them
      val buildSec = (System.nanoTime() - t0) / 1e9
      // 2. full rebuild on the new corpus, measured with ONLY the
      //    persisted corpus available (base artifacts released first so
      //    no cached subplan can flatter it; re-pinned after)
      stEdges.unpersist()
      graft.CacheTracker.releaseAll()
      val t2 = System.nanoTime()
      val rebuiltCount = graft.operators.Ivf
        .knnGraph(newEmb, k, nCents, nProbe).count()
      val rebuildSec = (System.nanoTime() - t2) / 1e9
      graft.CacheTracker.releaseAll()
      // 3. refresh, consuming re-pinned base artifacts (what a serving
      //    loop holds); each generation persists its own edge artifact
      //    — that persist+count IS the generation's cost
      val stP = st.copy(edges = stEdges.persist())
      st.ranked.persist().count(); stP.edges.count()
      val t1 = System.nanoTime()
      val refreshed0 = graft.operators.Ivf
        .knnGraphRefresh(stP, adds, removes, k, nCents, nProbe)
        .getOrElse(sys.error("unexpected rebuild fallback in soak")).state
      // generations pin via localCheckpoint (plan truncation — the
      // serving-loop discipline; a bare persist left gen 2 re-analyzing
      // gen 1's nested plans)
      val refreshed = graft.operators.Ivf.KnnGraphState(
        refreshed0.ranked.localCheckpoint(true),
        refreshed0.edges.localCheckpoint(true))
      val refreshedCount = refreshed.edges.count()
      val refreshSec = (System.nanoTime() - t1) / 1e9
      // 4. second generation in the same JVM: the steady-state number
      //    (gen 1 pays one-time JIT + union-cache materialization)
      val adds2 = vecs(dDelta / 2, dim)
        .select((col("vec_id") + n + dDelta).as("vec_id"), col("embedding"))
      val removes2 = newEmb.where(col("vec_id") >= n + dDelta / 2)
        .select(col("vec_id"))
      val t1b = System.nanoTime()
      val refreshed2 = graft.operators.Ivf
        .knnGraphRefresh(refreshed, adds2, removes2, k, nCents, nProbe)
        .getOrElse(sys.error("unexpected rebuild fallback in soak")).state
      refreshed2.edges.count()
      val refresh2Sec = (System.nanoTime() - t1b) / 1e9
      require(refreshedCount == rebuiltCount,
        s"refresh/rebuild row-count mismatch: $refreshedCount vs $rebuiltCount")
      graft.CacheTracker.releaseAll()
      base.unpersist(); newEmb.unpersist()
      println(s"""{"mode":"graphrefresh","n":$n,"delta":$dDelta,""" +
        s""""dim":$dim,"k":$k,"n_cents":$nCents,"n_probe":$nProbe,""" +
        s""""build_sec":${f"$buildSec%.2f"},""" +
        s""""refresh_sec":${f"$refreshSec%.2f"},""" +
        s""""refresh2_sec":${f"$refresh2Sec%.2f"},""" +
        s""""rebuild_sec":${f"$rebuildSec%.2f"},""" +
        s""""speedup":${f"${rebuildSec / refresh2Sec}%.1f"},""" +
        s""""edges":$refreshedCount}""")
    }

    if (mode == "graphtables") {
      // the one refresh algorithm over its two stores: the table store
      // (KnnGraphTables — manifest-pruned reads, exact-diff rewrites,
      // append-only inverted index) vs the frame store (in-memory state
      // + changed-bucket rewrite into src-bucketed state tables) on
      // IDENTICAL mixed deltas, interleaved per generation so JIT/GC
      // drift hits both paths equally. The scale claims under test:
      // path B's per-gen table READS are ∝ delta (bytes_read), its
      // executor-resident state is ZERO (the corpus lives on disk),
      // and its final state is row-identical to path A's.
      val n = if (args.length > 1) args(1).toLong else 200000L
      val gens = if (args.length > 2) args(2).toInt else 8
      val dDelta = if (args.length > 3) args(3).toInt else 200
      val nBuckets = if (args.length > 4) args(4).toInt else 1024
      val (dim, k, nProbe) = (64, 8, 4)
      // optional nCents override (args 5): the r18 cellidx-floor sweep
      // holds the corpus fixed and varies cell count to measure the
      // claimed b_read_by_table.cellidx ∝ 1/nCents falloff
      val nCents =
        if (args.length > 5) args(5).toInt
        else math.max(16, math.sqrt(n.toDouble).toInt)
      val third = dDelta / 3
      // change ids start at n/4, remove ids at n/2 (both clear of the
      // first nCents centroid ids), adds append past n
      require(n / 4 + gens.toLong * third < n / 2 &&
        n / 2 + gens.toLong * third < n,
        "delta id ranges must not collide across generations")
      val base = vecs(n, dim).persist()
      base.count()
      import graft.operators.{Ivf, KnnGraphTables}
      import graft.sources.StateTable
      val B = StateTable.BucketCol
      def idB(c: org.apache.spark.sql.Column) =
        StateTable.idBucket(c, nBuckets)
      def changedVecs(lo: Long, cnt: Long, seed: Int) =
        spark.range(lo, lo + cnt, 1, nPart)
          .select(col("id").as("vec_id"),
            expr(s"transform(sequence(0, ${dim - 1}), " +
              s"j -> cast(abs(xxhash64(id, j + $seed)) % 2000 as double) " +
              "/ 1000.0 - 1.0)").as("embedding"))
      // per-gen delta: third CHANGES (re-add with new vector), third
      // REMOVES, third ADDS — fresh id ranges every generation
      def deltaFor(g: Int) = {
        val c0 = n / 4 + (g - 1).toLong * third
        val r0 = n / 2 + (g - 1).toLong * third
        val a0 = n + (g - 1).toLong * third
        val adds = changedVecs(c0, third, 1000 + g)
          .unionByName(vecs(third, dim)
            .select((col("vec_id") + a0).as("vec_id"), col("embedding")))
        val removes = spark.range(c0, c0 + third)
          .select(col("id").as("vec_id"))
          .unionByName(spark.range(r0, r0 + third)
            .select(col("id").as("vec_id")))
        (adds, removes)
      }
      val dirRoot = java.nio.file.Files
        .createTempDirectory("graph-tables-soak").toString
      // shared base build feeds BOTH paths' initial state
      val t0 = System.nanoTime()
      KnnGraphTables.init(spark, s"$dirRoot/b", base, k, nCents, nProbe,
        nBuckets)
      val initSec = (System.nanoTime() - t0) / 1e9
      val st0 = KnnGraphTables.readState(spark, s"$dirRoot/b")
      val rankedA = new StateTable(spark, s"$dirRoot/a/ranked")
      val edgesA = new StateTable(spark, s"$dirRoot/a/edges")
      rankedA.init(st0.ranked.withColumn(B, idB(col("src_id"))), nBuckets)
      edgesA.init(st0.edges.withColumn(B, idB(col("src_id"))), nBuckets)
      var memA = Ivf.KnnGraphState(
        st0.ranked.localCheckpoint(true), st0.edges.localCheckpoint(true))
      val aSec = scala.collection.mutable.ArrayBuffer.empty[Double]
      val aStagedMb = scala.collection.mutable.ArrayBuffer.empty[Long]
      val aCachedMb = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bSec = scala.collection.mutable.ArrayBuffer.empty[Double]
      val bStagedMb = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bReadMb = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bChanged = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bRewritten = scala.collection.mutable.ArrayBuffer.empty[Int]
      val bCachedMb = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bStale = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bIdentity = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bTouchedMb = scala.collection.mutable.ArrayBuffer.empty[Long]
      var lastReadByTable = Map.empty[String, Long]
      var compactions = 0
      for (g <- 1 to gens) {
        val (adds, removes) = deltaFor(g)
        // ---- path A: in-memory frame refresh + bucket rewrite ----
        val tA = System.nanoTime()
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
        val aStaged = sr.bytes + se.bytes
        rankedA.commit(sr, affSb); edgesA.commit(se, affSb)
        val nextMem = Ivf.KnnGraphState(
          rr.state.ranked.localCheckpoint(true),
          rr.state.edges.localCheckpoint(true))
        // release the SUPERSEDED generation's checkpoints so path A's
        // resident metric reads steady state, not an accumulating chain
        memA.ranked.unpersist(false); memA.edges.unpersist(false)
        memA = nextMem
        graft.CacheTracker.releaseAll()
        aSec += (System.nanoTime() - tA) / 1e9
        aStagedMb += aStaged / 1000000
        aCachedMb += spark.sparkContext.getRDDStorageInfo
          .map(_.memSize).sum / 1000000
        // ---- path B: delta-driven table-native refresh ----
        val tB = System.nanoTime()
        val rep = KnnGraphTables.refresh(spark, s"$dirRoot/b", adds, removes)
          .getOrElse(sys.error("unexpected rebuild fallback in soak"))
        graft.CacheTracker.releaseAll()
        bSec += (System.nanoTime() - tB) / 1e9
        bStagedMb += (rep.stagedBytes + rep.appendedBytes) / 1000000
        bReadMb += rep.bytesRead / 1000000
        bChanged += rep.changedSrcs
        bRewritten += rep.bucketsRewritten
        bStale += rep.staleHits
        bIdentity += rep.identityRecomputes
        bTouchedMb += rep.bytesTouched / 1000000
        lastReadByTable = rep.readByTable
        if (rep.compacted || rep.probeCompacted) compactions += 1
        // B holds NO generation state in executor memory: total
        // resident after a B generation is path A's pinned state alone
        // (README cites the two arrays side by side)
        bCachedMb += spark.sparkContext.getRDDStorageInfo
          .map(_.memSize).sum / 1000000
      }
      // final parity: the two paths' states must be row-identical
      val stB = KnnGraphTables.readState(spark, s"$dirRoot/b")
      val edgeDiff = stB.edges.exceptAll(memA.edges).count() +
        memA.edges.exceptAll(stB.edges).count()
      val stateMb = Seq("meta", "cents", "ranked", "edges", "kth",
        "cellidx", "probeidx", "nbridx")
        .map(t => new StateTable(spark, s"$dirRoot/b/$t").diskBytes())
        .sum / 1000000
      base.unpersist()
      println(s"""{"mode":"graphtables","n":$n,"gens":$gens,""" +
        s""""delta":$dDelta,"n_buckets":$nBuckets,"n_cents":$nCents,""" +
        s""""init_sec":${f"$initSec%.1f"},""" +
        s""""a_gen_sec":[${aSec.map(x => f"$x%.1f").mkString(",")}],""" +
        s""""a_staged_mb":[${aStagedMb.mkString(",")}],""" +
        s""""a_cached_mb":[${aCachedMb.mkString(",")}],""" +
        s""""b_gen_sec":[${bSec.map(x => f"$x%.1f").mkString(",")}],""" +
        s""""b_staged_mb":[${bStagedMb.mkString(",")}],""" +
        s""""b_read_mb":[${bReadMb.mkString(",")}],""" +
        s""""cached_after_b_mb":[${bCachedMb.mkString(",")}],""" +
        s""""b_changed_srcs":[${bChanged.mkString(",")}],""" +
        s""""b_buckets_rewritten":[${bRewritten.mkString(",")}],""" +
        s""""b_stale_hits":[${bStale.mkString(",")}],""" +
        s""""b_identity_recomputes":[${bIdentity.mkString(",")}],""" +
        s""""b_touched_mb":[${bTouchedMb.mkString(",")}],""" +
        s""""b_read_by_table_last_mb":{${lastReadByTable.toSeq.sortBy(-_._2)
          .map { case (k, v) => s""""$k":${v / 1000000}""" }.mkString(",")}},""" +
        s""""b_compactions":$compactions,""" +
        s""""b_state_mb":$stateMb,""" +
        s""""edge_diff":$edgeDiff}""")
    }

    if (mode == "graphhorizon") {
      // LONG-HORIZON nbrIdx staleness/compaction evidence (r17): the
      // tables-only refresh loop run far enough to TRIP the 2×
      // compaction trigger, measuring what the append-only inverted
      // index actually costs before the rebuild and what the rebuild
      // pause is when it fires. Per generation: wall sec, stale index
      // hits (suspects that validated away), identity recomputes (live
      // suspects whose recompute changed nothing — the redundant work
      // stale entries cause), nbrIdx/edges byte ratio, compaction flag.
      // Ends with a from-scratch parity check on the final corpus.
      val n = if (args.length > 1) args(1).toLong else 40000L
      val gens = if (args.length > 2) args(2).toInt else 60
      val dDelta = if (args.length > 3) args(3).toInt else 400
      val nBuckets = if (args.length > 4) args(4).toInt else 256
      // probe-compaction trigger for THE RUN (percent of the live
      // mirror, default the production 200): the id-range collision
      // constraint caps gens at ~0.75·n/delta, which is exactly where
      // the probeIdx ratio reaches 2× — a sub-200 trigger lets the
      // horizon FIRE the vector-carrying rebuild inside the legal
      // range and measure its pause (the pause is trigger-independent)
      val probeTrigPct = if (args.length > 5) args(5).toInt else 200
      val (dim, k, nProbe) = (64, 8, 4)
      val nCents = math.max(16, math.sqrt(n.toDouble).toInt)
      val third = dDelta / 3
      require(n / 4 + gens.toLong * third < n / 2 &&
        n / 2 + gens.toLong * third < n,
        "delta id ranges must not collide across generations")
      val base = vecs(n, dim).persist()
      base.count()
      import graft.operators.KnnGraphTables
      import graft.sources.StateTable
      def changedVecs(lo: Long, cnt: Long, seed: Int) =
        spark.range(lo, lo + cnt, 1, nPart)
          .select(col("id").as("vec_id"),
            expr(s"transform(sequence(0, ${dim - 1}), " +
              s"j -> cast(abs(xxhash64(id, j + $seed)) % 2000 as double) " +
              "/ 1000.0 - 1.0)").as("embedding"))
      def deltaFor(g: Int) = {
        val c0 = n / 4 + (g - 1).toLong * third
        val r0 = n / 2 + (g - 1).toLong * third
        val a0 = n + (g - 1).toLong * third
        val adds = changedVecs(c0, third, 1000 + g)
          .unionByName(vecs(third, dim)
            .select((col("vec_id") + a0).as("vec_id"), col("embedding")))
        val removes = spark.range(c0, c0 + third)
          .select(col("id").as("vec_id"))
          .unionByName(spark.range(r0, r0 + third)
            .select(col("id").as("vec_id")))
        (adds, removes)
      }
      val dir = java.nio.file.Files
        .createTempDirectory("graph-horizon").toString
      val t0 = System.nanoTime()
      KnnGraphTables.init(spark, dir, base, k, nCents, nProbe, nBuckets)
      val initSec = (System.nanoTime() - t0) / 1e9
      val nbrT = new StateTable(spark, s"$dir/nbridx")
      val edgT = new StateTable(spark, s"$dir/edges")
      val prbT = new StateTable(spark, s"$dir/probeidx")
      val celT = new StateTable(spark, s"$dir/cellidx")
      var corpus = base.localCheckpoint(true)
      val sec = scala.collection.mutable.ArrayBuffer.empty[Double]
      val stale = scala.collection.mutable.ArrayBuffer.empty[Long]
      val identity = scala.collection.mutable.ArrayBuffer.empty[Long]
      val ratioPct = scala.collection.mutable.ArrayBuffer.empty[Long]
      val probeRatioPct = scala.collection.mutable.ArrayBuffer.empty[Long]
      val compactedAt = scala.collection.mutable.ArrayBuffer.empty[Int]
      val compactSec = scala.collection.mutable.ArrayBuffer.empty[Double]
      val probeCompactedAt = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (g <- 1 to gens) {
        val (adds, removes) = deltaFor(g)
        val tG = System.nanoTime()
        val rep = KnnGraphTables.refresh(spark, dir, adds, removes,
          probeCompactTrigger = probeTrigPct / 100.0)
          .getOrElse(sys.error("unexpected rebuild fallback in horizon soak"))
        graft.CacheTracker.releaseAll()
        val dt = (System.nanoTime() - tG) / 1e9
        sec += dt
        stale += rep.staleHits
        identity += rep.identityRecomputes
        ratioPct += 100L * nbrT.diskBytes() / math.max(1L, edgT.diskBytes())
        probeRatioPct += 100L * prbT.diskBytes() /
          math.max(1L, nProbe * celT.diskBytes())
        // one wall entry per compaction GENERATION (a gen where both
        // indexes compact would otherwise count its dt twice and
        // overstate the published pause array — r17 advice)
        if (rep.compacted) compactedAt += g
        if (rep.probeCompacted) probeCompactedAt += g
        if (rep.compacted || rep.probeCompacted) compactSec += dt
        val prev = corpus
        corpus = corpus
          .join(adds.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .join(removes, Seq("vec_id"), "left_anti")
          .unionByName(adds)
          .localCheckpoint(true)
        prev.unpersist(false)
      }
      // parity after the whole horizon (including through compactions)
      val stEnd = KnnGraphTables.readState(spark, dir)
      val fresh = graft.operators.Ivf.knnGraphBuild(corpus, k, nCents, nProbe)
      val edgeDiff = stEnd.edges.exceptAll(fresh.edges).count() +
        fresh.edges.exceptAll(stEnd.edges).count()
      base.unpersist()
      val sorted = sec.sorted
      println(s"""{"mode":"graphhorizon","n":$n,"gens":$gens,""" +
        s""""delta":$dDelta,"n_buckets":$nBuckets,"n_cents":$nCents,""" +
        s""""init_sec":${f"$initSec%.1f"},""" +
        s""""gen_p50_sec":${f"${sorted(sorted.length / 2)}%.1f"},""" +
        s""""gen_max_sec":${f"${sorted.last}%.1f"},""" +
        s""""stale_hits":[${stale.mkString(",")}],""" +
        s""""identity_recomputes":[${identity.mkString(",")}],""" +
        s""""nbr_vs_edges_pct":[${ratioPct.mkString(",")}],""" +
        s""""probe_vs_live_pct":[${probeRatioPct.mkString(",")}],""" +
        s""""probe_compacted_at_gens":[${probeCompactedAt.mkString(",")}],""" +
        s""""compacted_at_gens":[${compactedAt.mkString(",")}],""" +
        s""""compaction_gen_sec":[${compactSec.map(x => f"$x%.1f").mkString(",")}],""" +
        s""""edge_diff":$edgeDiff}""")
    }

    if (mode == "graphrefreshloop") {
      // sustained-ingest graph serving: N mutation generations through
      // streamingGraphRefresh; the claims under test are flat
      // per-generation latency AND flat storage in BYTES, LIVE RDDS,
      // and ON-DISK BLOCK FILES (the r13 fix: generations release the
      // checkpoint RDD's blocks — Dataset.unpersist alone left one
      // dead corpus-sized block per generation for the ContextCleaner)
      val n = if (args.length > 1) args(1).toLong else 200000L
      val gens = if (args.length > 2) args(2).toInt else 25
      val dDelta = 2000
      val (dim, k, nProbe) = (64, 8, 4)
      val nCents = math.max(16, math.sqrt(n.toDouble).toInt)
      val base = vecs(n, dim).persist()
      base.count()
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(String, Long, Seq[Double])]
      val (q, cur) = graft.streaming.StreamingOps.streamingGraphRefresh(
        stream.toDF().toDF("op", "vec_id", "vec"), base, k, nCents, nProbe)
      val genSec = scala.collection.mutable.ArrayBuffer.empty[Double]
      val storage = scala.collection.mutable.ArrayBuffer.empty[Long]
      val liveRdds = scala.collection.mutable.ArrayBuffer.empty[Int]
      val diskFiles = scala.collection.mutable.ArrayBuffer.empty[Long]
      // on-disk block files under THIS JVM's block-manager dirs (via the
      // bridge — counting every /tmp/blockmgr-* would read concurrent
      // Spark JVMs' churn as leaks) — the metric Dataset-level unpersist
      // could never move
      def blockFileCount(): Long = {
        def cnt(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles).map(_.map(cnt).sum).getOrElse(0L)
          else 1L
        org.apache.spark.sql.graftbridge.Bridge.localBlockDirs()
          .map(cnt).sum
      }
      try {
        for (g <- 1 to gens) {
          val rows = (0 until dDelta).map { j =>
            ("add", n + g.toLong * dDelta + j,
              (0 until dim).map(d =>
                ((g * 31 + j * 7 + d * 3) % 100) / 50.0 - 1.0))
          }
          val t0 = System.nanoTime()
          stream.addData(rows)
          q.processAllAvailable()
          genSec += (System.nanoTime() - t0) / 1e9
          storage += spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
          liveRdds += spark.sparkContext.getPersistentRDDs.size
          // dead generations' SHUFFLE files are reclaimed by the
          // ContextCleaner only after their dependency objects are
          // GC'd; on a large idle heap that can lag many generations —
          // force the collection (outside the timed window) so the
          // files metric measures LEAKED files, not cleaner lag
          System.gc()
          Thread.sleep(200)
          diskFiles += blockFileCount()
        }
      } finally q.stop()
      val finalEdges = cur().edges.count()
      graft.CacheTracker.releaseAll()
      base.unpersist()
      println(s"""{"mode":"graphrefreshloop","n":$n,"delta":$dDelta,""" +
        s""""gens":$gens,"n_cents":$nCents,""" +
        s""""gen_sec":[${genSec.map(x => f"$x%.1f").mkString(",")}],""" +
        s""""first_gen_sec":${f"${genSec.head}%.1f"},""" +
        s""""last_gen_sec":${f"${genSec.last}%.1f"},""" +
        s""""storage_mb":[${storage.map(_ / 1000000).mkString(",")}],""" +
        s""""live_rdds":[${liveRdds.mkString(",")}],""" +
        s""""disk_block_files":[${diskFiles.mkString(",")}],""" +
        s""""final_edges":$finalEdges}""")
    }

    if (mode == "sortedneighborhood" || mode == "all") {
      // the content-independence claim, measured: candidate count must be
      // EXACTLY n*(window-1) - boundary shortfall, regardless of content;
      // timing covers rank (prefix count) + self-join + exact verify
      val n = if (args.length > 1) args(1).toLong else 500000L
      val window = 4
      // planted adjacent near-dups: ids sharing id/100 differ only in a
      // suffix token, so their normalized texts sort adjacently
      val docs = spark.range(0, n, 1, nPart)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            expr("concat_ws(' ', transform(sequence(0, 19), " +
              "j -> concat('w', abs(xxhash64(id div 100, j)))))"),
            concat(lit("m"), col("id") % 100)).as("text"))
        .persist()
      docs.count()
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup
        .sortedNeighborhoodPairs(docs, n = 3, window = window, threshold = 0.3)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      CacheTracker.releaseAll()
      docs.unpersist()
      println(s"""{"mode":"sortedneighborhood","n":$n,"window":$window,""" +
        s""""pairs":$pairs,"sec":${f"$sec%.2f"},""" +
        s""""max_candidates":${n * (window - 1)}}""")
    }

    if (mode == "reduceindex" || mode == "all") {
      // reduce-then-INDEX: HNSW build + serve cost in PCA-reduced space
      // vs full dimension at the same n — the infrastructure payoff the
      // projection buys (graph distance evals scale with dim), next to
      // reducerecall's quality price for the same trade
      val n = if (args.length > 1) args(1).toLong else 200000L
      val (dim, dOut, shards, k) = (256, 32, 32, 10)
      val base = vecs(n, dim).persist()
      base.count()
      import graft.index.HnswSpark
      val queries = base.where(col("vec_id") < 100)
      val t0 = System.nanoTime()
      val full = HnswSpark.buildResident(base, HnswSpark.Params(dim = dim), shards)
      val buildFullSec = (System.nanoTime() - t0) / 1e9
      val qFull = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      val tq0 = System.nanoTime()
      val nFull = HnswSpark.searchResident(spark, full, qFull, k).count()
      val qFullSec = (System.nanoTime() - tq0) / 1e9
      full.unpersist(true)
      val (_, w, mu) = graft.operators.Pca.fitComponents(base, dim, dOut)
      val shift = w.map(r0 => r0.zip(mu).map { case (a, b) => a * b }.sum)
      def pcaCol(c0: org.apache.spark.sql.Column) =
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.ArrayMatVec(
            org.apache.spark.sql.graftbridge.Bridge
              .expression(c0.cast("array<double>")),
            w.flatten.toSeq, dim, dOut, 1.0, 6, shift.toSeq))
      val reduced = base.select(col("vec_id"), pcaCol(col("embedding")).as("embedding"))
        .persist()
      reduced.count()
      val t1 = System.nanoTime()
      val red = HnswSpark.buildResident(reduced, HnswSpark.Params(dim = dOut), shards)
      val buildRedSec = (System.nanoTime() - t1) / 1e9
      val tq1 = System.nanoTime()
      val nRed = HnswSpark.searchResident(spark, red,
        queries.select(col("vec_id").as("query_id"),
          pcaCol(col("embedding")).as("qv")), k).count()
      val qRedSec = (System.nanoTime() - tq1) / 1e9
      red.unpersist(true)
      reduced.unpersist()
      base.unpersist()
      require(nFull == nRed, s"row mismatch $nFull vs $nRed")
      println(s"""{"mode":"reduceindex","n":$n,"dim":$dim,"d_out":$dOut,""" +
        s""""build_full_sec":${f"$buildFullSec%.2f"},""" +
        s""""build_reduced_sec":${f"$buildRedSec%.2f"},""" +
        s""""build_speedup":${f"${buildFullSec / buildRedSec}%.2f"},""" +
        s""""query_full_sec":${f"$qFullSec%.2f"},""" +
        s""""query_reduced_sec":${f"$qRedSec%.2f"}}""")
    }

    if (mode == "kmvoverlap" || mode == "all") {
      val n = if (args.length > 1) args(1).toLong else 500000L
      val nSources = 50
      // every doc: 4 tokens from the GLOBAL pool (all sources overlap a
      // little) + 16 tokens from a BLOCK pool shared by even sources
      // only (so even×even pairs overlap a lot) + 4 unique-ish tokens
      val docs = spark.range(0, n, 1, nPart)
        .select(col("id").as("doc_id"),
          (col("id") % nSources).cast("string").as("source"),
          concat_ws(" ",
            expr("concat_ws(' ', transform(sequence(0, 3), " +
              "j -> concat('g', abs(xxhash64(id % 40, j)) % 50)))"),
            expr(s"concat_ws(' ', transform(sequence(0, 15), " +
              s"j -> concat('b', (id % $nSources) % 2, '_', " +
              "abs(xxhash64(id % 997, j)) % 2000)))"),
            expr("concat_ws(' ', transform(sequence(0, 3), " +
              "j -> concat('u', abs(xxhash64(id, j)))))")).as("text"))
        .persist()
      docs.count()
      val t0 = System.nanoTime()
      val est = Sketches.kmvSourceOverlap(docs, n = 3, k = 64)
        .collect()
      val sec = (System.nanoTime() - t0) / 1e9
      CacheTracker.releaseAll()
      val evenEven = est.filter(r =>
        r.getString(0).toInt % 2 == 0 && r.getString(1).toInt % 2 == 0)
      val evenOdd = est.filter(r =>
        r.getString(0).toInt % 2 != r.getString(1).toInt % 2)
      val jSame = evenEven.map(_.getDouble(2)).sum / evenEven.length
      val jCross = evenOdd.map(_.getDouble(2)).sum / evenOdd.length
      // exact spot-check for pair (0, 2): distributed distinct shingles
      val sh = docs.where(col("source").isin("0", "2"))
        .select(col("source"),
          explode(graft.functions.VectorFunctions
            .wordShingles(col("text"), 3)).as("shingle"))
        .distinct().persist()
      val both = sh.groupBy(col("shingle"))
        .agg(countDistinct(col("source")).as("ns"))
      val inter = both.where(col("ns") === 2).count()
      val union = both.count()
      sh.unpersist()
      val jExact = inter.toDouble / union
      val j02 = est.find(r => r.getString(0) == "0" && r.getString(1) == "2")
        .get.getDouble(2)
      docs.unpersist()
      println(s"""{"mode":"kmvoverlap","n":$n,"sources":$nSources,""" +
        s""""pairs":${est.length},"sketch_sec":${f"$sec%.2f"},""" +
        s""""j_mean_same_block":${f"$jSame%.4f"},""" +
        s""""j_mean_cross_block":${f"$jCross%.4f"},""" +
        s""""j_exact_0_2":${f"$jExact%.4f"},"j_est_0_2":$j02}""")
    }

    if (mode == "opqserve") {
      // Serving economics of the ROTATION-CARRYING OPQ layout at 1M
      // (r15): the PCA-allocated rotation persists beside the cells
      // (Opq.writeOpqLayoutRotated), so the highest-recall face serves
      // from disk WITHOUT re-fitting the eigenbasis — the opqrecall
      // anisotropic corpus, the pqserve reporting shape. Recall is
      // against raw-space ground truth (rotations preserve cosine).
      import graft.operators.{Knn, Opq, ProductQuantization}
      import graft.functions.VectorFunctions
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val (dim, k, nQ) = (64, 10, 25)
      val (kCoarse, nProbe, m, kSub) = (1000, 4, 8, 256)
      val raw = spark.range(0, n, 1, nPart)
        .select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), j -> " +
            "cast(abs(xxhash64(id % 1000, j)) % 2000 as double) / 1000.0 - 1.0 + " +
            "(cast(abs(xxhash64(id, j)) % 2000 as double) / 1000.0 - 1.0) * " +
            "(CASE WHEN j < 8 THEN 0.6 ELSE 0.02 END))")
            .as("embedding"))
        .persist()
      raw.count()
      val rawQ = raw.where(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val truth = Knn.knnBatch(raw, rawQ, k, VectorFunctions.cosine)
        .select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val tR = System.nanoTime()
      val pcaR = Opq.fitPcaRotation(raw, dim, m)
      val rotFitSec = (System.nanoTime() - tR) / 1e9
      val rotated = raw.select(col("vec_id"),
        Opq.rotationColumn(col("embedding"), pcaR).as("embedding")).persist()
      rotated.count()
      val t0 = System.nanoTime()
      val rm = ProductQuantization.fitResidual(rotated, dim, kCoarse,
        coarseIters = 2, m, kSub, pqIters = 2)
      val fitSec = (System.nanoTime() - t0) / 1e9
      val path = java.nio.file.Files.createTempDirectory("opqserve").toString
      val t1 = System.nanoTime()
      Opq.writeOpqLayoutRotated(raw, rm, pcaR, path)
      val writeSec = (System.nanoTime() - t1) / 1e9
      rotated.unpersist()
      graft.CacheTracker.releaseAll()
      def serve(cf: Int): (Double, Double) = {
        val t = System.nanoTime()
        val got = Opq.opqKnnBatchFromLayoutRotated(spark, path, raw, rawQ,
          nProbe, k, cf)
          .select(col("query_id"), col("vec_id")).collect()
        val sec = (System.nanoTime() - t) / 1e9
        val byQ = got.map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
        val recall = byQ.map { case (q, ids) =>
          (ids & truth(q)).size.toDouble / truth(q).size }.sum / byQ.size
        (sec, recall)
      }
      serve(2) // warm the JIT + file-index caches
      for (cf <- Seq(2, 8)) {
        val (sec, recall) = serve(cf)
        println(s"""{"mode":"opqserve","rotation":"pca","n":$n,""" +
          s""""dim":$dim,"m":$m,"k_sub":$kSub,"k_coarse":$kCoarse,""" +
          s""""n_probe":$nProbe,"k":$k,"cand_factor":$cf,""" +
          s""""rotation_fit_sec":${f"$rotFitSec%.2f"},""" +
          s""""fit_sec":${f"$fitSec%.2f"},""" +
          s""""write_sec":${f"$writeSec%.2f"},""" +
          s""""serve_sec":${f"$sec%.2f"},""" +
          s""""ms_per_query":${f"${sec * 1000 / nQ}%.2f"},""" +
          s""""recall":${f"$recall%.4f"}}""")
      }
      raw.unpersist()
      graft.CacheTracker.releaseAll()
    }

    if (mode == "pqserve") {
      // Serving economics of the persisted residual-PQ layout at 1M:
      // train + encode + write once, then answer query batches off the
      // 16×-compressed codes with per-probe cell-directory pruning —
      // the ms/query number the layout face's 100 TB story rests on.
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val dim = 64
      val base = vecs(n, dim).persist()
      base.count()
      val t0 = System.nanoTime()
      val rm = graft.operators.ProductQuantization.fitResidual(
        base, dim, kCoarse = 256, coarseIters = 2, m = 8, kSub = 16,
        pqIters = 2)
      val fitSec = (System.nanoTime() - t0) / 1e9
      val path = java.nio.file.Files.createTempDirectory("pqserve").toString
      val t1 = System.nanoTime()
      graft.operators.ProductQuantization.writeResidualLayout(base, rm, path)
      val writeSec = (System.nanoTime() - t1) / 1e9
      val codes = spark.read.parquet(s"$path/cells").persist()
      codes.count() // resident codes, the serving steady state
      def queryBatch(qn: Int, salt: Long) = {
        import spark.implicits._
        base.where(col("vec_id") % 1999 === salt).limit(qn) // ~500/salt
          .select(col("vec_id").as("query_id"),
            col("embedding").cast("array<double>").as("qv"))
      }
      def serve(qn: Int, salt: Long): Double = {
        val t = System.nanoTime()
        val out = graft.operators.ProductQuantization
          .residualAdcKnnBatchFrom(base, codes, rm, queryBatch(qn, salt),
            nProbe = 8, k = 10, candFactor = 8)
        val rows = out.count()
        require(rows == qn * 10L, s"served $rows of ${qn * 10}")
        (System.nanoTime() - t) / 1e9
      }
      def serveBulk(qn: Int, salt: Long): Double = {
        val t = System.nanoTime()
        val out = graft.operators.ProductQuantization
          .residualAdcKnnBulk(base, codes, rm, queryBatch(qn, salt),
            nProbe = 8, k = 10, candFactor = 8)
        val rows = out.count()
        require(rows == qn * 10L, s"bulk served $rows of ${qn * 10}")
        (System.nanoTime() - t) / 1e9
      }
      serve(8, 1L); serveBulk(8, 1L) // warm the JIT + codes cache
      val one = (2L to 4L).map(s => serve(1, s)).min
      val b64 = (5L to 7L).map(s => serve(64, s)).min
      val bulk64 = (5L to 7L).map(s => serveBulk(64, s)).min
      val bulk256 = serveBulk(256, 8L)
      CacheTracker.releaseAll()
      codes.unpersist(); base.unpersist()
      println(s"""{"mode":"pqserve","n":$n,"dim":$dim,"k_coarse":256,""" +
        s""""m":8,"k_sub":16,"n_probe":8,""" +
        s""""fit_sec":${f"$fitSec%.1f"},"encode_write_sec":${f"$writeSec%.1f"},""" +
        s""""q1_ms":${f"${one * 1000}%.1f"},""" +
        s""""q64_batch_sec":${f"$b64%.2f"},""" +
        s""""q64_ms_per_query":${f"${b64 * 1000 / 64}%.2f"},""" +
        s""""bulk64_sec":${f"$bulk64%.2f"},""" +
        s""""bulk64_ms_per_query":${f"${bulk64 * 1000 / 64}%.2f"},""" +
        s""""bulk256_sec":${f"$bulk256%.2f"},""" +
        s""""bulk256_ms_per_query":${f"${bulk256 * 1000 / 256}%.2f"}}""")
    }

    if (mode == "encbench") {
      // A/B: does encodeResidual pay the coarse argmin twice (once for
      // cent_id, once inside the residual's centroid lookup), or does
      // whole-stage-codegen subexpression elimination dedupe the two
      // top-level instances? assign-only vs full residual encode.
      val n = if (args.length > 1) args(1).toLong else 500000L
      val base = vecs(n, 64).persist(); base.count()
      val rm = graft.operators.ProductQuantization.fitResidual(
        base, 64, kCoarse = 256, coarseIters = 2, m = 8, kSub = 16,
        pqIters = 1)
      def time(f: => Long): Double = {
        val t = System.nanoTime(); val r = f
        require(r == n); (System.nanoTime() - t) / 1e9
      }
      val (cent, _) = graft.operators.Kmeans
        .assignColumns(rm.coarse, col("embedding"))
      def assignOnly = base.select(col("vec_id"), cent.as("cent_id"))
        .agg(count(lit(1))).head().getLong(0)
      def full = graft.operators.ProductQuantization
        .encodeResidual(base, rm)
        .agg(count(lit(1))).head().getLong(0)
      time(assignOnly); time(full) // warm
      val a = (1 to 3).map(_ => time(assignOnly)).min
      val b = (1 to 3).map(_ => time(full)).min
      base.unpersist()
      println(s"""{"mode":"encbench","n":$n,"k_coarse":256,"m":8,""" +
        s""""assign_only_sec":${f"$a%.2f"},"full_encode_sec":${f"$b%.2f"},""" +
        s""""ratio":${f"${b / a}%.2f"}}""")
    }

    if (mode == "dsir" || mode == "all") {
      // DSIR at selection scale: a 1M raw pool where 5% of docs are
      // PLANTED target-like (drawing from the target vocabulary), the
      // rest background; a 100k target corpus defines p̂. Measured:
      // can the hashed-n-gram importance weight separate the plant,
      // and at what throughput? Docs are 20 tokens, half topical /
      // half common — the common mass is what smoothed ratios must
      // see through.
      val n = if (args.length > 1) args(1).toLong else 1000000L
      val nTgt = n / 10
      val buckets = 4096
      def tok(vocab: String, vSize: Int, salt: Int) =
        s"concat('$vocab', abs(xxhash64(id, j, $salt)) % $vSize)"
      def docText(topical: String) =
        expr("concat_ws(' ', transform(sequence(0, 19), j -> " +
          s"CASE WHEN abs(xxhash64(id, j, 1)) % 2 = 0 THEN $topical " +
          s"ELSE ${tok("com", 1000, 3)} END))")
      val raw = spark.range(0, n, 1, nPart)
        .select(col("id").as("doc_id"),
          when(col("id") % 20 === 0, docText(tok("tgt", 500, 2)))
            .otherwise(docText(tok("bg", 1000, 2))).as("text"))
        .persist()
      val target = spark.range(0, nTgt, 1, nPart)
        .select((col("id") + n).as("doc_id"),
          docText(tok("tgt", 500, 4)).as("text"))
        .persist()
      val nPlanted = raw.where(col("doc_id") % 20 === 0).count()
      target.count()
      val t0 = System.nanoTime()
      val model = Dsir.bucketLogRatios(raw, target, buckets)
        .select(col("bucket"), col("lr")).persist()
      model.count()
      val fitSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val w = Dsir.weightsWithModel(raw, model, buckets).persist()
      w.count()
      val scoreSec = (System.nanoTime() - t1) / 1e9
      // selection quality: take exactly nPlanted docs; precision =
      // fraction planted (chance level = 5%)
      val t2 = System.nanoTime()
      val picked = w.orderBy(col("logw").desc, col("doc_id"))
        .limit(nPlanted.toInt)
        .where(col("doc_id") % 20 === 0).count()
      val selSec = (System.nanoTime() - t2) / 1e9
      val precision = picked.toDouble / nPlanted
      // weight separation: mean logw of planted vs background
      val Array(mPlant, mBg) = w
        .groupBy((col("doc_id") % 20 === 0).as("planted"))
        .agg(avg(col("logw")).as("m"))
        .orderBy(col("planted").desc)
        .collect().map(_.getDouble(1))
      w.unpersist(); model.unpersist()
      raw.unpersist(); target.unpersist()
      println(s"""{"mode":"dsir","n_raw":$n,"n_target":$nTgt,""" +
        s""""buckets":$buckets,"n_planted":$nPlanted,""" +
        s""""fit_sec":${f"$fitSec%.2f"},"score_sec":${f"$scoreSec%.2f"},""" +
        s""""select_sec":${f"$selSec%.2f"},""" +
        s""""docs_per_sec":${(n / scoreSec).toLong},""" +
        s""""precision_at_planted":${f"$precision%.4f"},""" +
        s""""mean_logw_planted":${f"$mPlant%.2f"},""" +
        s""""mean_logw_background":${f"$mBg%.2f"}}""")
    }

    spark.stop()
  }
}
