package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the standard heavy-compression ANN path:
  * split each vector into M subvectors, k-means a codebook per subspace,
  * store one small code per subspace. A 64-d float64 vector (512 B)
  * becomes M codes, which is what makes billion-vector serving corpora
  * fit in memory. Complements SQ8 (8×) at the other end of the
  * compression/recall trade.
  *
  * Search uses ADC (asymmetric distance computation): per query, build an
  * M×K table of exact query-subvector→centroid distances, then every
  * corpus distance is M table lookups + adds — no decode.
  *
  * One trainer family, integer-exact: the [[Kmeans]] discipline applied
  * per SUBSPACE — first-k init, micro-long vectors, integer squared
  * distances, truncating integer means — so codebooks, codes, AND the
  * ADC distances are bit-identical in any engine, and the full ANN
  * answer (shortlist cut included) hash-checks against a SQL replay of
  * the training loop (the kmeans_trained_knn precedent, composed M
  * times). Flat PQ ([[fitExact]]) and residual IVF-PQ ([[fitResidual]])
  * share it, and every ADC face is the same three steps: an ADC
  * shortlist of k·candFactor ids over the codes (ties by id), optionally
  * cut to the query's probed coarse cells, then an exact cosine rerank
  * over ONLY the survivors.
  *
  * Scale shape: training samples the corpus (k-means on M small
  * subspaces), codebooks ride the plan as literals (M·K·dsub longs —
  * KBs), encoding is one narrow pass, and the encoded table is far
  * smaller than the original — scans, shuffles, and caches all shrink
  * with it.
  */
object ProductQuantization {

  /** Per-subspace integer-exact models. Training cost: m × Kmeans.fit
    * over the dsub-sliced corpus (each fit is `iterations`+1 narrow
    * codegen-argmin passes; at 100 TB you fit on a SAMPLE — codebooks
    * are corpus statistics, not per-row state — then encode once).
    */
  def fitExact(
      emb: DataFrame,
      dim: Int,
      m: Int,
      kSub: Int,
      iterations: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Kmeans.Model] = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(kSub >= 1 && iterations >= 0, "kSub >= 1, iterations >= 0")
    val dsub = dim / m
    // All m subspace fits FUSED into one Lloyd loop over a single
    // persisted micro frame: slicing commutes with the element-wise
    // micro quantization, each subspace keeps its own ArgminSqDistMicro
    // against its own centroid matrix, and the update sums are keyed
    // (sub, cent, i) — bit-identical centroids to m independent
    // Kmeans.fit calls, but ONE corpus pass per iteration instead of m
    // (at 100 TB: m× fewer reads of the residual corpus; at bench
    // scale: m·(1+iters) driver jobs collapse to 1+iters).
    val micro = emb.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * 1e6, 0).cast("long")).as("mv"))
    graft.CacheTracker.pin(micro)
    // init = the first kSub ids' vectors sliced per subspace (the
    // Kmeans.fit first-k convention), ONE job for all m subspaces
    val initRows = micro.orderBy(col("vec_id")).limit(kSub).collect()
    require(initRows.length == kSub,
      s"kmeans.fit: corpus has fewer than k=$kSub rows")
    var models: Array[Array[(Long, Array[Long])]] = Array.tabulate(m) { sub =>
      initRows.zipWithIndex.map { case (r, i) =>
        (i.toLong,
          r.getSeq[Long](1).slice(sub * dsub, (sub + 1) * dsub).toArray)
      }
    }
    for (_ <- 1 to iterations) {
      val centCols = models.zipWithIndex.map { case (cents, sub) =>
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.ArgminSqDistMicro(
            org.apache.spark.sql.graftbridge.Bridge.expression(
              slice(col("mv"), sub * dsub + 1, dsub)),
            cents.sortBy(_._1).flatMap(_._2.toSeq).toSeq, kSub, dsub))
          .getField("cent_id").as(s"c_$sub")
      }
      val subIdx = (col("gi") / lit(dsub)).cast("int")
      val updated = micro
        .select(col("mv") +: centCols.toIndexedSeq: _*)
        .select(
          array(models.indices.map(s => col(s"c_$s")): _*).as("cs"),
          posexplode(col("mv")).as(Seq("gi", "x")))
        .select(
          subIdx.as("sub"),
          element_at(col("cs"), subIdx + 1).as("cent_id"),
          (col("gi") % lit(dsub)).as("i"),
          col("x"))
        .groupBy(col("sub"), col("cent_id"), col("i"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cent_id"), col("i"),
          expr("s div n").as("v"))
        .collect() // bounded: m·kSub·dsub rows
        .groupBy(_.getInt(0))
      models = models.zipWithIndex.map { case (cents, sub) =>
        val upd = updated
          .getOrElse(sub, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getLong(1))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toArray }
        // empty cluster keeps its previous centroid (the fit contract)
        cents.map { case (cid, old) => (cid, upd.getOrElse(cid, old)) }
      }
    }
    models.map(Kmeans.Model(_))
  }

  /** Encode under the exact models: ONE map-only pass, m codegen argmin
    * expressions over the sliced micro vectors — (id, code_0..code_{m-1}).
    */
  def encodeExact(
      emb: DataFrame,
      models: Array[Kmeans.Model],
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val m = models.length
    val dsub = dim / m
    val codeCols = models.zipWithIndex.map { case (model, sub) =>
      Kmeans.assignColumns(model,
        slice(col(vecCol).cast("array<double>"), sub * dsub + 1, dsub))
        ._1.as(s"code_$sub")
    }
    emb.select(col(idCol).cast("long").as(idCol) +: codeCols.toSeq: _*)
  }

  /** The query's per-subspace ADC lookup tables in integer micro² —
    * table(sub)(c) = ‖q_sub − centroid_c‖² over the micro-quantized
    * values, exact in long (≤ dsub·(2·10⁶)² per cell, summed across m
    * subspaces stays ≪ 2⁶³).
    */
  private def adcTables(
      models: Array[Kmeans.Model], query: Seq[Double]): Array[Array[Long]] = {
    val m = models.length
    val dsub = query.length / m
    Array.tabulate(m) { sub =>
      val qm = Kmeans.microOf(query.slice(sub * dsub, (sub + 1) * dsub))
      models(sub).centroids.sortBy(_._1).map { case (_, cent) =>
        var s = 0L; var i = 0
        while (i < dsub) { val d = qm(i) - cent(i); s += d * d; i += 1 }
        s
      }
    }
  }

  /** The ADC scan column over an [[encodeExact]] frame: m literal-array
    * lookups + adds per row, fully codegen (element_at over the bounded
    * kSub-long tables) — the "M table lookups, no decode" PQ hot path.
    */
  private def adcExpr(tables: Array[Array[Long]]): Column =
    tables.zipWithIndex.map { case (t, sub) =>
      element_at(typedlit(t.toSeq), col(s"code_$sub").cast("int") + 1)
    }.reduce(_ + _)

  // ---- the one query path every ADC face is built from -----------------

  /** The single query vector of a one-row (qv) frame. */
  private def queryVec(query: DataFrame): Seq[Double] =
    query.select(col("qv").cast("array<double>")).head().getSeq[Double](0)

  /** Collect a bounded (query_id, qv) batch ONCE, sorted by query_id, and
    * answer it — the legs, the empty guard, and the rerank broadcast all
    * derive from the same materialized rows, so an expensive or
    * nondeterministic query frame (e.g. an unordered limit) is evaluated
    * exactly one time. An empty batch (an idle streaming micro-batch)
    * answers the typed empty (query_id, id, adc_sqdist_micro, distance,
    * rank) frame, not a reduce-on-empty crash.
    */
  private def withQueries(emb: DataFrame, queries: DataFrame, idCol: String)(
      answer: Array[(Long, Seq[Double])] => DataFrame): DataFrame = {
    val qRows = queries
      .select(col("query_id").cast("long"), col("qv").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    if (qRows.isEmpty)
      emb.limit(0).select(lit(0L).as("query_id"),
        col(idCol), lit(0L).as("adc_sqdist_micro"),
        lit(0.0).as("distance"), lit(0L).as("rank"))
    else answer(qRows)
  }

  /** The shortlist leg: the n codes with the smallest ADC distance, ties
    * by id — (id, adc_sqdist_micro).
    */
  private def shortlist(
      codes: DataFrame, adc: Column, n: Int, idCol: String): DataFrame =
    codes
      .select(col(idCol), adc.as("adc_sqdist_micro"))
      .orderBy(col("adc_sqdist_micro"), col(idCol))
      .limit(n)

  private def cosineDistance(vecCol: String): Column =
    graft.functions.VectorFunctions.roundDist(
      graft.functions.VectorFunctions.cosine(col(vecCol), col("qv")))
      .as("distance")

  /** Exact cosine rerank of one query's shortlist: the bq_knn shape
    * (id, adc_sqdist_micro, distance), top k by (distance, id).
    */
  private def rerank(
      emb: DataFrame, cand: DataFrame, query: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame =
    emb
      .join(broadcast(cand), Seq(idCol))
      .crossJoin(broadcast(query))
      .select(col(idCol), col("adc_sqdist_micro"), cosineDistance(vecCol))
      .orderBy(col("distance"), col(idCol))
      .limit(k)

  /** Batch rerank-and-rank tail over (query_id, id, adc_sqdist_micro)
    * candidates: exact cosine against the broadcast query rows, rank per
    * query — the bq_knn_batch shape (query_id, id, adc_sqdist_micro,
    * distance, rank).
    */
  private def rerankRanked(
      emb: DataFrame, cands: DataFrame, qRows: Array[(Long, Seq[Double])],
      k: Int, idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("distance"), col(idCol))
    emb
      .join(broadcast(cands), Seq(idCol))
      .join(broadcast(qRows.toSeq.toDF("query_id", "qv")), Seq("query_id"))
      .select(col("query_id"), col(idCol), col("adc_sqdist_micro"),
        cosineDistance(vecCol))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The leg-shaped batch: one bounded shortlist leg per query — `leg`
    * gives the query's code frame and ADC column — unioned, then the
    * rerank-and-rank tail.
    */
  private def legBatch(
      emb: DataFrame, qRows: Array[(Long, Seq[Double])], k: Int,
      candFactor: Int, idCol: String, vecCol: String)(
      leg: Seq[Double] => (DataFrame, Column)): DataFrame = {
    val cands = qRows.map { case (qid, qv) =>
      val (codes, adc) = leg(qv)
      shortlist(codes, adc, k * candFactor, idCol)
        .select(lit(qid).as("query_id"), col(idCol), col("adc_sqdist_micro"))
    }.reduce(_.unionByName(_))
    rerankRanked(emb, cands, qRows, k, idCol, vecCol)
  }

  /** Integer-exact PQ ANN: ADC shortlist of k·candFactor ids over the
    * compressed codes (ties by id), exact cosine rerank over ONLY the
    * survivors — the deployment shape (ADC collapses within-cell ranks;
    * the rerank restores them touching shortlist/N full vectors).
    * Output (vec_id, adc_sqdist_micro, distance), the bq_knn shape.
    */
  def exactAdcKnn(
      emb: DataFrame,
      query: DataFrame, // one row, col "qv"
      dim: Int,
      m: Int,
      kSub: Int,
      iterations: Int,
      k: Int,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && candFactor >= 1, "bad k/candFactor")
    val models = fitExact(emb, dim, m, kSub, iterations, idCol, vecCol)
    val cand = shortlist(encodeExact(emb, models, dim, idCol, vecCol),
      adcExpr(adcTables(models, queryVec(query))), k * candFactor, idCol)
    rerank(emb, cand, query, k, idCol, vecCol)
  }

  /** Batch twin: codes computed ONCE (persisted), one bounded
    * shortlist+rerank leg per query (queries are a bounded frame by
    * contract), rank per query. Output (query_id, vec_id,
    * adc_sqdist_micro, distance, rank) — the bq_knn_batch shape.
    */
  def exactAdcKnnBatch(
      emb: DataFrame,
      queries: DataFrame, // (query_id, qv), bounded
      dim: Int,
      m: Int,
      kSub: Int,
      iterations: Int,
      k: Int,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && candFactor >= 1, "bad k/candFactor")
    val models = fitExact(emb, dim, m, kSub, iterations, idCol, vecCol)
    val encoded = graft.CacheTracker.pin(
      encodeExact(emb, models, dim, idCol, vecCol))
    exactAdcKnnBatchFrom(emb, encoded, models, queries, k, candFactor,
      idCol, vecCol)
  }

  /** [[exactAdcKnnBatch]] over PRE-TRAINED models and a PRE-ENCODED
    * (persisted) code table — the serve-many face: train once, encode
    * once, sweep query batches and candFactors against the 16×-
    * compressed codes (the pqrecall soak's shape).
    */
  def exactAdcKnnBatchFrom(
      emb: DataFrame,
      encoded: DataFrame,
      models: Array[Kmeans.Model],
      queries: DataFrame,
      k: Int,
      candFactor: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    withQueries(emb, queries, idCol) { qRows =>
      legBatch(emb, qRows, k, candFactor, idCol, vecCol) { qv =>
        (encoded, adcExpr(adcTables(models, qv)))
      }
    }

  // ---- residual (IVF-)PQ: the at-scale remedy to within-cluster
  // blindness, still oracle-checkable ------------------------------------
  //
  // The 1M pqrecall curve shows FLAT PQ inherits BQ's structural limit
  // when codebook cells align with semantic clusters: every member of a
  // cluster gets the same code, ADC ties, the shortlist is a
  // within-cluster draw. The standard remedy (the IVF-PQ construction)
  // quantizes the RESIDUAL x − centroid(x) instead: the coarse
  // quantizer absorbs the cluster structure, the codebooks spend their
  // bits on exactly the within-cluster offsets the ranking needs.
  // Everything stays integer-exact: residual micros = mv − cv (exact
  // longs), re-expressed as rv/10⁶ doubles for the shared trainer — the
  // round-trip round((rv/10⁶)·10⁶) provably returns rv (|rv| ≤ 4·10⁶ ⇒
  // the double error is ≪ 0.5), in both engines, so every downstream
  // quantity hash-checks.

  /** Trained residual quantizer: the coarse model + per-subspace
    * residual codebooks (global — all cells share them, the standard
    * IVF-PQ layout).
    */
  final case class ResidualModel(
      coarse: Kmeans.Model, books: Array[Kmeans.Model], dim: Int, m: Int)

  /** The residual column in rv/10⁶ doubles: micro(vec) − centroid of
    * the row's coarse cell, via one literal centroid matrix lookup.
    */
  private def residualCol(
      coarse: Kmeans.Model, vecCol: Column): Column = {
    val cents = typedlit(coarse.centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
    val (cent, _) = Kmeans.assignColumns(coarse, vecCol)
    zip_with(
      transform(vecCol.cast("array<double>"),
        x => round(x * 1e6, 0).cast("long")),
      element_at(cents, cent.cast("int") + 1),
      (a, b) => (a - b).cast("double") / lit(1e6))
  }

  /** Fit coarse + residual codebooks (both under the integer-exact
    * Lloyd discipline; the residual corpus is persisted across the m
    * subspace fits).
    */
  def fitResidual(
      emb: DataFrame,
      dim: Int,
      kCoarse: Int,
      coarseIters: Int,
      m: Int,
      kSub: Int,
      pqIters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): ResidualModel = {
    val coarse = Kmeans.fit(emb, kCoarse, coarseIters, idCol, vecCol)
    val resid = graft.CacheTracker.pin(emb.select(col(idCol).cast("long").as(idCol),
      residualCol(coarse, col(vecCol)).as(vecCol)))
    ResidualModel(coarse,
      fitExact(resid, dim, m, kSub, pqIters, idCol, vecCol), dim, m)
  }

  /** Encode: (id, cent_id, code_0..code_{m-1}) — coarse cell + residual
    * codes, ONE map-only pass (coarse argmin, residual lookup-subtract,
    * m residual argmins — all codegen).
    */
  def encodeResidual(
      emb: DataFrame,
      rm: ResidualModel,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val dsub = rm.dim / rm.m
    val (cent, _) = Kmeans.assignColumns(rm.coarse, col(vecCol))
    val withResidual = emb.select(
      col(idCol).cast("long").as(idCol),
      cent.as("cent_id"),
      residualCol(rm.coarse, col(vecCol)).as("rvd"))
    val codeCols = rm.books.zipWithIndex.map { case (model, sub) =>
      Kmeans.assignColumns(model,
        slice(col("rvd"), sub * dsub + 1, dsub))._1.as(s"code_$sub")
    }
    withResidual.select(
      col(idCol) +: col("cent_id") +: codeCols.toSeq: _*)
  }

  /** Residual-PQ ANN: probe the nProbe coarse cells nearest the query
    * (integer sqdist, driver-ranked), ADC over ONLY those cells'
    * members with PER-CELL integer tables (the query's residual differs
    * per cell: q − c), deterministic shortlist, exact cosine rerank.
    * Candidates touched: nProbe/kCoarse of the codes; full vectors:
    * k·candFactor rows. Output the bq_knn shape.
    */
  def residualAdcKnn(
      emb: DataFrame,
      query: DataFrame, // one row, col "qv"
      dim: Int,
      kCoarse: Int,
      coarseIters: Int,
      m: Int,
      kSub: Int,
      pqIters: Int,
      nProbe: Int,
      k: Int,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && candFactor >= 1 && nProbe >= 1 && nProbe <= kCoarse,
      "bad k/candFactor/nProbe")
    val rm = fitResidual(emb, dim, kCoarse, coarseIters, m, kSub, pqIters,
      idCol, vecCol)
    residualAdcKnnFrom(emb, encodeResidual(emb, rm, idCol, vecCol), rm,
      query, nProbe, k, candFactor, idCol, vecCol)
  }

  /** The query's nProbe nearest coarse cells (integer sqdist,
    * driver-ranked, ties by cent_id), each with the integer ADC tables of
    * the query RESIDUAL against that cell — bounded nProbe·m·kSub longs,
    * all driver-side.
    */
  private def probeTables(
      rm: ResidualModel, qv: Seq[Double],
      nProbe: Int): Seq[(Long, Array[Array[Long]])] = {
    val qMicro = Kmeans.microOf(qv)
    val ordered = rm.coarse.centroids.sortBy(_._1)
    Kmeans.probeCellsFor(rm.coarse, qMicro, nProbe).map { c =>
      val cv = ordered(c.toInt)._2
      val qr = qMicro.zip(cv).map { case (a, b) => (a - b).toDouble / 1e6 }
      (c, adcTables(rm.books, qr.toIndexedSeq))
    }
  }

  /** One query's residual leg: the codes cut to its probed cells, and
    * the ADC column that picks each row's per-cell tables.
    */
  private def probeLeg(
      rm: ResidualModel, codes: DataFrame, qv: Seq[Double],
      nProbe: Int): (DataFrame, Column) = {
    val perCell = probeTables(rm, qv, nProbe)
    val adc = perCell.foldRight(lit(null).cast("long")) {
      case ((c, t), acc) => when(col("cent_id") === c, adcExpr(t)).otherwise(acc)
    }
    (codes.where(col("cent_id").isin(perCell.map(_._1): _*)), adc)
  }

  /** [[residualAdcKnn]] over a PRE-TRAINED model and PRE-ENCODED codes
    * — the serve-many face.
    */
  def residualAdcKnnFrom(
      emb: DataFrame,
      encoded: DataFrame,
      rm: ResidualModel,
      query: DataFrame,
      nProbe: Int,
      k: Int,
      candFactor: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (cut, adc) = probeLeg(rm, encoded, queryVec(query), nProbe)
    rerank(emb, shortlist(cut, adc, k * candFactor, idCol), query, k,
      idCol, vecCol)
  }

  /** Batch twin of [[residualAdcKnn]]: model + codes once, one bounded
    * probe/shortlist leg per query (per-query probe cells and per-cell
    * tables are driver-side bounded), rerank + rank per query — the
    * bq_knn_batch shape on residual codes.
    */
  def residualAdcKnnBatch(
      emb: DataFrame,
      queries: DataFrame, // (query_id, qv), bounded
      dim: Int,
      kCoarse: Int,
      coarseIters: Int,
      m: Int,
      kSub: Int,
      pqIters: Int,
      nProbe: Int,
      k: Int,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && candFactor >= 1 && nProbe >= 1 && nProbe <= kCoarse,
      "bad k/candFactor/nProbe")
    val rm = fitResidual(emb, dim, kCoarse, coarseIters, m, kSub, pqIters,
      idCol, vecCol)
    val encoded = graft.CacheTracker.pin(encodeResidual(emb, rm, idCol, vecCol))
    residualAdcKnnBatchFrom(emb, encoded, rm, queries, nProbe, k,
      candFactor, idCol, vecCol)
  }

  /** [[residualAdcKnnBatch]] under a PRE-TRAINED model and PRE-ENCODED
    * codes — the serving decomposition: train/encode once (or read the
    * persisted layout), answer query batches forever. This is the face
    * the streaming server calls per micro-batch.
    */
  def residualAdcKnnBatchFrom(
      emb: DataFrame,
      codes: DataFrame, // (idCol, cent_id, code_0..code_{m-1})
      rm: ResidualModel,
      queries: DataFrame, // (query_id, qv), bounded
      nProbe: Int,
      k: Int,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && candFactor >= 1 && nProbe >= 1 &&
      nProbe <= rm.coarse.centroids.length, "bad k/candFactor/nProbe")
    withQueries(emb, queries, idCol) { qRows =>
      legBatch(emb, qRows, k, candFactor, idCol, vecCol)(
        probeLeg(rm, codes, _, nProbe))
    }
  }

  /** JOIN-SHAPED bulk twin of [[residualAdcKnnBatchFrom]] — same math,
    * same tie rules, hash-identical rows, different plan economics. The
    * leg-shaped face builds one bounded subplan per query (nProbe
    * when-branches × m literal tables each), so its PLAN grows with the
    * batch and driver compile time dominates bulk batches (measured at
    * 1M/64 queries: ~0.5 s/query — pqserve soak). This face is O(1)
    * plan size: the per-(query, cell, book, code) integer partials
    * (|q|·nProbe·m·kSub rows, driver-bounded) broadcast as DATA, codes
    * melt once via posexplode, one join + one sum + one rank window.
    * Use leg for small interactive batches (per-query partition
    * pruning), bulk for offline scoring sweeps.
    */
  def residualAdcKnnBulk(
      emb: DataFrame,
      codes: DataFrame,
      rm: ResidualModel,
      queries: DataFrame, // (query_id, qv), bounded
      nProbe: Int,
      k: Int,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(k >= 1 && candFactor >= 1 && nProbe >= 1 &&
      nProbe <= rm.coarse.centroids.length, "bad k/candFactor/nProbe")
    withQueries(emb, queries, idCol) { qRows =>
      val partialRows: Seq[(Long, Long, Int, Long, Long)] =
        qRows.toSeq.flatMap { case (qid, qv) =>
          probeTables(rm, qv, nProbe).flatMap { case (c, tables) =>
            tables.toSeq.zipWithIndex.flatMap { case (tbl, book) =>
              tbl.toSeq.zipWithIndex.map { case (v, code) =>
                (qid, c, book, code.toLong, v)
              }
            }
          }
        }
      val partials = partialRows
        .toDF("query_id", "cent_id", "book", "code", "partial")
      val allCells = partialRows.map(_._2).distinct
      val qCells = partialRows.map(p => (p._1, p._2)).distinct
        .toDF("query_id", "cent_id")
      val codeArr = array((0 until rm.m).map(s => col(s"code_$s")): _*)
      val melted = codes
        // static cell cut FIRST: on the partitioned layout this prunes
        // every directory outside the union of probed cells at listing
        .where(col("cent_id").isin(allCells: _*))
        .join(broadcast(qCells), Seq("cent_id"))
        .select(col("query_id"), col(idCol), col("cent_id"),
          posexplode(codeArr).as(Seq("book", "code")))
      val adc = melted
        .join(broadcast(partials), Seq("query_id", "cent_id", "book", "code"))
        .groupBy(col("query_id"), col(idCol))
        .agg(sum(col("partial")).as("adc_sqdist_micro"))
      val wCut = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("adc_sqdist_micro"), col(idCol))
      val cands = adc
        .withColumn("cut", row_number().over(wCut))
        .where(col("cut") <= k * candFactor)
        .select(col("query_id"), col(idCol), col("adc_sqdist_micro"))
      rerankRanked(emb, cands, qRows, k, idCol, vecCol)
    }
  }

  /** Materialize the residual quantizer as a PARTITIONED LAYOUT: the
    * (cent_id, codes) table written `partitionBy(cent_id)` — at scale
    * the ANN index IS this layout: a probe's `cent_id IN (...)` prunes
    * every unprobed cell DIRECTORY at file listing, and the 16×-
    * compressed codes are all the probe reads (full vectors are
    * touched only for the k·candFactor rerank ids, from the primary
    * store). The model rides as a long-form side table (book -1 = the
    * coarse centroids).
    */
  def writeResidualLayout(
      emb: DataFrame,
      rm: ResidualModel,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    ((-1, rm.coarse) +: rm.books.zipWithIndex.map(_.swap).toSeq)
      .flatMap { case (b, mod) =>
        mod.centroids.toSeq.flatMap { case (cid, v) =>
          v.zipWithIndex.map { case (x, i) => (b, cid, i.toLong, x) }
        }
      }
      .toDF("book", "cent_id", "dim_idx", "v")
      .write.mode("overwrite").parquet(s"$path/model")
    encodeResidual(emb, rm, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$path/cells")
  }

  /** Load the model side table back (bounded: (kCoarse + m·kSub)·dim
    * rows by construction).
    */
  def readResidualModel(
      spark: SparkSession, path: String): ResidualModel = {
    val rows = spark.read.parquet(s"$path/model").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def modelOf(b: Int): Kmeans.Model = Kmeans.Model(
      rows.filter(_._1 == b)
        .groupBy(_._2)
        .map { case (cid, rs) =>
          (cid, rs.sortBy(_._3).map(_._4).toArray)
        }
        .toArray.sortBy(_._1))
    val coarse = modelOf(-1)
    val m = rows.map(_._1).max + 1
    ResidualModel(coarse, Array.tabulate(m)(modelOf),
      coarse.centroids.head._2.length, m)
  }

  /** [[residualAdcKnn]] over the persisted layout: the probed-cell
    * `isin` filter lands as a PARTITION filter on the codes scan
    * (plan-gated), so unprobed directories are never listed. `emb`
    * supplies full vectors for the bounded rerank only.
    */
  def residualAdcKnnFromLayout(
      spark: SparkSession,
      path: String,
      emb: DataFrame,
      query: DataFrame,
      nProbe: Int,
      k: Int,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val rm = readResidualModel(spark, path)
    residualAdcKnnFrom(emb, spark.read.parquet(s"$path/cells"), rm,
      query, nProbe, k, candFactor, idCol, vecCol)
  }

  /** Batch twin of [[residualAdcKnnFromLayout]]: many queries against
    * the persisted layout, model read once — each query's probe still
    * lands as a `cent_id IN (...)` partition filter on the codes scan.
    */
  def residualAdcKnnBatchFromLayout(
      spark: SparkSession,
      path: String,
      emb: DataFrame,
      queries: DataFrame, // (query_id, qv), bounded
      nProbe: Int,
      k: Int,
      candFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    residualAdcKnnBatchFrom(emb, spark.read.parquet(s"$path/cells"),
      readResidualModel(spark, path), queries, nProbe, k, candFactor,
      idCol, vecCol)

  // ---- the DuckDB twins ------------------------------------------------

  /** The residual replay both residual twins start from: the coarse Lloyd
    * chain (`cg_`), the residual source CTE `rsrc` (micro − final
    * centroid), and one residual chain per subspace trained FROM it.
    */
  private def residualChainsSql(
      table: String, dim: Int, kCoarse: Int, coarseIters: Int,
      m: Int, kSub: Int, pqIters: Int): String = {
    val dsub = dim / m
    val cFin = coarseIters + 1
    val coarseChain = Kmeans.iterationCtes(table, kCoarse, coarseIters, "cg_")
    val residChains = (0 until m).map { s =>
      Kmeans.iterationCtes(table, kSub, pqIters, s"s${s}_", s * dsub, dsub,
        srcCte = "rsrc")
    }.mkString(",\n")
    s"""$coarseChain,
       |rsrc AS MATERIALIZED (SELECT m.vec_id, m.i, m.x - c.v AS x
       |  FROM cg_m m
       |  JOIN cg_a$cFin a ON a.vec_id = m.vec_id
       |  JOIN cg_c$coarseIters c ON c.cent_id = a.cent_id AND c.i = m.i),
       |$residChains""".stripMargin
  }

  /** The single-query twins' tail: the shortlist cut over the `adc` CTE,
    * the query row (vec_id 0), exact rerank, top k.
    */
  private def pointTailSql(
      table: String, k: Int, candFactor: Int,
      dist: (String, String) => String): String =
    s"""cand AS (SELECT vec_id, adc_sqdist_micro FROM adc
       |  ORDER BY adc_sqdist_micro, vec_id LIMIT ${k * candFactor}),
       |q AS (SELECT embedding::DOUBLE[] AS qv FROM $table WHERE vec_id = 0)
       |SELECT c.vec_id, c.adc_sqdist_micro,
       |  round(${dist("e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
       |FROM $table e
       |JOIN cand c ON c.vec_id = e.vec_id, q
       |ORDER BY distance, c.vec_id
       |LIMIT $k""".stripMargin

  /** The batch twins' tail: the per-query shortlist window over the `adc`
    * CTE into `cand`, the query rows `qb` (vec_id < 5), the exact rerank
    * `rr`, and the per-query rank cut.
    */
  private def batchTailSql(
      table: String, adc: String, cand: String, k: Int, candFactor: Int,
      dist: (String, String) => String): String =
    s"""$cand AS (SELECT query_id, vec_id, adc_sqdist_micro FROM (
       |  SELECT query_id, vec_id, adc_sqdist_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_sqdist_micro, vec_id) AS rn
       |  FROM $adc) WHERE rn <= ${k * candFactor}),
       |qb AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM $table WHERE vec_id < 5),
       |rr AS (SELECT c.query_id, c.vec_id, c.adc_sqdist_micro,
       |  round(${dist("e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
       |  FROM $cand c
       |  JOIN $table e ON e.vec_id = c.vec_id
       |  JOIN qb q ON q.query_id = c.query_id)
       |SELECT query_id, vec_id, adc_sqdist_micro, distance, rank FROM (
       |  SELECT query_id, vec_id, adc_sqdist_micro, distance,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY distance, vec_id) AS rank
       |  FROM rr)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** The DuckDB twin of [[residualAdcKnn]]: the residual replay,
    * per-(cell, code) integer ADC tables for the query, member cut by
    * probed cell, shortlist, exact rerank.
    */
  def residualOracleSql(
      table: String, dim: Int, kCoarse: Int, coarseIters: Int,
      m: Int, kSub: Int, pqIters: Int, nProbe: Int,
      k: Int, candFactor: Int,
      dist: (String, String) => String): String = {
    val dsub = dim / m
    val cFin = coarseIters + 1
    val pqFin = pqIters + 1
    val tables = (0 until m).map { s =>
      val off = s * dsub
      s"""s${s}_t AS (SELECT qr.cent_id AS cell, cb.cent_id AS code,
         |  CAST(sum((qr.x - cb.v) * (qr.x - cb.v)) AS BIGINT) AS sq
         |  FROM (SELECT cent_id, i - $off AS i, x FROM qr
         |        WHERE i >= $off AND i < ${off + dsub}) qr
         |  JOIN s${s}_c$pqIters cb ON cb.i = qr.i
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until m).map { s =>
      s"""JOIN s${s}_a$pqFin k$s ON k$s.vec_id = mem.vec_id
         |  JOIN s${s}_t t$s ON t$s.cell = mem.cent_id AND t$s.code = k$s.cent_id"""
        .stripMargin
    }.mkString("\n  ")
    val total = (0 until m).map(s => s"t$s.sq").mkString(" + ")
    val chains =
      residualChainsSql(table, dim, kCoarse, coarseIters, m, kSub, pqIters)
    s"""WITH $chains,
       |qm0 AS MATERIALIZED (SELECT i, x FROM cg_m WHERE vec_id = 0),
       |qd AS (SELECT c.cent_id, sum((q.x - c.v) * (q.x - c.v)) AS sq
       |       FROM qm0 q JOIN cg_c$coarseIters c ON c.i = q.i GROUP BY 1),
       |probes AS MATERIALIZED (SELECT cent_id FROM qd ORDER BY sq, cent_id LIMIT $nProbe),
       |qr AS MATERIALIZED (SELECT c.cent_id, c.i, q.x - c.v AS x
       |       FROM probes p
       |       JOIN cg_c$coarseIters c ON c.cent_id = p.cent_id
       |       JOIN qm0 q ON q.i = c.i),
       |$tables,
       |mem AS (SELECT a.vec_id, a.cent_id FROM cg_a$cFin a
       |        JOIN probes p ON p.cent_id = a.cent_id),
       |adc AS (SELECT mem.vec_id,
       |  CAST($total AS BIGINT) AS adc_sqdist_micro
       |  FROM mem
       |  $codeJoins),
       |${pointTailSql(table, k, candFactor, dist)}""".stripMargin
  }

  /** The DuckDB twin of [[residualAdcKnnBatch]]: the single-query
    * residual machinery with every query-scoped CTE carrying query_id —
    * per-query probe windows, per-(query, cell, code) tables, per-query
    * shortlist and rank windows.
    */
  def residualBatchOracleSql(
      table: String, dim: Int, kCoarse: Int, coarseIters: Int,
      m: Int, kSub: Int, pqIters: Int, nProbe: Int,
      k: Int, candFactor: Int,
      dist: (String, String) => String): String = {
    val dsub = dim / m
    val cFin = coarseIters + 1
    val pqFin = pqIters + 1
    val tables = (0 until m).map { s =>
      val off = s * dsub
      s"""s${s}_tb AS (SELECT qr.query_id, qr.cent_id AS cell,
         |  cb.cent_id AS code,
         |  CAST(sum((qr.x - cb.v) * (qr.x - cb.v)) AS BIGINT) AS sq
         |  FROM (SELECT query_id, cent_id, i - $off AS i, x FROM qrb
         |        WHERE i >= $off AND i < ${off + dsub}) qr
         |  JOIN s${s}_c$pqIters cb ON cb.i = qr.i
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until m).map { s =>
      s"""JOIN s${s}_a$pqFin k$s ON k$s.vec_id = mem.vec_id
         |  JOIN s${s}_tb t$s ON t$s.query_id = mem.query_id
         |    AND t$s.cell = mem.cent_id AND t$s.code = k$s.cent_id"""
        .stripMargin
    }.mkString("\n  ")
    val total = (0 until m).map(s => s"t$s.sq").mkString(" + ")
    val chains =
      residualChainsSql(table, dim, kCoarse, coarseIters, m, kSub, pqIters)
    s"""WITH $chains,
       |qmb AS MATERIALIZED (SELECT vec_id AS query_id, i, x FROM cg_m
       |  WHERE vec_id < 5),
       |qdb AS (SELECT q.query_id, c.cent_id,
       |  sum((q.x - c.v) * (q.x - c.v)) AS sq
       |  FROM qmb q JOIN cg_c$coarseIters c ON c.i = q.i GROUP BY 1, 2),
       |probesb AS MATERIALIZED (SELECT query_id, cent_id FROM (
       |  SELECT query_id, cent_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sq, cent_id) AS rn
       |  FROM qdb) WHERE rn <= $nProbe),
       |qrb AS MATERIALIZED (SELECT p.query_id, c.cent_id, c.i,
       |  q.x - c.v AS x
       |  FROM probesb p
       |  JOIN cg_c$coarseIters c ON c.cent_id = p.cent_id
       |  JOIN qmb q ON q.query_id = p.query_id AND q.i = c.i),
       |$tables,
       |mem AS MATERIALIZED (SELECT p.query_id, a.vec_id, a.cent_id
       |  FROM cg_a$cFin a
       |  JOIN probesb p ON p.cent_id = a.cent_id),
       |adcb AS (SELECT mem.query_id, mem.vec_id,
       |  CAST($total AS BIGINT) AS adc_sqdist_micro
       |  FROM mem
       |  $codeJoins),
       |${batchTailSql(table, "adcb", "candb", k, candFactor, dist)}""".stripMargin
  }

  /** The DuckDB twin of [[exactAdcKnn]]: one prefixed Lloyd CTE chain
    * per subspace ([[Kmeans.iterationCtes]] with the slice hooks), the
    * query's integer ADC tables, the shortlist cut, exact rerank.
    */
  def exactOracleSql(
      table: String, dim: Int, m: Int, kSub: Int, iterations: Int,
      k: Int, candFactor: Int,
      dist: (String, String) => String): String = {
    val dsub = dim / m
    val fin = iterations + 1
    val chains = (0 until m).map { s =>
      Kmeans.iterationCtes(table, kSub, iterations, s"s${s}_", s * dsub, dsub)
    }.mkString(",\n")
    val perSub = (0 until m).map { s =>
      val off = s * dsub
      s"""s${s}_qm AS (
         |  SELECT CAST(p - 1 - $off AS BIGINT) AS i,
         |    CAST(round(x * 1000000, 0) AS BIGINT) AS x
         |  FROM (SELECT unnest(embedding::DOUBLE[]) AS x,
         |        unnest(generate_series(1, len(embedding))) AS p
         |        FROM $table WHERE vec_id = 0)
         |  WHERE p > $off AND p <= ${off + dsub}),
         |s${s}_t AS (SELECT c.cent_id,
         |  CAST(sum((qm.x - c.v) * (qm.x - c.v)) AS BIGINT) AS sq
         |  FROM s${s}_qm qm JOIN s${s}_c$iterations c ON c.i = qm.i GROUP BY 1),
         |s${s}_adc AS (SELECT a.vec_id, t.sq
         |  FROM s${s}_a$fin a JOIN s${s}_t t ON t.cent_id = a.cent_id)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until m)
      .map(s => s"JOIN s${s}_adc ON s${s}_adc.vec_id = s0_adc.vec_id")
      .mkString("\n  ")
    val total = (0 until m).map(s => s"s${s}_adc.sq").mkString(" + ")
    s"""WITH $chains,
       |$perSub,
       |adc AS (SELECT s0_adc.vec_id,
       |  CAST($total AS BIGINT) AS adc_sqdist_micro
       |  FROM s0_adc
       |  $joins),
       |${pointTailSql(table, k, candFactor, dist)}""".stripMargin
  }

  /** The DuckDB twin of [[exactAdcKnnBatch]]: the same chains, the ADC
    * tables per (query, subspace), per-query shortlist windows, rerank
    * with per-query rank.
    */
  def exactBatchOracleSql(
      table: String, dim: Int, m: Int, kSub: Int, iterations: Int,
      k: Int, candFactor: Int,
      dist: (String, String) => String): String = {
    val dsub = dim / m
    val fin = iterations + 1
    val chains = (0 until m).map { s =>
      Kmeans.iterationCtes(table, kSub, iterations, s"s${s}_", s * dsub, dsub)
    }.mkString(",\n")
    val perSub = (0 until m).map { s =>
      val off = s * dsub
      s"""s${s}_qm AS (
         |  SELECT vec_id AS query_id, CAST(p - 1 - $off AS BIGINT) AS i,
         |    CAST(round(x * 1000000, 0) AS BIGINT) AS x
         |  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         |        unnest(generate_series(1, len(embedding))) AS p
         |        FROM $table WHERE vec_id < 5)
         |  WHERE p > $off AND p <= ${off + dsub}),
         |s${s}_t AS (SELECT qm.query_id, c.cent_id,
         |  CAST(sum((qm.x - c.v) * (qm.x - c.v)) AS BIGINT) AS sq
         |  FROM s${s}_qm qm JOIN s${s}_c$iterations c ON c.i = qm.i GROUP BY 1, 2),
         |s${s}_adc AS (SELECT t.query_id, a.vec_id, t.sq
         |  FROM s${s}_a$fin a JOIN s${s}_t t ON t.cent_id = a.cent_id)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until m)
      .map(s => s"JOIN s${s}_adc ON s${s}_adc.vec_id = s0_adc.vec_id" +
        s" AND s${s}_adc.query_id = s0_adc.query_id")
      .mkString("\n  ")
    val total = (0 until m).map(s => s"s${s}_adc.sq").mkString(" + ")
    s"""WITH $chains,
       |$perSub,
       |adc AS (SELECT s0_adc.query_id, s0_adc.vec_id,
       |  CAST($total AS BIGINT) AS adc_sqdist_micro
       |  FROM s0_adc
       |  $joins),
       |${batchTailSql(table, "adc", "cand", k, candFactor, dist)}""".stripMargin
  }
}
