package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Kmeans, Knn, ProductQuantization => PQ}

/** PQ invariants: compression, reproducibility, ADC recall, and the
  * integer-exact faces' parity with their exact and single-query twins.
  */
class ProductQuantizationSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  // m = 8 subspaces of 8 dims with 16 cells each: a 512 B vector becomes
  // 8 codes below 16 — one byte each packed, the 64x shape
  private lazy val models =
    PQ.fitExact(emb, dim = 64, m = 8, kSub = 16, iterations = 2)
  private lazy val codes = PQ.encodeExact(emb, models, dim = 64)

  private def queriesOf(df: DataFrame, ids: Long*): DataFrame =
    df.where(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  private def flat(ms: Array[Kmeans.Model]) =
    ms.toSeq.map(_.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq)

  test("codes are one small int per subspace — the 64x compression shape") {
    assert(codes.count() == emb.count())
    assert(codes.columns.toSeq == "vec_id" +: (0 until 8).map(s => s"code_$s"))
    val bad = codes.where((0 until 8)
      .map(s => col(s"code_$s") < 0 || col(s"code_$s") >= 16)
      .reduce(_ || _)).count()
    assert(bad == 0)
  }

  test("training and encoding are reproducible at a fixed seed") {
    // the integer-exact trainer's seed is its first-k init: a retrain
    // gives bit-identical codebooks, hence identical codes
    val again = PQ.fitExact(emb, dim = 64, m = 8, kSub = 16, iterations = 2)
    assert(flat(again) == flat(models))
    def rows(ms: Array[Kmeans.Model]) = PQ.encodeExact(emb, ms, dim = 64)
      .orderBy(col("vec_id")).collect().toSeq
    assert(rows(again) == rows(models))
  }

  test("self-match survives 64x quantization on the fixture") {
    // near-random high-dim vectors are nearly equidistant, so PQ (like any
    // coarse quantizer) cannot rank strangers there — but the query's own
    // row must still land in its ADC top-10 (candFactor 1: the shortlist
    // IS the ADC top-10, the rerank only reorders it)
    val adc = PQ.exactAdcKnnBatchFrom(emb, codes, models,
        queriesOf(emb, 100L), k = 10, candFactor = 1)
      .collect().map(_.getLong(1)).toSet
    assert(adc.contains(100L), adc.toString)
  }

  test("on clustered data: ADC finds the cluster; shortlist+rerank finds the neighbors") {
    import spark.implicits._
    val rnd = new java.util.Random(13L)
    val dim = 32
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian() * 2.0))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => x + 0.2 * rnd.nextGaussian()).toSeq)
    }
    val data = rows.toDF("vec_id", "embedding")
    val ms = PQ.fitExact(data, dim, m = 4, kSub = 32, iterations = 5)
    val enc = PQ.encodeExact(data, ms, dim)
    val q = queriesOf(data, 7L)
    val exact = Knn.knn(data, q.select(col("qv")), 10, VectorFunctions.cosine)
      .collect().map(_.getLong(0)).toSet
    // raw ADC (candFactor 1): every candidate is from the query's cluster
    // (codebook cells align with clusters; within-cell ranks tie)
    val adc = PQ.exactAdcKnnBatchFrom(data, enc, ms, q, k = 10, candFactor = 1)
      .collect().map(_.getLong(1))
    assert(adc.forall(id => id % 16 == 7), adc.mkString(","))
    // deployed shape: ADC shortlist of 100 (5% of corpus) + exact re-rank
    val reranked = PQ.exactAdcKnnBatchFrom(data, enc, ms, q, k = 10,
        candFactor = 10)
      .collect().map(_.getLong(1)).toSet
    assert((exact & reranked).size >= 9, s"exact=$exact reranked=$reranked")
  }

  // ---- integer-exact (oracle-checked) face --------------------------------

  test("exact PQ: a corpus-covering shortlist degrades to exact cosine knn") {
    // candFactor · k ≥ n ⇒ every row survives the ADC cut, so the rerank
    // IS the exact scan — the nProbe=kCells degradation gate, PQ edition
    val n = emb.count().toInt
    val got = PQ.exactAdcKnn(emb, emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qv")),
        dim = 64, m = 4, kSub = 8, iterations = 2, k = 10,
        candFactor = n / 10 + 1)
      .select(col("vec_id"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Knn.knn(emb, emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qv")), 10, VectorFunctions.cosine)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("exact PQ batch: query 0's rows equal the single-query face") {
    val single = PQ.exactAdcKnn(emb, emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qv")),
        dim = 64, m = 4, kSub = 8, iterations = 2, k = 10, candFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = PQ.exactAdcKnnBatch(emb,
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        dim = 64, m = 4, kSub = 8, iterations = 2, k = 10, candFactor = 8)
      .where(col("query_id") === 0)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(batch == single)
    assert(batch.size == 10)
  }

  test("residual PQ: all-cells probe + covering shortlist degrades to exact knn") {
    val n = emb.count().toInt
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val got = PQ.residualAdcKnn(emb, q, dim = 64, kCoarse = 4,
        coarseIters = 2, m = 4, kSub = 8, pqIters = 2, nProbe = 4,
        k = 10, candFactor = n / 10 + 1)
      .select(col("vec_id"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Knn.knn(emb, q, 10, VectorFunctions.cosine)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("residual PQ: codes valid, cell pruning deterministic, self-ADC balances") {
    val rm = PQ.fitResidual(emb, dim = 64, kCoarse = 4, coarseIters = 2,
      m = 4, kSub = 8, pqIters = 2)
    val enc = PQ.encodeResidual(emb, rm)
    assert(enc.count() == emb.count())
    val bad = enc.where(
      col("cent_id") < 0 || col("cent_id") >= 4 ||
        (1 to 4).map(i => col(s"code_${i - 1}") < 0 ||
          col(s"code_${i - 1}") >= 8).reduce(_ || _)).count()
    assert(bad == 0)
    // pruned search is deterministic and keeps the self-match at rank 1
    val q = emb.where(col("vec_id") === 7).select(col("embedding").as("qv"))
    val a = PQ.residualAdcKnn(emb, q, 64, 4, 2, 4, 8, 2, nProbe = 2,
      k = 10, candFactor = 8).collect().map(_.getLong(0)).toSeq
    val b = PQ.residualAdcKnn(emb, q, 64, 4, 2, 4, 8, 2, nProbe = 2,
      k = 10, candFactor = 8).collect().map(_.getLong(0)).toSeq
    assert(a == b && a.head == 7L)
    // residual ADC of a vector against its own cell's tables = the sum
    // of its per-subspace assignment sqdists — the books balance
    val qv = emb.where(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val qMicro = qv.map(x => BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val ownCell = enc.where(col("vec_id") === 7).head()
    val cid = ownCell.getLong(1).toInt
    val cv = rm.coarse.centroids.sortBy(_._1).apply(cid)._2
    val qr = qMicro.zip(cv).map { case (x, c) => x - c }
    val dsub = 16
    val wantSelf = (0 until 4).map { sub =>
      rm.books(sub).centroids.map { case (_, cent) =>
        cent.zip(qr.slice(sub * dsub, (sub + 1) * dsub))
          .map { case (a2, b2) => (a2 - b2) * (a2 - b2) }.sum
      }.min
    }.sum
    val adcSelf = PQ.residualAdcKnn(emb, q, 64, 4, 2, 4, 8, 2, nProbe = 4,
        k = 10, candFactor = 100)
      .where(col("vec_id") === 7)
      .select(col("adc_sqdist_micro")).head().getLong(0)
    assert(adcSelf == wantSelf)
  }

  test("residual PQ batch: query 0's rows equal the single-query face") {
    val single = PQ.residualAdcKnn(emb,
        emb.where(col("vec_id") === 0).select(col("embedding").as("qv")),
        64, 4, 2, 4, 8, 2, nProbe = 2, k = 10, candFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = PQ.residualAdcKnnBatch(emb,
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        64, 4, 2, 4, 8, 2, nProbe = 2, k = 10, candFactor = 8)
      .where(col("query_id") === 0)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(batch == single)
    assert(batch.size == 10)
  }

  test("residual PQ bulk (join-shaped) equals the leg-shaped batch face row for row") {
    val rm = PQ.fitResidual(emb, dim = 64, kCoarse = 4, coarseIters = 2,
      m = 4, kSub = 8, pqIters = 2)
    val codes = PQ.encodeResidual(emb, rm)
    val queries = emb.where(col("vec_id") < 7)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq
    val leg = rows(PQ.residualAdcKnnBatchFrom(emb, codes, rm, queries,
      nProbe = 2, k = 10, candFactor = 8))
    val bulk = rows(PQ.residualAdcKnnBulk(emb, codes, rm, queries,
      nProbe = 2, k = 10, candFactor = 8))
    assert(bulk == leg)
    assert(bulk.size == 70)
    // empty query batch: every batch face answers the same typed empty
    // frame (not a crash), with the non-empty answer's five columns
    val shape = PQ.residualAdcKnnBatchFrom(emb, codes, rm, queries,
      nProbe = 2, k = 10).schema.map(f => (f.name, f.dataType))
    assert(shape.map(_._1) ==
      Seq("query_id", "vec_id", "adc_sqdist_micro", "distance", "rank"))
    val none = queries.where(col("query_id") < 0)
    Seq(
      PQ.residualAdcKnnBulk(emb, codes, rm, none, nProbe = 2, k = 10),
      PQ.residualAdcKnnBatchFrom(emb, codes, rm, none, nProbe = 2, k = 10),
      PQ.exactAdcKnnBatchFrom(emb, this.codes, models, none, k = 10,
        candFactor = 8)
    ).foreach { empty =>
      assert(empty.collect().isEmpty)
      assert(empty.schema.map(f => (f.name, f.dataType)) == shape)
    }
  }

  test("residual PQ layout: probe equals in-memory face and prunes cell dirs") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq-layout").toString
    val rm = PQ.fitResidual(emb, dim = 64, kCoarse = 4, coarseIters = 2,
      m = 4, kSub = 8, pqIters = 2)
    PQ.writeResidualLayout(emb, rm, path)
    // model round-trips exactly (coarse + every book)
    val rm2 = PQ.readResidualModel(spark, path)
    def flat(m0: graft.operators.Kmeans.Model) =
      m0.centroids.map { case (c, v) => (c, v.toSeq) }.toSeq
    assert(flat(rm.coarse) == flat(rm2.coarse))
    assert(rm.books.map(flat).toSeq == rm2.books.map(flat).toSeq)
    assert(rm2.dim == 64 && rm2.m == 4)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val fromLayout = PQ.residualAdcKnnFromLayout(spark, path, emb, q,
      nProbe = 2, k = 10, candFactor = 8)
    val inMemory = PQ.residualAdcKnn(emb, q, 64, 4, 2, 4, 8, 2,
      nProbe = 2, k = 10, candFactor = 8)
    val a = fromLayout.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = inMemory.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a == b && a.size == 10)
    // probed-cell filter lands as a PARTITION filter on the codes scan
    val plan = fromLayout.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cent_id#") ||
      plan.contains("cent_id IN"),
      s"no partition filter on the codes scan:\n$plan")
    // a bare pruned scan reads at most the probed directories
    val bare = spark.read.parquet(s"$path/cells")
      .where(col("cent_id").isin(0L, 1L))
    bare.collect()
    val scanned = graft.sources.Storage.prunedPartitionCount(bare)
    assert(scanned.exists(n2 => n2 > 0 && n2 <= 2),
      s"bare pruned scan read $scanned partitions, want <= 2")
  }

  test("exact PQ codes: every code is a valid dense cell id; self-distance is minimal") {
    val models = PQ.fitExact(emb, dim = 64, m = 4, kSub = 8, iterations = 2)
    val enc = PQ.encodeExact(emb, models, dim = 64)
    val codeCols = (0 until 4).map(s => col(s"code_$s"))
    val bad = enc.where(codeCols.map(c => c < 0 || c >= 8).reduce(_ || _))
      .count()
    assert(bad == 0)
    // the integer ADC distance of a vector AGAINST ITSELF as the query
    // equals the sum of its own assignment sqdists — the books balance
    val q = emb.where(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val adcSelf = PQ.exactAdcKnn(emb,
        emb.where(col("vec_id") === 42).select(col("embedding").as("qv")),
        dim = 64, m = 4, kSub = 8, iterations = 2, k = 10, candFactor = 50)
      .where(col("vec_id") === 42)
      .select(col("adc_sqdist_micro")).collect()
    val dsub = 16
    val wantSelf = (0 until 4).map { sub =>
      val qm = q.slice(sub * dsub, (sub + 1) * dsub)
        .map(x => BigDecimal(x * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      models(sub).centroids.map { case (_, cent) =>
        cent.zip(qm).map { case (a, b) => (a - b) * (a - b) }.sum
      }.min
    }.sum
    assert(adcSelf.length == 1 && adcSelf(0).getLong(0) == wantSelf)
  }
}
