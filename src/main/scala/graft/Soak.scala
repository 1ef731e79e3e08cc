package graft

import org.apache.spark.sql.SparkSession
import graft.index.HnswSpark

/** HNSW scale soak: build-throughput, serving latency, and recall@10 at
  * 100-400× fixture scale, for BOTH serving shapes. Prints one JSON line.
  * Usage:
  *   graft.Soak [nVectors] [dim] [nShards] [nQueries] [mode]
  * Synthetic seeded Gaussian vectors (not the driver fixtures — the point
  * is a corpus far larger than sf0.001's 500 embeddings).
  *
  * Modes: all | resident | sq8resident | pqresident | refresh |
  * refreshloop | filtered | sq8filtered | pqfiltered — the *filtered
  * trio measures the predicate-constrained probe (1-in-mod id allow
  * list, exact FILTERED ground truth) on the float, SQ8, and PQ
  * serving paths respectively.
  *
  * mode=resident: the 1000× soak (1M vectors = the reference's
  * max_elements ceiling, its hard per-process limit). RESIDENT SHAPE
  * ONLY, and nothing corpus-sized ever touches the driver: vectors are
  * generated DISTRIBUTED (seeded hash → Box-Muller per element, so the
  * corpus is a deterministic function of (id, j) on executors), the
  * shards build and stay where the partitions live, ground truth is a
  * distributed brute-force top-k over a query sample, and the driver only
  * ever holds the nq query vectors and k-row results. Reports build time,
  * amortized batched latency, p50/p99 per-point PROBE latency (each point
  * is a full searchResident round trip — job scheduling included, which
  * is the honest number for this serving shape), and recall@10.
  *
  * Shapes measured:
  *  - RESIDENT (buildResident/searchResident): shards stay on executors,
  *    queries broadcast — the 100 TB shape. build_resident_sec has no
  *    driver collect in it; query_resident_ms is a batched DataFrame probe
  *    amortized per query.
  *  - BROADCAST (build/searchAll): the collect()+broadcast shape, plus
  *    single-threaded and parallel point-lookup latency. build_sec at
  *    400× was historically dominated by the ~800 MB driver collect —
  *    that delta vs build_resident_sec is exactly what this soak exists
  *    to show.
  * Both paths produce identical result sets (same seeds, same shards;
  * HnswResidentSpec gates row-identity), so recall is reported once.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 50000
    val dim = if (args.length > 1) args(1).toInt else 64
    val shards = if (args.length > 2) args(2).toInt else 8
    val nq = if (args.length > 3) args(3).toInt else 200
    val mode = if (args.length > 4) args(4) else "all"
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local(cpus)
    import spark.implicits._

    // optional ef_search sweep list for resident mode (arg 6, comma-sep);
    // sorted so "smallest ef clearing the recall gate" and the
    // widest-ef fallback are order-independent of how the arg was typed
    val efSweep: Seq[Int] =
      (if (args.length > 5) args(5).split(",").map(_.trim.toInt).toSeq
       else Seq(50)).sorted

    if (mode == "resident") { residentSoak(spark, n, dim, shards, nq, efSweep); spark.stop(); return }
    // mode=sq8resident: the DiskANN composition at scale — build full,
    // compress to one-byte codes, drop the float shards, serve with
    // quantized traversal + bounded exact rerank; reports the memory
    // line (full vs sq8 resident bytes) and the recall/latency sweep
    if (mode == "sq8resident") {
      sq8ResidentSoak(spark, n, dim, shards, nq, efSweep); spark.stop(); return
    }
    // mode=sq8filtered: the SQ8 serving path under a 1-in-`mod` id
    // predicate (arg 7 = mod, default 10) — recall against exact
    // FILTERED truth; the number a compressed serving tier would run
    if (mode == "sq8filtered") {
      val mod = if (args.length > 6) args(6).toInt else 10
      sq8ResidentSoak(spark, n, dim, shards, nq, efSweep, Some(mod))
      spark.stop(); return
    }
    // mode=pqresident: the PQ-coded step past SQ8 — m one-byte codes
    // per vector, table-lookup traversal, exact rerank. Arg 7 picks the
    // corpus: "gauss" (near-equidistant neighbors, the adversarial case
    // for coarse codes) or "clustered" (1000 planted clusters, the
    // corpus PQ codes actually operate on)
    if (mode == "pqresident") {
      val corpusKind = if (args.length > 6) args(6) else "gauss"
      // arg 8 = m (codes/vector): the r15 clustered run read recall
      // 0.732 at m=8 even with a 64x rerank — the code budget, not the
      // beam, was the binding constraint; m is the knob that buys it back
      val mCodes = if (args.length > 7) args(7).toInt else 8
      pqResidentSoak(spark, n, dim, shards, nq, efSweep, corpusKind, mCodes)
      spark.stop(); return
    }
    // mode=pqfiltered: the PQ path under the same 1-in-`mod` predicate
    // (arg 7 = corpus kind, arg 8 = m, arg 9 = mod)
    if (mode == "pqfiltered") {
      val corpusKind = if (args.length > 6) args(6) else "clustered"
      val mCodes = if (args.length > 7) args(7).toInt else 8
      val mod = if (args.length > 8) args(8).toInt else 10
      pqResidentSoak(spark, n, dim, shards, nq, efSweep, corpusKind,
        mCodes, Some(mod))
      spark.stop(); return
    }
    // mode=refresh: incremental resident refresh vs full rebuild at the
    // same post-mutation state (arg 7 = mutation count, default 10000)
    if (mode == "refresh") {
      val nMut = if (args.length > 6) args(6).toInt else 10000
      refreshSoak(spark, n, dim, shards, nMut); spark.stop(); return
    }
    // mode=refreshloop: SUSTAINED ingest — nBatches sequential refresh
    // generations (arg 7 = batches, arg 8 = mutations per batch); the
    // steady-state loop streamingIndexRefresh drives per micro-batch
    if (mode == "refreshloop") {
      val nBatches = if (args.length > 6) args(6).toInt else 20
      val perBatch = if (args.length > 7) args(7).toInt else 2000
      refreshLoopSoak(spark, n, dim, shards, nBatches, perBatch)
      spark.stop(); return
    }
    // mode=filtered: the resident soak with a 1-in-`mod` id predicate —
    // the filtered probe's measured scale point (arg 7 = mod, default 10)
    if (mode == "filtered") {
      val mod = if (args.length > 6) args(6).toInt else 10
      residentSoak(spark, n, dim, shards, nq, efSweep, allowMod = Some(mod))
      spark.stop(); return
    }

    val vecs: Array[(Long, Array[Double])] = {
      val rnd = new java.util.Random(7L)
      Array.tabulate(n)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    }
    val df = spark.sparkContext.parallelize(vecs.toSeq, shards)
      .toDF("vec_id", "embedding")
    val queries = vecs.take(nq)

    // ---- executor-resident shape ----------------------------------------
    val tr0 = System.nanoTime()
    val resident = HnswSpark.buildResident(df, HnswSpark.Params(dim = dim), shards)
    val buildResidentSec = (System.nanoTime() - tr0) / 1e9

    val qDf = spark.sparkContext.parallelize(queries.toSeq, math.min(cpus, nq))
      .toDF("query_id", "qv")
    // warm-up materializes plan + broadcast, then one timed batched probe
    HnswSpark.searchResident(spark, resident, qDf, 10).count()
    val tr1 = System.nanoTime()
    val residentRows = HnswSpark.searchResident(spark, resident, qDf, 10)
      .collect()
    val qResidentMs = (System.nanoTime() - tr1) / 1e6 / nq
    val approx: Map[Long, Set[Long]] = residentRows
      .groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    resident.unpersist(blocking = false)

    // ---- broadcast shape (collect + driver-side probes) -----------------
    val t0 = System.nanoTime()
    val idx = HnswSpark.build(df, HnswSpark.Params(dim = dim), numPartitions = shards)
    val buildSec = (System.nanoTime() - t0) / 1e9

    // warm-up pass, then timed single-threaded serving loop
    queries.take(20).foreach { case (_, v) => HnswSpark.searchAll(idx.toSeq, v, 10) }
    val t1 = System.nanoTime()
    queries.foreach { case (_, v) => HnswSpark.searchAll(idx.toSeq, v, 10) }
    val qMs = (System.nanoTime() - t1) / 1e6 / nq

    // point-lookup latency with concurrent shard probing
    queries.take(20).foreach { case (_, v) => HnswSpark.searchAllPar(idx, v, 10) }
    val t2 = System.nanoTime()
    queries.foreach { case (_, v) => HnswSpark.searchAllPar(idx, v, 10) }
    val qParMs = (System.nanoTime() - t2) / 1e6 / nq

    // brute-force ground truth — O(nq·n), parallelized across queries
    val metricIdx = idx.head // distance impl carrier (metric/dim only)
    val truth: Map[Long, Set[Long]] =
      java.util.Arrays.stream(queries).parallel().map { case (qid, v) =>
        qid -> vecs.map { case (id, u) => (metricIdx.distance(v, u), id) }
          .sortBy(t => (t._1, t._2)).take(10).map(_._2).toSet
      }.toArray.map(_.asInstanceOf[(Long, Set[Long])]).toMap
    val recall = approx.map { case (qid, got) =>
      (got & truth(qid)).size / 10.0
    }.sum / nq

    println(
      s"""{"n":$n,"dim":$dim,"shards":$shards,""" +
      s""""build_resident_sec":${math.round(buildResidentSec * 100) / 100.0},""" +
      s""""query_resident_ms":${math.round(qResidentMs * 100) / 100.0},""" +
      s""""build_sec":${math.round(buildSec * 100) / 100.0},""" +
      s""""query_ms":${math.round(qMs * 100) / 100.0},""" +
      s""""query_par_ms":${math.round(qParMs * 100) / 100.0},""" +
      s""""recall_at_10":${math.round(recall * 1000) / 1000.0}}""")
    spark.stop()
  }

  /** The 1000× resident-only soak (see object scaladoc). `efSweep` probes
    * the same built shards at each ef_search value and reports a
    * recall/latency curve — the knob that defends the recall ≥ 0.9 gate
    * at the reference's 1M max_elements ceiling (VERDICT r4 item #3): the
    * operating point is the SMALLEST ef meeting recall@10 ≥ 0.9, and the
    * curve shows the measured latency price of clearing the gate.
    */
  /** `allowMod = Some(m)`: measure the PREDICATE-FILTERED probe instead —
    * ground truth restricts the brute force to ids with id % m == 0 and
    * the probe runs searchResidentFiltered with the same predicate, so
    * the reported recall is filtered-vs-exact-filtered at 1/m
    * selectivity (the in-traversal beam's self-oversampling measured at
    * scale, not just at sf0.001).
    */
  /** Deterministic distributed Gaussian corpus: element (id, j) is
    * Box-Muller over two hash-derived uniforms in (0, 1) — pure codegen
    * expressions, no RNG object, no driver-side array, reproducible per
    * (id, j, salt). `salt` shifts the stream so overwrite vectors differ
    * from the originals at the same ids.
    */
  private def gaussEmbedding(dim: Int, salt: Int) = {
    import org.apache.spark.sql.functions._
    def u(s: Int) =
      s"((abs(xxhash64(id, j, $s)) % 1000000000) + 0.5) / 1000000000.0"
    expr(s"transform(sequence(0, ${dim - 1}), j -> " +
      s"sqrt(-2.0 * ln(${u(2 * salt + 1)})) * " +
      s"cos(6.283185307179586 * ${u(2 * salt + 2)}))")
  }

  /** The refresh-vs-rebuild scale point: build a resident index at n,
    * apply an nMut mutation batch (80% new-id inserts, 10% overwrites,
    * 10% deletes — the continuous-ingest mix) through
    * [[HnswSpark.refreshResident]], and rebuild the SAME post-mutation
    * state from scratch for comparison. Sanity: both serve identical
    * live counts. The headline is rebuild_sec / refresh_sec — the
    * factor the incremental path buys an online-ingest pipeline.
    */
  private def refreshSoak(
      spark: SparkSession, n: Int, dim: Int, shards: Int, nMut: Int): Unit = {
    import org.apache.spark.sql.functions._
    val params = HnswSpark.Params(dim = dim)
    val corpus = spark.range(0, n, 1, shards)
      .select(col("id").as("vec_id"), gaussEmbedding(dim, 0).as("embedding"))
    val t0 = System.nanoTime()
    val resident = HnswSpark.buildResident(corpus, params, shards)
    val buildSec = (System.nanoTime() - t0) / 1e9

    val nIns = nMut * 8 / 10
    val nOver = nMut / 10
    val nDel = nMut - nIns - nOver
    val inserts = spark.range(n, n.toLong + nIns, 1, shards).select(
      col("id").as("seq"), lit("insert").as("op"), col("id").as("vec_id"),
      gaussEmbedding(dim, 0).as("vec"))
    val overwrites = spark.range(0, nOver, 1, shards).select(
      (col("id") + 2000000000L).as("seq"), lit("insert").as("op"),
      col("id").as("vec_id"), gaussEmbedding(dim, 7).as("vec"))
    val deletes = spark.range(n / 2, n / 2 + nDel, 1, shards).select(
      (col("id") + 3000000000L).as("seq"), lit("delete").as("op"),
      col("id").as("vec_id"),
      lit(null).cast("array<double>").as("vec"))
    val batch = inserts.unionByName(overwrites).unionByName(deletes)

    val t1 = System.nanoTime()
    val refreshed = HnswSpark.refreshResident(resident, batch, params)
    val refreshSec = (System.nanoTime() - t1) / 1e9

    // full rebuild over the folded post-mutation state (overwrites keep
    // their ids with the salted vectors; deletes drop; inserts extend)
    val folded = corpus
      .where(col("vec_id") >= nOver &&
        !(col("vec_id") >= n / 2 && col("vec_id") < n / 2 + nDel))
      .unionByName(spark.range(n, n.toLong + nIns, 1, shards).select(
        col("id").as("vec_id"), gaussEmbedding(dim, 0).as("embedding")))
      .unionByName(spark.range(0, nOver, 1, shards).select(
        col("id").as("vec_id"), gaussEmbedding(dim, 7).as("embedding")))
    val t2 = System.nanoTime()
    val rebuilt = HnswSpark.buildResident(folded, params, shards)
    val rebuildSec = (System.nanoTime() - t2) / 1e9

    val refreshedLive = refreshed.map(_.size.toLong).reduce(_ + _)
    val rebuiltLive = rebuilt.map(_.size.toLong).reduce(_ + _)
    resident.unpersist(blocking = false)
    refreshed.unpersist(blocking = false)
    rebuilt.unpersist(blocking = false)
    println(
      s"""{"mode":"refresh","n":$n,"dim":$dim,"shards":$shards,""" +
      s""""n_mutations":$nMut,""" +
      s""""build_resident_sec":${math.round(buildSec * 100) / 100.0},""" +
      s""""refresh_sec":${math.round(refreshSec * 100) / 100.0},""" +
      s""""rebuild_sec":${math.round(rebuildSec * 100) / 100.0},""" +
      s""""rebuild_over_refresh":${math.round(rebuildSec / refreshSec * 10) / 10.0},""" +
      s""""live_match":${refreshedLive == rebuiltLive},""" +
      s""""live_count":$refreshedLive}""")
  }

  /** Sustained-ingest soak: nBatches sequential refresh generations over
    * a base of n vectors, batchSize new-id inserts per generation, old
    * generation unpersisted after each swap (exactly the
    * streamingIndexRefresh loop, minus the streaming machinery so the
    * numbers are the operator's own). Reports per-refresh latency
    * p50/p99 + first/last (drift check: latency must not grow with
    * generation count — the copy is per TOUCHED SHARD, not per
    * generation), and asserts the final live count.
    */
  private def refreshLoopSoak(
      spark: SparkSession, n: Int, dim: Int, shards: Int,
      nBatches: Int, perBatch: Int): Unit = {
    import org.apache.spark.sql.functions._
    val params = HnswSpark.Params(dim = dim)
    val corpus = spark.range(0, n, 1, shards)
      .select(col("id").as("vec_id"), gaussEmbedding(dim, 0).as("embedding"))
    val t0 = System.nanoTime()
    var current = HnswSpark.buildResident(corpus, params, shards)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val initial = current
    val times = (0 until nBatches).map { b =>
      val lo = n.toLong + b.toLong * perBatch
      val batch = spark.range(lo, lo + perBatch, 1, shards).select(
        col("id").as("seq"), lit("insert").as("op"), col("id").as("vec_id"),
        gaussEmbedding(dim, 0).as("vec"))
      val t = System.nanoTime()
      val next = HnswSpark.refreshResident(current, batch, params)
      val dt = (System.nanoTime() - t) / 1e9
      if (current ne initial) current.unpersist(blocking = false)
      current = next
      dt
    }
    val live = current.map(_.size.toLong).reduce(_ + _)
    val expect = n.toLong + nBatches.toLong * perBatch
    current.unpersist(blocking = false)
    initial.unpersist(blocking = false)
    val sorted = times.sorted
    def pct(p: Double) = sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
    def f(v: Double) = math.round(v * 100) / 100.0
    println(
      s"""{"mode":"refreshloop","n":$n,"dim":$dim,"shards":$shards,""" +
      s""""n_batches":$nBatches,"per_batch":$perBatch,""" +
      s""""build_resident_sec":${f(buildSec)},""" +
      s""""refresh_p50_sec":${f(pct(0.5))},"refresh_p99_sec":${f(pct(0.99))},""" +
      s""""refresh_first_sec":${f(times.head)},"refresh_last_sec":${f(times.last)},""" +
      s""""live_match":${live == expect},"live_count":$live}""")
  }

  /** SQ8-compressed resident serving at scale: the residentSoak shape
    * with the [[HnswSpark.compressResident]] step in the middle and the
    * exact rerank (candFactor 4) on the probe path. The headline lines:
    * full_mb vs sq8_mb (the resident-memory claim, measured via
    * memoryBytes over the live shards) and recall@10 ≥ 0.9 at the
    * operating ef against exact full-precision truth.
    */
  private def sq8ResidentSoak(
      spark: SparkSession, n: Int, dim: Int, shards: Int, nq: Int,
      efSweep: Seq[Int], allowMod: Option[Int] = None): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.VectorFunctions
    val corpus = spark.range(0, n, 1, shards)
      .select(col("id").as("vec_id"), gaussEmbedding(dim, 0).as("embedding"))
      .persist() // the rerank joins back to it per probe
    corpus.count()
    val allowFn = allowMod.map(m => (id: Long) => id % m == 0)

    val tr0 = System.nanoTime()
    val full = HnswSpark.buildResident(
      corpus, HnswSpark.Params(dim = dim), shards)
    val buildSec = (System.nanoTime() - tr0) / 1e9
    val fullBytes = full.map(_.memoryBytes).reduce(_ + _)
    val tc0 = System.nanoTime()
    val sq8 = HnswSpark.compressResident(full)
    val compressSec = (System.nanoTime() - tc0) / 1e9
    val sq8Bytes = sq8.map(_.memoryBytes).reduce(_ + _)
    full.unpersist(blocking = false) // serving runs on codes alone

    val qRows = corpus.where(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val qDf = spark.sparkContext
      .parallelize(qRows.toSeq, math.min(32, nq)).toDF("query_id", "qv")

    val truthCorpus = allowMod match {
      case Some(m) => corpus.where(col("vec_id") % m === 0)
      case None => corpus
    }
    val exact = truthCorpus.crossJoin(broadcast(qDf))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosine(col("embedding"), col("qv")).as("d"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("d"), col("vec_id"), 10).as("topk"))
      .select(col("query_id"), explode(col("topk.vec_id")).as("vec_id"))
      .collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    def probe(df: org.apache.spark.sql.DataFrame, ef: Int) =
      HnswSpark.searchResidentRerank(spark, sq8, corpus, df, 10,
        candFactor = 4, ef = Some(ef), allow = allowFn)
    val sweep = efSweep.map { ef =>
      probe(qDf, ef).count() // warm
      val tb0 = System.nanoTime()
      val got = probe(qDf, ef).collect()
      val batchedMs = (System.nanoTime() - tb0) / 1e6 / nq
      val approx = got.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recall = approx.map { case (q, ids) => (ids & exact(q)).size / 10.0 }
        .sum / approx.size
      (ef, batchedMs, recall)
    }
    val (opEf, opMs, opRecall) = sweep.find(_._3 >= 0.9).getOrElse(sweep.last)
    sq8.unpersist(blocking = false)
    corpus.unpersist(blocking = false)
    val sweepJson = sweep.map { case (ef, ms, r) =>
      s"""{"ef":$ef,"query_batched_ms":${math.round(ms * 100) / 100.0},""" +
        s""""recall_at_10":${math.round(r * 1000) / 1000.0}}"""
    }.mkString("[", ",", "]")
    val sq8Mode = allowMod.fold("sq8resident")(m => s"sq8filtered(1/$m)")
    println(
      s"""{"mode":"$sq8Mode","n":$n,"dim":$dim,"shards":$shards,""" +
      s""""build_resident_sec":${math.round(buildSec * 100) / 100.0},""" +
      s""""compress_sec":${math.round(compressSec * 100) / 100.0},""" +
      s""""full_index_mb":${fullBytes / 1000000},""" +
      s""""sq8_index_mb":${sq8Bytes / 1000000},""" +
      s""""memory_ratio":${math.round(fullBytes.toDouble / sq8Bytes * 100) / 100.0},""" +
      s""""ef_sweep":$sweepJson,""" +
      s""""op_ef":$opEf,""" +
      s""""query_batched_ms":${math.round(opMs * 100) / 100.0},""" +
      s""""recall_at_10":${math.round(opRecall * 1000) / 1000.0}}""")
  }

  /** PQ-coded twin of [[sq8ResidentSoak]] (m=8, kSub=256: 8 code bytes
    * per vector + gap-varint adjacency + shard-local books — the ~10×
    * line, with the recall cost of coarser codes measured against the
    * same exact truth).
    */
  private def pqResidentSoak(
      spark: SparkSession, n: Int, dim: Int, shards: Int, nq: Int,
      efSweep: Seq[Int], corpusKind: String = "gauss",
      mCodes: Int = 8, allowMod: Option[Int] = None): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.VectorFunctions
    // "clustered" = the bqrecall/opqrecall fixture: 1000 planted
    // clusters with 0.3-amplitude within-cluster noise — true neighbors
    // are cluster-mates, the geometry PQ codes can represent
    val vecCol =
      if (corpusKind == "clustered")
        expr(s"transform(sequence(0, ${dim - 1}), j -> " +
          "cast(abs(xxhash64(id % 1000, j)) % 2000 as double) / 1000.0 - 1.0 + " +
          "(cast(abs(xxhash64(id, j)) % 2000 as double) / 1000.0 - 1.0) * 0.3)")
      else gaussEmbedding(dim, 0)
    val corpus = spark.range(0, n, 1, shards)
      .select(col("id").as("vec_id"), vecCol.as("embedding"))
      .persist()
    corpus.count()
    val tr0 = System.nanoTime()
    val full = HnswSpark.buildResident(
      corpus, HnswSpark.Params(dim = dim), shards)
    val buildSec = (System.nanoTime() - tr0) / 1e9
    val fullBytes = full.map(_.memoryBytes).reduce(_ + _)
    val tc0 = System.nanoTime()
    val pq = HnswSpark.compressResidentPq(full, m = mCodes, kSub = 256,
      iters = 4)
    val compressSec = (System.nanoTime() - tc0) / 1e9
    val pqBytes = pq.map(_.memoryBytes).reduce(_ + _)
    full.unpersist(blocking = false)
    val qRows = corpus.where(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val qDf = spark.sparkContext
      .parallelize(qRows.toSeq, math.min(32, nq)).toDF("query_id", "qv")
    val allowFn = allowMod.map(m => (id: Long) => id % m == 0)
    val truthCorpus = allowMod match {
      case Some(m) => corpus.where(col("vec_id") % m === 0)
      case None => corpus
    }
    val exact = truthCorpus.crossJoin(broadcast(qDf))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosine(col("embedding"), col("qv")).as("d"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("d"), col("vec_id"), 10).as("topk"))
      .select(col("query_id"), explode(col("topk.vec_id")).as("vec_id"))
      .collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def probe(df: org.apache.spark.sql.DataFrame, ef: Int, cf: Int) =
      HnswSpark.searchResidentRerank(spark, pq, corpus, df, 10,
        candFactor = cf, ef = Some(ef), allow = allowFn)
    // PQ's binding knob is the RERANK WIDTH, not the beam: with m=8
    // codes the ADC shortlist ordering is coarse, so the sweep crosses
    // ef × candFactor (the first pqresident run read recall ~0.35 FLAT
    // across ef at cf=4 — the beam found the region, the 40-candidate
    // shortlist couldn't surface the true top-10)
    val sweep = (for {
      ef <- efSweep
      cf <- Seq(4, 16, 64)
    } yield {
      probe(qDf, ef, cf).count()
      val tb0 = System.nanoTime()
      val got = probe(qDf, ef, cf).collect()
      val batchedMs = (System.nanoTime() - tb0) / 1e6 / nq
      val approx = got.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recall = approx.map { case (q, ids) => (ids & exact(q)).size / 10.0 }
        .sum / approx.size
      (ef, cf, batchedMs, recall)
    })
    val (opEf, opCf, opMs, opRecall) =
      sweep.find(_._4 >= 0.9).getOrElse(sweep.last)
    pq.unpersist(blocking = false)
    corpus.unpersist(blocking = false)
    val sweepJson = sweep.map { case (ef, cf, ms, r) =>
      s"""{"ef":$ef,"cand_factor":$cf,""" +
        s""""query_batched_ms":${math.round(ms * 100) / 100.0},""" +
        s""""recall_at_10":${math.round(r * 1000) / 1000.0}}"""
    }.mkString("[", ",", "]")
    val pqMode = allowMod.fold("pqresident")(m => s"pqfiltered(1/$m)")
    println(
      s"""{"mode":"$pqMode","corpus":"$corpusKind","n":$n,"dim":$dim,"shards":$shards,"m":$mCodes,""" +
      s""""build_resident_sec":${math.round(buildSec * 100) / 100.0},""" +
      s""""compress_sec":${math.round(compressSec * 100) / 100.0},""" +
      s""""full_index_mb":${fullBytes / 1000000},""" +
      s""""pq_index_mb":${pqBytes / 1000000},""" +
      s""""memory_ratio":${math.round(fullBytes.toDouble / pqBytes * 100) / 100.0},""" +
      s""""sweep":$sweepJson,""" +
      s""""op_ef":$opEf,"op_cand_factor":$opCf,""" +
      s""""query_batched_ms":${math.round(opMs * 100) / 100.0},""" +
      s""""recall_at_10":${math.round(opRecall * 1000) / 1000.0}}""")
  }

  private def residentSoak(
      spark: SparkSession, n: Int, dim: Int, shards: Int, nq: Int,
      efSweep: Seq[Int], allowMod: Option[Int] = None): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.VectorFunctions
    val corpus = spark.range(0, n, 1, shards)
      .select(col("id").as("vec_id"), gaussEmbedding(dim, 0).as("embedding"))

    val tr0 = System.nanoTime()
    val resident = HnswSpark.buildResident(
      corpus, HnswSpark.Params(dim = dim), shards)
    val buildSec = (System.nanoTime() - tr0) / 1e9

    // query sample: the nq lowest ids (only these nq rows reach the driver)
    val qRows = corpus.where(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val qDf = spark.sparkContext
      .parallelize(qRows.toSeq, math.min(32, nq)).toDF("query_id", "qv")

    // recall@10 ground truth, computed ONCE: DISTRIBUTED exact brute-force
    // cosine top-k per sampled query (the bounded topK aggregate keeps the
    // shuffle at k rows per query)
    val truthCorpus = allowMod match {
      case Some(m) => corpus.where(col("vec_id") % m === 0)
      case None => corpus
    }
    val exact = truthCorpus.crossJoin(broadcast(qDf))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosine(col("embedding"), col("qv")).as("d"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("d"), col("vec_id"), 10).as("topk"))
      .select(col("query_id"), explode(col("topk.vec_id")).as("vec_id"))
      .collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    // ef_search sweep over the SAME built shards: batched latency + recall
    // per ef — the recall/latency curve
    def probe(df: org.apache.spark.sql.DataFrame, ef: Int) = allowMod match {
      case Some(m) =>
        HnswSpark.searchResidentFiltered(
          spark, resident, df, 10, allow = (id: Long) => id % m == 0, Some(ef))
      case None => HnswSpark.searchResident(spark, resident, df, 10, Some(ef))
    }
    val sweep = efSweep.map { ef =>
      probe(qDf, ef).count() // warm
      val tb0 = System.nanoTime()
      val got = probe(qDf, ef).collect()
      val batchedMs = (System.nanoTime() - tb0) / 1e6 / nq
      val approx = got.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recall = approx.map { case (q, ids) => (ids & exact(q)).size / 10.0 }
        .sum / approx.size
      (ef, batchedMs, recall)
    }

    // operating point: smallest ef clearing the recall >= 0.9 ANN gate
    // (BASELINE.md); fall back to the widest swept ef if none clears it
    val (opEf, opMs, opRecall) = sweep.find(_._3 >= 0.9).getOrElse(sweep.last)

    // per-point probe latency AT THE OPERATING POINT: each point is a full
    // searchResident round trip on a 1-row frame (broadcast + shard job +
    // bounded merge + collect) — p50/p99 over nPoints probes
    val nPoints = math.min(50, nq)
    val pointMs = qRows.take(nPoints).map { case (qid, qv) =>
      val one = spark.sparkContext
        .parallelize(Seq((qid, qv)), 1).toDF("query_id", "qv")
      val t = System.nanoTime()
      probe(one, opEf).collect()
      (System.nanoTime() - t) / 1e6
    }.sorted
    def pct(p: Double): Double =
      pointMs(math.min(pointMs.length - 1, (p * pointMs.length).toInt))

    resident.unpersist(blocking = false)
    val sweepJson = sweep.map { case (ef, ms, r) =>
      s"""{"ef":$ef,"query_batched_ms":${math.round(ms * 100) / 100.0},""" +
        s""""recall_at_10":${math.round(r * 1000) / 1000.0}}"""
    }.mkString("[", ",", "]")
    val modeName = allowMod.fold("resident")(m => s"filtered(1/$m)")
    println(
      s"""{"mode":"$modeName","n":$n,"dim":$dim,"shards":$shards,""" +
      s""""build_resident_sec":${math.round(buildSec * 100) / 100.0},""" +
      s""""ef_sweep":$sweepJson,""" +
      s""""op_ef":$opEf,""" +
      s""""query_batched_ms":${math.round(opMs * 100) / 100.0},""" +
      s""""point_p50_ms":${math.round(pct(0.50) * 100) / 100.0},""" +
      s""""point_p99_ms":${math.round(pct(0.99) * 100) / 100.0},""" +
      s""""recall_at_10":${math.round(opRecall * 1000) / 1000.0}}""")
  }
}
