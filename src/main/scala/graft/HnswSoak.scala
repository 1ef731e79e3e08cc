package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.index.{HnswSpark, PackedHnsw}

/** HNSW scale soak (suite `hnsw`): build-throughput, serving latency, and
  * recall@10 at 100-400× fixture scale, for BOTH serving shapes. Prints
  * one JSON line.
  * Usage:
  *   graft.Soak hnsw [nVectors] [dim] [nShards] [nQueries] [mode]
  * Synthetic seeded Gaussian vectors (not the sf fixtures — the point
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
object HnswSoak {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 50000
    val dim = if (args.length > 1) args(1).toInt else 64
    val shards = if (args.length > 2) args(2).toInt else 8
    val nq = if (args.length > 3) args(3).toInt else 200
    val mode = if (args.length > 4) args(4) else "all"
    // optional ef_search sweep list (arg 6, comma-sep); sorted so
    // "smallest ef clearing the recall gate" and the widest-ef fallback
    // are order-independent of how the arg was typed
    val efSweep: Seq[Int] =
      (if (args.length > 5) args(5).split(",").map(_.trim.toInt).toSeq
       else Seq(50)).sorted
    def arg(i: Int, default: String) = if (args.length > i) args(i) else default
    mode match {
      case "resident" => residentSoak(spark, n, dim, shards, nq, efSweep)
      // the resident soak with a 1-in-`mod` id predicate — the filtered
      // probe's measured scale point (arg 7 = mod)
      case "filtered" =>
        residentSoak(spark, n, dim, shards, nq, efSweep, Some(arg(6, "10").toInt))
      // the DiskANN composition at scale — build full, compress to
      // one-byte codes, drop the float shards, serve with quantized
      // traversal + bounded exact rerank; reports the memory line (full
      // vs sq8 resident bytes) and the recall/latency sweep
      case "sq8resident" => compressedSoak(spark, n, dim, shards, nq, efSweep, None)
      // the SQ8 path under a 1-in-`mod` id predicate (arg 7 = mod) —
      // recall against exact FILTERED truth
      case "sq8filtered" =>
        compressedSoak(spark, n, dim, shards, nq, efSweep, None, Some(arg(6, "10").toInt))
      // the PQ-coded step past SQ8 — m one-byte codes per vector,
      // table-lookup traversal, exact rerank. Arg 7 picks the corpus:
      // "gauss" (near-equidistant neighbors, the adversarial case for
      // coarse codes) or "clustered" (1000 planted clusters, the corpus
      // PQ codes actually operate on); arg 8 = m (codes/vector): the r15
      // clustered run read recall 0.732 at m=8 even with a 64x rerank —
      // the code budget, not the beam, was the binding constraint
      case "pqresident" =>
        compressedSoak(spark, n, dim, shards, nq, efSweep,
          Some((arg(6, "gauss"), arg(7, "8").toInt)))
      // the PQ path under the same 1-in-`mod` predicate (arg 7 = corpus
      // kind, arg 8 = m, arg 9 = mod)
      case "pqfiltered" =>
        compressedSoak(spark, n, dim, shards, nq, efSweep,
          Some((arg(6, "clustered"), arg(7, "8").toInt)), Some(arg(8, "10").toInt))
      // incremental resident refresh vs full rebuild at the same
      // post-mutation state (arg 7 = mutation count)
      case "refresh" => refreshSoak(spark, n, dim, shards, arg(6, "10000").toInt)
      // SUSTAINED ingest — nBatches sequential refresh generations (arg 7
      // = batches, arg 8 = mutations per batch); the steady-state loop
      // streamingIndexRefresh drives per micro-batch
      case "refreshloop" =>
        refreshLoopSoak(spark, n, dim, shards, arg(6, "20").toInt, arg(7, "2000").toInt)
      case _ => bothShapesSoak(spark, n, dim, shards, nq)
    }
  }

  /** Deterministic distributed Gaussian corpus: element (id, j) is
    * Box-Muller over two hash-derived uniforms — no RNG object, no
    * driver-side array. `salt` shifts the stream so overwrite vectors
    * differ from the originals at the same ids.
    */
  private def gaussEmbedding(dim: Int, salt: Int): Column =
    vector(dim, gaussianElem("id", 2 * salt + 1, 2 * salt + 2))

  private def corpus(spark: SparkSession, lo: Long, hi: Long, shards: Int,
      emb: Column): DataFrame =
    spark.range(lo, hi, 1, shards).select(col("id").as("vec_id"), emb.as("embedding"))

  /** The resident and broadcast shapes over one driver-generated corpus. */
  private def bothShapesSoak(
      spark: SparkSession, n: Int, dim: Int, shards: Int, nq: Int): Unit = {
    import spark.implicits._
    val vecs: Array[(Long, Array[Double])] = {
      val rnd = new java.util.Random(7L)
      Array.tabulate(n)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    }
    val df = spark.sparkContext.parallelize(vecs.toSeq, shards)
      .toDF("vec_id", "embedding")
    val queries = vecs.take(nq)

    // ---- executor-resident shape ----------------------------------------
    val (resident, buildResidentSec) =
      timed(HnswSpark.buildResident(df, HnswSpark.Params(dim = dim), shards))
    val qDf = spark.sparkContext.parallelize(queries.toSeq, math.min(cpus(spark), nq))
      .toDF("query_id", "qv")
    // warm-up materializes plan + broadcast, then one timed batched probe
    HnswSpark.searchResident(spark, resident, qDf, 10).count()
    val (residentRows, qResidentSec) =
      timed(HnswSpark.searchResident(spark, resident, qDf, 10).collect())
    val approx = byQuery(residentRows)
    resident.unpersist(blocking = false)

    // ---- broadcast shape (collect + driver-side probes) -----------------
    val (idx, buildSec) =
      timed(HnswSpark.build(df, HnswSpark.Params(dim = dim), numPartitions = shards))
    // warm-up pass, then timed single-threaded serving loop
    queries.take(20).foreach { case (_, v) => HnswSpark.searchAll(idx.toSeq, v, 10) }
    val (_, qSec) =
      timed(queries.foreach { case (_, v) => HnswSpark.searchAll(idx.toSeq, v, 10) })
    // point-lookup latency with concurrent shard probing
    queries.take(20).foreach { case (_, v) => HnswSpark.searchAllPar(idx, v, 10) }
    val (_, qParSec) =
      timed(queries.foreach { case (_, v) => HnswSpark.searchAllPar(idx, v, 10) })

    // brute-force ground truth — O(nq·n), parallelized across queries
    val metricIdx = idx.head // distance impl carrier (metric/dim only)
    val truth: Map[Long, Set[Long]] =
      java.util.Arrays.stream(queries).parallel().map { case (qid, v) =>
        qid -> vecs.map { case (id, u) => (metricIdx.distance(v, u), id) }
          .sortBy(t => (t._1, t._2)).take(10).map(_._2).toSet
      }.toArray.map(_.asInstanceOf[(Long, Set[Long])]).toMap

    emit("n" -> n, "dim" -> dim, "shards" -> shards,
      "build_resident_sec" -> rounded(buildResidentSec, 2),
      "query_resident_ms" -> rounded(qResidentSec * 1e3 / nq, 2),
      "build_sec" -> rounded(buildSec, 2),
      "query_ms" -> rounded(qSec * 1e3 / nq, 2),
      "query_par_ms" -> rounded(qParSec * 1e3 / nq, 2),
      "recall_at_10" -> rounded(recall(approx, truth), 3))
  }

  /** The nq lowest ids as (query_id, qv): the driver rows and the frame
    * (only these nq rows reach the driver).
    */
  private def querySample(spark: SparkSession, corpus: DataFrame, nq: Int)
      : (Array[(Long, Seq[Double])], DataFrame) = {
    import spark.implicits._
    val qRows = corpus.where(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    (qRows, spark.sparkContext.parallelize(qRows.toSeq, math.min(32, nq))
      .toDF("query_id", "qv"))
  }

  /** recall@10 ground truth, computed ONCE: DISTRIBUTED exact
    * brute-force cosine top-k per sampled query over the ids the
    * predicate allows (the bounded topK aggregate keeps the shuffle at k
    * rows per query).
    */
  private def exactTruth(corpus: DataFrame, qDf: DataFrame, allowMod: Option[Int])
      : Map[Long, Set[Long]] = {
    import graft.functions.VectorFunctions
    val truthCorpus = allowMod.fold(corpus)(m => corpus.where(col("vec_id") % m === 0))
    byQuery(truthCorpus.crossJoin(broadcast(qDf))
      .select(col("query_id"), col("vec_id"),
        VectorFunctions.cosine(col("embedding"), col("qv")).as("d"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("d"), col("vec_id"), 10).as("topk"))
      .select(col("query_id"), explode(col("topk.vec_id")).as("vec_id"))
      .collect())
  }

  /** Warm `probe`, then one timed batched run: (ms per query, recall@10). */
  private def measure(probe: () => DataFrame, nq: Int, truth: Map[Long, Set[Long]])
      : (Double, Double) = {
    probe().count() // warm
    val (got, sec) = timed(probe().collect())
    (sec * 1e3 / nq, recall(byQuery(got), truth))
  }

  /** The 1000× resident-only soak (see object scaladoc). `efSweep` probes
    * the same built shards at each ef_search value and reports a
    * recall/latency curve — the knob that defends the recall ≥ 0.9 gate
    * at the reference's 1M max_elements ceiling (VERDICT r4 item #3): the
    * operating point is the SMALLEST ef meeting recall@10 ≥ 0.9, and the
    * curve shows the measured latency price of clearing the gate.
    *
    * `allowMod = Some(m)`: measure the PREDICATE-FILTERED probe instead —
    * ground truth restricts the brute force to ids with id % m == 0 and
    * the probe runs searchResidentFiltered with the same predicate, so
    * the reported recall is filtered-vs-exact-filtered at 1/m
    * selectivity (the in-traversal beam's self-oversampling measured at
    * scale, not just at sf0.001).
    */
  private def residentSoak(
      spark: SparkSession, n: Int, dim: Int, shards: Int, nq: Int,
      efSweep: Seq[Int], allowMod: Option[Int] = None): Unit = {
    import spark.implicits._
    val base = corpus(spark, 0, n, shards, gaussEmbedding(dim, 0))
    val (resident, buildSec) =
      timed(HnswSpark.buildResident(base, HnswSpark.Params(dim = dim), shards))
    val (qRows, qDf) = querySample(spark, base, nq)
    val truth = exactTruth(base, qDf, allowMod)

    // ef_search sweep over the SAME built shards: batched latency + recall
    // per ef — the recall/latency curve
    def probe(df: DataFrame, ef: Int) = allowMod match {
      case Some(m) =>
        HnswSpark.searchResidentFiltered(
          spark, resident, df, 10, allow = (id: Long) => id % m == 0, Some(ef))
      case None => HnswSpark.searchResident(spark, resident, df, 10, Some(ef))
    }
    val sweep = efSweep.map { ef =>
      val (ms, r) = measure(() => probe(qDf, ef), nq, truth)
      (ef, ms, r)
    }
    // operating point: smallest ef clearing the recall >= 0.9 ANN gate
    // (BASELINE.md); fall back to the widest swept ef if none clears it
    val (opEf, opMs, opRecall) = sweep.find(_._3 >= 0.9).getOrElse(sweep.last)

    // per-point probe latency AT THE OPERATING POINT: each point is a full
    // searchResident round trip on a 1-row frame (broadcast + shard job +
    // bounded merge + collect) — p50/p99 over nPoints probes
    val pointMs = qRows.take(math.min(50, nq)).toSeq.map { case (qid, qv) =>
      val one = spark.sparkContext
        .parallelize(Seq((qid, qv)), 1).toDF("query_id", "qv")
      timed(probe(one, opEf).collect())._2 * 1e3
    }
    resident.unpersist(blocking = false)
    emit("mode" -> allowMod.fold("resident")(m => s"filtered(1/$m)"),
      "n" -> n, "dim" -> dim, "shards" -> shards,
      "build_resident_sec" -> rounded(buildSec, 2),
      "ef_sweep" -> sweep.map { case (ef, ms, r) =>
        json("ef" -> ef, "query_batched_ms" -> rounded(ms, 2),
          "recall_at_10" -> rounded(r, 3)) },
      "op_ef" -> opEf,
      "query_batched_ms" -> rounded(opMs, 2),
      "point_p50_ms" -> rounded(pct(pointMs, 0.50), 2),
      "point_p99_ms" -> rounded(pct(pointMs, 0.99), 2),
      "recall_at_10" -> rounded(opRecall, 3))
  }

  /** Compressed resident serving at scale: the residentSoak shape with
    * the compression step in the middle and the exact rerank on the
    * probe path. The headline lines: full_mb vs the codes' mb (the
    * resident-memory claim, measured via memoryBytes over the live
    * shards) and recall@10 ≥ 0.9 at the operating point against exact
    * full-precision truth.
    *
    * `pq = None`: SQ8 one-byte codes ([[HnswSpark.compressResident]]),
    * 4× rerank candidates. `pq = Some((corpusKind, m))`: m PQ codes per
    * vector, kSub=256 (m code bytes + gap-varint adjacency + shard-local
    * books — the ~10× line, with the recall cost of coarser codes
    * measured against the same truth) over a "gauss" or "clustered"
    * corpus. PQ binds on the RERANK WIDTH, not the beam: with m=8 codes
    * the ADC shortlist ordering is coarse, so its sweep crosses ef ×
    * candFactor (the first pqresident run read recall ~0.35 FLAT across
    * ef at cf=4 — the beam found the region, the 40-candidate shortlist
    * couldn't surface the true top-10).
    */
  private def compressedSoak(
      spark: SparkSession, n: Int, dim: Int, shards: Int, nq: Int,
      efSweep: Seq[Int], pq: Option[(String, Int)], allowMod: Option[Int] = None): Unit = {
    // "clustered" = the bqrecall/opqrecall fixture: 1000 planted
    // clusters with 0.3-amplitude within-cluster noise — true neighbors
    // are cluster-mates, the geometry PQ codes can represent
    val emb =
      if (pq.exists(_._1 == "clustered")) vector(dim, clusteredElem(1000))
      else gaussEmbedding(dim, 0)
    // the rerank joins back to it per probe
    val base = CacheTracker.fill(corpus(spark, 0, n, shards, emb))
    val allowFn = allowMod.map(m => (id: Long) => id % m == 0)
    val (full, buildSec) =
      timed(HnswSpark.buildResident(base, HnswSpark.Params(dim = dim), shards))
    val fullBytes = full.map(_.memoryBytes).reduce(_ + _)
    import scala.language.existentials // the codes' RDD: SQ8 or PQ shards
    val (compressed, compressSec) = timed[RDD[_ <: PackedHnsw]](pq match {
      case None => HnswSpark.compressResident(full)
      case Some((_, m)) => HnswSpark.compressResidentPq(full, m = m, kSub = 256, iters = 4)
    })
    val codeBytes = compressed.map(_.memoryBytes).reduce(_ + _)
    full.unpersist(blocking = false) // serving runs on codes alone

    val (_, qDf) = querySample(spark, base, nq)
    val truth = exactTruth(base, qDf, allowMod)
    val sweep = for {
      ef <- efSweep
      cf <- if (pq.isEmpty) Seq(4) else Seq(4, 16, 64)
    } yield {
      val (ms, r) = measure(() => HnswSpark.searchResidentRerank(spark, compressed,
        base, qDf, 10, candFactor = cf, ef = Some(ef), allow = allowFn), nq, truth)
      (ef, cf, ms, r)
    }
    val (opEf, opCf, opMs, opRecall) = sweep.find(_._4 >= 0.9).getOrElse(sweep.last)
    compressed.unpersist(blocking = false)
    CacheTracker.releaseAll()
    val kind = if (pq.isEmpty) "sq8" else "pq"
    emit(Seq("mode" -> allowMod.fold(s"${kind}resident")(m => s"${kind}filtered(1/$m)")) ++
      pq.map("corpus" -> _._1) ++
      Seq("n" -> n, "dim" -> dim, "shards" -> shards) ++ pq.map("m" -> _._2) ++ Seq(
      "build_resident_sec" -> rounded(buildSec, 2),
      "compress_sec" -> rounded(compressSec, 2),
      "full_index_mb" -> fullBytes / 1000000,
      s"${kind}_index_mb" -> codeBytes / 1000000,
      "memory_ratio" -> rounded(fullBytes.toDouble / codeBytes, 2),
      (if (pq.isEmpty) "ef_sweep" else "sweep") -> sweep.map { case (ef, cf, ms, r) =>
        json(Seq("ef" -> ef) ++ pq.map(_ => "cand_factor" -> cf) ++ Seq(
          "query_batched_ms" -> rounded(ms, 2), "recall_at_10" -> rounded(r, 3)): _*)
      },
      "op_ef" -> opEf) ++ pq.map(_ => "op_cand_factor" -> opCf) ++ Seq(
      "query_batched_ms" -> rounded(opMs, 2),
      "recall_at_10" -> rounded(opRecall, 3)): _*)
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
    val params = HnswSpark.Params(dim = dim)
    val base = corpus(spark, 0, n, shards, gaussEmbedding(dim, 0))
    val (resident, buildSec) = timed(HnswSpark.buildResident(base, params, shards))

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
    val (refreshed, refreshSec) =
      timed(HnswSpark.refreshResident(resident, batch, params))

    // full rebuild over the folded post-mutation state (overwrites keep
    // their ids with the salted vectors; deletes drop; inserts extend)
    val folded = base
      .where(col("vec_id") >= nOver &&
        !(col("vec_id") >= n / 2 && col("vec_id") < n / 2 + nDel))
      .unionByName(corpus(spark, n, n.toLong + nIns, shards, gaussEmbedding(dim, 0)))
      .unionByName(corpus(spark, 0, nOver, shards, gaussEmbedding(dim, 7)))
    val (rebuilt, rebuildSec) = timed(HnswSpark.buildResident(folded, params, shards))

    val refreshedLive = refreshed.map(_.size.toLong).reduce(_ + _)
    val rebuiltLive = rebuilt.map(_.size.toLong).reduce(_ + _)
    Seq(resident, refreshed, rebuilt).foreach(_.unpersist(blocking = false))
    emit("mode" -> "refresh", "n" -> n, "dim" -> dim, "shards" -> shards,
      "n_mutations" -> nMut,
      "build_resident_sec" -> rounded(buildSec, 2),
      "refresh_sec" -> rounded(refreshSec, 2),
      "rebuild_sec" -> rounded(rebuildSec, 2),
      "rebuild_over_refresh" -> rounded(rebuildSec / refreshSec, 1),
      "live_match" -> (refreshedLive == rebuiltLive),
      "live_count" -> refreshedLive)
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
    val params = HnswSpark.Params(dim = dim)
    val (initial, buildSec) = timed(HnswSpark.buildResident(
      corpus(spark, 0, n, shards, gaussEmbedding(dim, 0)), params, shards))
    var current = initial
    val times = (0 until nBatches).map { b =>
      val lo = n.toLong + b.toLong * perBatch
      val batch = spark.range(lo, lo + perBatch, 1, shards).select(
        col("id").as("seq"), lit("insert").as("op"), col("id").as("vec_id"),
        gaussEmbedding(dim, 0).as("vec"))
      val (next, dt) = timed(HnswSpark.refreshResident(current, batch, params))
      if (current ne initial) current.unpersist(blocking = false)
      current = next
      dt
    }
    val live = current.map(_.size.toLong).reduce(_ + _)
    val expect = n.toLong + nBatches.toLong * perBatch
    current.unpersist(blocking = false)
    initial.unpersist(blocking = false)
    emit("mode" -> "refreshloop", "n" -> n, "dim" -> dim, "shards" -> shards,
      "n_batches" -> nBatches, "per_batch" -> perBatch,
      "build_resident_sec" -> rounded(buildSec, 2),
      "refresh_p50_sec" -> rounded(pct(times, 0.5), 2),
      "refresh_p99_sec" -> rounded(pct(times, 0.99), 2),
      "refresh_first_sec" -> rounded(times.head, 2),
      "refresh_last_sec" -> rounded(times.last, 2),
      "live_match" -> (live == expect), "live_count" -> live)
  }
}
