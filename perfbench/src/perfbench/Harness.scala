package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{CacheTracker, SparkEntry, Tables}
import graft.index.{HnswIndex, HnswPersistence, HnswSpark}

/** Drives one benchmark workload against the program's public functions.
  *
  * The inputs (corpus, queries, op stream, key order) are generated by
  * `run.py` from the seed and handed over as files; this side only times
  * calls and records what the program returned. Checking the answers and
  * turning samples into metrics happens in `run.py`, so the program never
  * sees the benchmark's expected outputs.
  *
  * Usage: Harness key=value ...  (workload, in, out, seconds, trace, and
  * the workload's sizes; see run.py)
  */
object Harness {
  private var args: Map[String, String] = Map.empty
  private def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
  private def int(k: String): Int = arg(k).toInt

  private lazy val out = arg("out")
  private val scalars = ArrayBuffer.empty[(String, String)]
  private def put(k: String, v: Double): Unit = scalars += k -> Json.num(v)
  private def putAll(k: String, vs: Iterable[Double]): Unit = scalars += k -> Json.nums(vs)

  def main(argv: Array[String]): Unit = {
    args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    if (arg("workload") == "oracle-sql") {
      // the DuckDB queries the pipeline's stored fingerprints come from
      val sql = arg("keys").split(",").toSeq.map(k => k -> Json.str(SparkEntry.oracleSql(k)))
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(sql))
      return
    }
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // the session settings graft.Bench and graft.Verify use
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    put("session_s", (System.nanoTime() - t0) / 1e9)
    val tracer = new Tracer(spark, arg("trace") == "1")
    try arg("workload") match {
      case "ann-serve" | "ann-ingest" =>
        // the collected shards are referenced from `held` alone once the
        // workload returns, so dropping it frees exactly the index
        val held = new AtomicReference[AnyRef]()
        if (arg("workload") == "ann-serve") annServe(spark, tracer, held)
        else annIngest(spark, tracer, held)
        put("retained_mb", retainedMb(held))
      case "pipeline" => pipeline(spark, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      Files.writeString(Paths.get(s"$out/harness.json"), Json.obj(scalars))
      if (tracer.enabled) {
        tracer.cacheRaces.detach()
        Files.writeString(Paths.get(s"$out/trace_raw.json"), tracer.toJson)
      }
      spark.stop()
    }
  }

  // ---- inputs and outputs -------------------------------------------------

  private def readF64(name: String, dim: Int): Array[Array[Double]] = {
    val db = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"${arg("in")}/$name")))
      .order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
    Array.fill(db.remaining() / dim) { val v = new Array[Double](dim); db.get(v); v }
  }

  private def readI64(name: String): Array[Long] = {
    val lb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"${arg("in")}/$name")))
      .order(ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    val a = new Array[Long](lb.remaining()); lb.get(a); a
  }

  private def writeI64(name: String, a: Array[Long], n: Int): Unit = {
    val bb = ByteBuffer.allocate(8 * n).order(ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(a, 0, n)
    Files.write(Paths.get(s"$out/$name"), bb.array())
  }

  private def writeF64(name: String, a: Array[Double], n: Int): Unit = {
    val bb = ByteBuffer.allocate(8 * n).order(ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(a, 0, n)
    Files.write(Paths.get(s"$out/$name"), bb.array())
  }

  /** Top-k ids into row `row` of a flat id matrix, -1 padded. */
  private def record(ids: Array[Long], row: Int, k: Int, res: Seq[(Long, Double)]): Unit = {
    var j = 0
    res.foreach { case (id, _) => if (j < k) ids(row * k + j) = id; j += 1 }
    while (j < k) { ids(row * k + j) = -1L; j += 1 }
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Used heap after full collections. */
  private def usedHeap(): Long = {
    val rt = Runtime.getRuntime
    var i = 0
    while (i < 3) { System.gc(); i += 1 }
    rt.totalMemory() - rt.freeMemory()
  }

  /** Heap retained by what `holder` references: used heap after full GC
    * with it, minus the same without it.
    */
  private def retainedMb(holder: AtomicReference[AnyRef]): Double = {
    val withIt = usedHeap()
    holder.set(null)
    (withIt - usedHeap()) / 1e6
  }

  // ---- ANN shared pieces --------------------------------------------------

  private def params = HnswSpark.Params(dim = int("dim"), m = int("m"),
    efConstruction = int("ef_construction"), efSearch = int("ef"), metric = "cosine")

  /** The timed set-up, repeated `builds` times: a sharded resident build
    * from the corpus table, then the shards collected to the driver. Every
    * build but the last is released. Returns the last build's resident RDD
    * and its collected shards.
    */
  private def buildIndex(spark: SparkSession, tracer: Tracer)
      : (org.apache.spark.rdd.RDD[HnswIndex], Array[HnswIndex]) = {
    val corpus = spark.read.parquet(s"${arg("in")}/corpus.parquet")
    val times = ArrayBuffer.empty[Double]
    var last: (org.apache.spark.rdd.RDD[HnswIndex], Array[HnswIndex]) = null
    tracer.on()
    for (b <- 0 until int("builds")) {
      if (last != null) last._1.unpersist(blocking = true)
      val t0 = System.nanoTime()
      last = tracer("index.build", "index", s"build-$b", spark = true) {
        val rdd = HnswSpark.buildResident(corpus, params, int("shards"))
        (rdd, rdd.collect())
      }
      times += secs(t0)
    }
    tracer.off()
    putAll("setup_samples_s", times)
    put("shard_sizes_max", last._2.map(_.size).max)
    put("shard_sizes_mean", last._2.map(_.size).sum.toDouble / last._2.length)
    last
  }

  private def indexStats(prefix: String, shards: Array[HnswIndex]): Unit = {
    put(s"${prefix}live", shards.map(_.size.toLong).sum)
    put(s"${prefix}dead", shards.map(_.deadCount.toLong).sum)
    put(s"${prefix}memory_bytes", shards.map(_.memoryBytes).sum)
    put(s"${prefix}size_max", shards.map(_.size).max)
    put(s"${prefix}size_mean", shards.map(_.size).sum.toDouble / shards.length)
  }

  /** Traced-only: each shard's `HnswIndex.search` on the same queries the
    * point loop served, to split a fan-out into its slowest shard and the
    * merge around it.
    */
  private def shardPass(tracer: Tracer, shards: Array[HnswIndex],
      pool: Array[Array[Double]], n: Int, k: Int, ef: Int): Unit = if (tracer.enabled) {
    for (i <- 0 until n) {
      val q = pool(i % pool.length)
      tracer("bench.shard_probe", "bench", s"q$i") {
        tracer("index.searchAllPar", "index", s"q$i") {
          HnswSpark.searchAllPar(shards.toIndexedSeq, q, k, Some(ef))
        }
        shards.indices.foreach { s =>
          tracer(s"index.shard_search.$s", "index", s"q$i") { shards(s).search(q, k, Some(ef)) }
        }
      }
    }
  }

  // ---- ann-serve ----------------------------------------------------------

  private def annServe(spark: SparkSession, tracer: Tracer, held: AtomicReference[AnyRef]): Unit = {
    val k = int("k"); val ef = int("ef")
    val pool = readF64("queries.f64", int("dim"))
    val batch = int("batch")
    val (resident, collected) = buildIndex(spark, tracer)
    held.set(collected)
    val ix = collected.toIndexedSeq

    def queryDf(from: Int) = batchQuery(spark, resident, pool, from, batch, k, ef)

    // the measurement window: rounds of point searches for `point_chunk_s`
    // followed by one batch, so a burst of host noise lands on both shapes
    // alike. When traced, even-numbered requests are recorded, odd ones not.
    def window(seconds: Double, minOps: Int): Unit = {
      val lat = new Array[Double](4000000)
      val firstIds = new Array[Long](pool.length * k)
      var n = 0
      val bt = ArrayBuffer.empty[Double]
      var firstBatch: Array[org.apache.spark.sql.Row] = null
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      val chunk = (arg("point_chunk_s").toDouble * 1e9).toLong
      while (System.nanoTime() < end || n < minOps.max(pool.length) || bt.size < 2) {
        val c0 = System.nanoTime()
        while (System.nanoTime() - c0 < chunk) {
          val q = pool(n % pool.length)
          val s = System.nanoTime()
          val r = tracer("index.searchAllPar", "index", s"q$n", when = n % 2 == 0) {
            HnswSpark.searchAllPar(ix, q, k, Some(ef))
          }
          lat(n) = (System.nanoTime() - s) / 1e6
          if (n < pool.length) record(firstIds, n, k, r)
          n += 1
        }
        val b = bt.size
        val on = b % 2 == 0
        val from = (b * batch) % pool.length
        val s = System.nanoTime()
        val rows = tracer("bench.batch", "bench", s"b$b", when = on) {
          val df = tracer("plans.searchResident", "plans", s"b$b", spark = true, when = on)(queryDf(from))
          tracer("spark.collect", "spark", s"b$b", spark = true, when = on)(df.collect())
        }
        bt += (System.nanoTime() - s) / 1e6
        if (firstBatch == null) firstBatch = rows
      }
      writeF64("point_lat_ms.f64", lat, n)
      writeI64("point_ids.i64", firstIds, firstIds.length)
      putAll("batch_ms", bt)
      val bIds = Array.fill(pool.length.min(batch) * k)(-1L)
      val fill = new Array[Int](pool.length.min(batch))
      firstBatch.sortBy(r => (r.getLong(0), r.getDouble(2), r.getLong(1))).foreach { r =>
        val q = r.getLong(0).toInt
        if (fill(q) < k) { bIds(q * k + fill(q)) = r.getLong(1); fill(q) += 1 }
      }
      writeI64("batch_ids.i64", bIds, bIds.length)
    }

    // untimed warm-up: the same window, so the JIT and Spark reach steady
    // state on both shapes before anything is timed; its outputs are
    // overwritten by the timed window's
    val warm = System.nanoTime()
    window(arg("warmup_s").toDouble, 0)
    put("warmup_s", secs(warm))

    val seconds = arg("seconds").toDouble
    tracer.on()
    window(seconds, int("stat_ops").max(pool.length))
    shardPass(tracer, collected, pool, pool.length, k, ef)
    tracer.off()

    indexStats("index_", collected)
    resident.unpersist(blocking = true)
  }

  /** The batch query DataFrame: queries `from until from + batch` of the
    * pool, probed in place on the resident shards.
    */
  private def batchQuery(spark: SparkSession, resident: org.apache.spark.rdd.RDD[HnswIndex],
      pool: Array[Array[Double]], from: Int, batch: Int, k: Int, ef: Int) = {
    import spark.implicits._
    val rows = (0 until batch.min(pool.length)).map { i =>
      (i.toLong, pool((from + i) % pool.length).toSeq)
    }
    HnswSpark.searchResident(spark, resident, rows.toDF("query_id", "qv"), k, Some(ef))
  }

  // ---- ann-ingest ---------------------------------------------------------

  private val Search = 0L
  private val InsertNew = 1L
  private val Overwrite = 2L
  private val Delete = 3L

  private def annIngest(spark: SparkSession, tracer: Tracer, held: AtomicReference[AnyRef]): Unit = {
    val k = int("k"); val ef = int("ef"); val dim = int("dim")
    val pool = readF64("queries.f64", dim)
    val vecs = readF64("inserts.f64", dim)
    val ops = readI64("ops.i64") // (kind, id, vector row) per op
    val nOps = ops.length / 3
    val (resident, collected) = buildIndex(spark, tracer)
    resident.unpersist(blocking = true)
    held.set(collected)
    val ix = collected
    val ixs = ix.toIndexedSeq

    // untimed JIT warm-up on searches only: the op stream must start from
    // the built state
    val warm = System.nanoTime()
    var w = 0
    while (secs(warm) < arg("warmup_s").toDouble) {
      HnswSpark.searchAllPar(ixs, pool(w % pool.length), k, Some(ef)); w += 1
    }
    put("warmup_s", secs(warm))

    val lat = new Array[Double](nOps)
    val status = new Array[Long](nOps)
    val ids = new Array[Long](nOps * k)
    java.util.Arrays.fill(ids, -1L)
    var n = 0
    // when traced, even-numbered ops are recorded and odd ones are not
    def stream(untilNs: Long, minOps: Int): Unit = {
      while ((System.nanoTime() < untilNs || n < minOps) && n < nOps) {
        val kind = ops(3 * n); val id = ops(3 * n + 1); val row = ops(3 * n + 2).toInt
        val s = System.nanoTime()
        kind match {
          case Search =>
            val r = tracer("index.searchAllPar", "index", s"op$n", when = n % 2 == 0) {
              HnswSpark.searchAllPar(ixs, pool(row), k, Some(ef))
            }
            record(ids, n, k, r)
          case Delete =>
            val (i, d, m) = tracer("index.delete", "index", s"op$n", when = n % 2 == 0) {
              HnswSpark.applyMutations(ix, Nil, Seq(id))
            }
            status(n) = i * 100 + d * 10 + m
          case _ =>
            val name = if (kind == InsertNew) "index.insert_new" else "index.insert_overwrite"
            val (i, d, m) = tracer(name, "index", s"op$n", when = n % 2 == 0) {
              HnswSpark.applyMutations(ix, Seq(id -> vecs(row)), Nil)
            }
            status(n) = i * 100 + d * 10 + m
        }
        lat(n) = (System.nanoTime() - s) / 1e6
        n += 1
      }
    }
    val seconds = arg("seconds").toDouble
    val t0 = System.nanoTime()
    tracer.on()
    stream(t0 + (seconds * 1e9).toLong, int("stat_ops"))
    put("ops_done", n)
    writeF64("op_lat_ms.f64", lat, n)
    writeI64("op_status.i64", status, n)
    writeI64("op_ids.i64", ids, n * k)

    // recall probe on the final state, then the persistence round trip
    val probe = pool.take(int("probe"))
    val before = new Array[Long](probe.length * k)
    probe.indices.foreach(i => record(before, i, k, HnswSpark.searchAll(ix.toSeq, probe(i), k, Some(ef))))
    writeI64("final_ids.i64", before, before.length)
    indexStats("index_", ix)
    if (tracer.enabled) shardPass(tracer, ix, pool, pool.length, k, ef)

    // the persistence round trip, repeated into fresh directories; the
    // checks use the last reload
    val rounds = (0 until int("reloads")).map { r =>
      val path = s"$out/index-$r"
      val s0 = System.nanoTime()
      tracer("index.save", "index", s"save-$r", spark = true)(HnswPersistence.save(spark, ix, path))
      val saveS = secs(s0)
      val l0 = System.nanoTime()
      val loaded = tracer("index.load", "index", s"load-$r", spark = true)(HnswPersistence.load(spark, path))
      (saveS, secs(l0), path, loaded)
    }
    putAll("save_s", rounds.map(_._1)); putAll("load_s", rounds.map(_._2))
    putAll("reload_s", rounds.map(r => r._1 + r._2))
    val (_, _, path, loaded) = rounds.last
    put("stored_bytes", Files.walk(Paths.get(path)).filter(Files.isRegularFile(_))
      .filter(p => p.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum().toDouble)
    val loadedIds = loaded.flatMap(_.exportNodes.map(_._1)).sorted
    writeI64("loaded_ids.i64", loadedIds, loadedIds.length)
    val after = new Array[Long](probe.length * k)
    probe.indices.foreach(i => record(after, i, k, HnswSpark.searchAll(loaded.toSeq, probe(i), k, Some(ef))))
    writeI64("reload_ids.i64", after, after.length)
    tracer.off()
  }

  // ---- pipeline -----------------------------------------------------------

  private def pipeline(spark: SparkSession, tracer: Tracer): Unit = {
    val dir = arg("fixture")
    val firstOrder = arg("keys").split(",").toSeq
    val order = arg("order").split(",").toSeq

    // set-up: warm every fixture table, then one untimed pass that fills
    // the JIT, codegen and SparkEntry's memos; its outputs are what the
    // oracle fingerprints check
    val t0 = System.nanoTime()
    val loaders = Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame](
      "embeddings" -> Tables.embeddings, "documents" -> Tables.documents)
    arg("tables").split(",").foreach(t => loaders(t)(spark, dir).foreach(_ => ()))
    val failed = ArrayBuffer.empty[String]
    val coldKeys = ArrayBuffer.empty[String]
    firstOrder.foreach { key =>
      val k0 = System.nanoTime()
      try SparkEntry.queries(key)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/first/$key")
      catch { case e: Throwable =>
        failed += key
        System.err.println(s"[perfbench] $key failed: $e")
      }
      CacheTracker.releaseAll()
      coldKeys += Json.arr(Seq(Json.str(key), Json.num(secs(k0))))
    }
    putAll("setup_samples_s", Seq(secs(t0)))
    scalars += "setup_keys" -> Json.arr(coldKeys)
    scalars += "setup_failed" -> Json.arr(failed.map(Json.str))

    def storageBytes(): Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val storageBase = storageBytes()

    // timed passes: prepare (the SparkEntry call), the count() action, and
    // the cache release, per key in the seed's order
    val passes = ArrayBuffer.empty[String]
    def pass(label: String, traced: Int => Boolean): Unit = {
      val rows = order.zipWithIndex.map { case (key, i) =>
        var prepare = 0.0; var exec = 0.0; var release = 0.0; var ok = true
        if (traced(i)) tracer.on()
        tracer("bench.key", "bench", key) {
          val a = System.nanoTime()
          try {
            val df = tracer("entry.prepare", "entry", key, spark = true)(SparkEntry.queries(key)(spark, dir))
            val b = System.nanoTime(); prepare = (b - a) / 1e9
            tracer("spark.count", "spark", key, spark = true)(df.count())
            exec = secs(b)
          } catch { case e: Throwable =>
            ok = false
            System.err.println(s"[perfbench] $key failed: $e")
          }
          val c = System.nanoTime()
          tracer("entry.release", "entry", key)(CacheTracker.releaseAll())
          release = secs(c)
        }
        tracer.off()
        val residue = if (tracer.enabled) storageBytes() - storageBase else 0L
        Json.arr(Seq(Json.str(key), Json.num(prepare), Json.num(exec), Json.num(release),
          ok.toString, residue.toString, (tracer.enabled && traced(i)).toString))
      }
      passes += Json.obj(Seq("label" -> Json.str(label), "keys" -> Json.arr(rows)))
    }
    val seconds = arg("seconds").toDouble
    val start = System.nanoTime()
    if (tracer.enabled) {
      // every key once recorded and once not, half of them in each pass
      pass("trace-a", _ % 2 == 0)
      pass("trace-b", _ % 2 == 1)
    } else {
      do pass("timed", _ => false) while (secs(start) < seconds || passes.size < int("min_passes"))
    }
    scalars += "passes" -> Json.arr(passes)
  }
}
