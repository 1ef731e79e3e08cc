package graft

/** In-window A/B harness: cross-window bench totals on this VM are noise
  * (seconds-long host bursts), so variant comparisons run INTERLEAVED in
  * ONE JVM — seven reps per side, A/B order alternating per rep to kill
  * warm-cache bias, median of the seven — and the decision is the
  * in-window delta only (median-of-3 proved too noisy: it flipped the
  * sign of a ~20% effect run to run).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... java ... graft.AbBench <mode> [args]
  * Each mode prints JSON lines; with no mode it prints the mode list.
  */
object AbBench {
  private val modes = Seq("jobs", "assign", "winnowstages", "topkbuild",
    "lshcensus", "simhashstages", "bloom")

  def main(args: Array[String]): Unit = {
    if (!args.exists(modes.contains)) {
      println(s"usage: graft.AbBench <${modes.mkString("|")}> [args]")
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local(cpus)

    if (args.contains("jobs")) {
      // per-query driver-round-trip census: run each named query once
      // (after one suite-level warmup) and report how many Spark jobs,
      // stages and tasks ONE invocation schedules, plus summed task
      // time — the instrument that separates "the key computes a lot"
      // from "the key pays fixed per-job overhead N times" (guide §1:
      // decide whether time goes to compute or scheduling before
      // optimizing either). Usage: AbBench jobs k1,k2,...
      val names = args(args.indexOf("jobs") + 1).split(",").filter(_.nonEmpty)
      try SparkEntry.queries("knn_cosine")(spark, sfDir).count()
      catch { case _: Throwable => () }
      CacheTracker.releaseAll()
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val taskMs = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size) }
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            tasks.incrementAndGet()
            if (t.taskMetrics != null)
              taskMs.addAndGet(t.taskMetrics.executorRunTime) }
        })
      names.foreach { n =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        CacheTracker.releaseAll()
        Thread.sleep(200) // let queued listener events drain
        println(f"""{"q":"$n","sec":$dt%.3f,"jobs":${jobs.get},""" +
          f""""stages":${stages.get},"tasks":${tasks.get},""" +
          f""""task_sec":${taskMs.get / 1e3}%.3f}""")
      }
      spark.stop()
      return
    }
    if (args.contains("assign")) {
      // r8 A/B: nearest-centroid assignment as a ranking window (shuffles
      // nCentroids rows per vector) vs the graft_topk(k=1) argmin
      // aggregate (one row per vector) — 500k × 64-dim corpus, 256 cells,
      // the realistic cell count the r7 verdict asked for.
      import org.apache.spark.sql.functions._
      val n = 500000; val dim = 64; val nCents = 256
      val u = (salt: Int) =>
        s"((abs(xxhash64(vec_id, j, $salt)) % 1000000000) + 0.5) / 1000000000.0"
      val gauss = (s1: Int, s2: Int) =>
        s"sqrt(-2.0 * ln(${u(s1)})) * cos(6.283185307179586 * ${u(s2)})"
      val emb = spark.range(0, n, 1, cpus)
        .select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), j -> ${gauss(1, 2)})")
            .as("embedding"))
        .persist()
      emb.foreach(_ => ()) // materialize: time assignment, not generation
      val rnd = new scala.util.Random(42)
      val model = operators.IvfTrained.Model(
        Array.tabulate(nCents)(i => (i, Array.fill(dim)(rnd.nextGaussian()))),
        spherical = false)
      val spark2 = spark
      import spark2.implicits._
      val cents = model.centroids.toSeq.toDF("cent_id", "cv")
      def windowAssign(): Long = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("cd"), col("cent_id"))
        emb.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("embedding"), col("cent_id"),
            functions.VectorFunctions
              .euclidean(col("embedding"), col("cv")).as("cd"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("cent_id"), col("cd"))
          .count()
      }
      def argminAssign(): Long =
        operators.IvfTrained.assignWithDist(emb, model).count()
      val samples = scala.collection.mutable.Map
        .empty[String, Vector[Double]].withDefaultValue(Vector.empty)
      for {
        rep <- 0 until 7
        variant <- (if (rep % 2 == 0) Seq("window", "argmin")
                    else Seq("argmin", "window"))
      } {
        val t0 = System.nanoTime()
        val c = if (variant == "window") windowAssign() else argminAssign()
        val dt = (System.nanoTime() - t0) / 1e9
        require(c == n, s"$variant produced $c rows, expected $n")
        samples(variant) = samples(variant) :+ dt
      }
      for ((variant, v) <- samples.toSeq.sortBy(_._1)) {
        val med = v.sorted.apply(v.length / 2)
        println(f"""{"experiment":"assignArgmin","variant":"$variant","n":$n,"dim":$dim,"cells":$nCents,"median_sec":$med%.3f,"reps":[${v.map(x => f"$x%.3f").mkString(",")}]}""")
      }
      spark.stop()
      return
    }

    if (args.contains("winnowstages")) {
      // r19 probe: where do winnow_pairs' ~89 task-CPU-s go — the
      // fingerprint pass, the prefix-join candidate generation, or the
      // exact-intersection verify tail? Each stage runs 3×, reporting
      // the median wall AND the summed task CPU of the median rep.
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, sfDir)
      val taskMs = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              taskMs.addAndGet(t.taskMetrics.executorRunTime)
        })
      def med(label: String)(f: => Unit): Unit = {
        val v = (0 until 3).map { _ =>
          taskMs.set(0)
          val t0 = System.nanoTime(); f
          val dt = (System.nanoTime() - t0) / 1e9
          CacheTracker.releaseAll()
          Thread.sleep(200)
          (dt, taskMs.get / 1e3)
        }
        val m = v.sortBy(_._1).apply(1)
        println(f"""{"stage":"$label","median_sec":${m._1}%.3f,"task_sec":${m._2}%.3f,"reps":[${v.map(x => f"${x._1}%.3f").mkString(",")}]}""")
      }
      val sets0 = operators.TextAnalysis.winnowFingerprints(docs, 12, 6)
        .select(col("doc_id"), col("fps").as("ss"))
      med("fps_noop") { sets0.write.format("noop").mode("overwrite").save() }
      med("cand") {
        val cached = CacheTracker.register(sets0.persist())
        operators.Dedup.setCandidatePairs(cached,
          sa => greatest(sa - lit(29), lit(1)), (_, _) => lit(30), q = 8)
          .count()
      }
      med("full") { SparkEntry.queries("winnow_pairs")(spark, sfDir).count() }
      // volume census: postings, df>=2 postings, prefix rows, join output
      val sh = sets0.select(col("doc_id"), size(col("ss")).as("n_shingles"),
        explode(col("ss")).as("shingle"))
      val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      val byRarity = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("__df"), col("shingle"))
      val prefix = sh.join(dfreq, Seq("shingle"))
        .withColumn("__pos", row_number().over(byRarity))
        .where(col("__pos") <= greatest(col("n_shingles") - lit(29), lit(1)) + lit(7))
      val prefixHot = prefix.where(col("__df") >= 2)
      val a = prefix.select(col("doc_id").as("doc_a"), col("n_shingles").as("sa"),
        col("shingle"), col("__pos").as("pa"))
      val bb = prefix.select(col("doc_id").as("doc_b"), col("n_shingles").as("sb"),
        col("shingle"), col("__pos").as("pb"))
      val joined = a.join(bb.hint("shuffle_hash"), Seq("shingle"))
        .where(col("doc_a") < col("doc_b"))
      println(s"""{"postings":${sh.count()},"prefix":${prefix.count()},"prefix_df2":${prefixHot.count()},"join_out":${joined.count()},"pairs":${joined.select(col("doc_a"), col("doc_b")).distinct().count()}}""")
      // does the min-position (pa0/pb0) group filter prune anything the
      // accumulated + q-extension filters don't? If not, its two agg
      // buffers are dead weight in the hot aggregate
      val g = joined
        .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
        .agg(count(lit(1)).as("cnt"),
          min(col("pa")).as("pa0"), min(col("pb")).as("pb0"),
          max(col("pa")).as("pa1"), max(col("pb")).as("pb1"))
        .where(col("cnt") >= 8)
      val acc = g.where(
        col("cnt") + least(col("sa") - col("pa1"), col("sb") - col("pb1")) >= 30)
      val accMin = acc.where(
        lit(1) + least(col("sa") - col("pa0"), col("sb") - col("pb0")) >= 30)
      println(s"""{"cand_cnt8_acc":${acc.count()},"cand_cnt8_acc_minpos":${accMin.count()}}""")
      // per-stage CPU attribution for ONE steady-state full run
      CacheTracker.releaseAll()
      SparkEntry.queries("winnow_pairs")(spark, sfDir).count() // warm
      CacheTracker.releaseAll()
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = s.stageInfo
            val cpu = si.taskMetrics.executorRunTime / 1e3
            if (cpu > 0.2)
              stages.add(f"""{"stage":${si.stageId},"tasks":${si.numTasks},"run_sec":$cpu%.2f,"name":"${si.name.take(60)}"}""")
          }
        })
      SparkEntry.queries("winnow_pairs")(spark, sfDir).count()
      Thread.sleep(300)
      stages.forEach(println(_))
      spark.stop()
      return
    }

    if (args.contains("topkbuild")) {
      // r19 probe (verdict item 6): the TopKByDistance heap rewrite was
      // wall-neutral at fixture scale; measure its TASK-CPU effect on a
      // build-sized candidate stream (~45M heap inserts). Run once per
      // TopK implementation (old boxed PriorityQueue vs primitive heap
      // via file swap) and compare reps 2-3.
      import org.apache.spark.sql.functions._
      val n = 50000; val dim = 16
      val nCents = 224; val nProbe = 4; val k = 8
      val u = (salt: Int) =>
        s"((abs(xxhash64(vec_id, j, $salt)) % 1000000000) + 0.5) / 1000000000.0"
      val gauss = (s1: Int, s2: Int) =>
        s"sqrt(-2.0 * ln(${u(s1)})) * cos(6.283185307179586 * ${u(s2)})"
      val emb = spark.range(0, n, 1, cpus)
        .select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), j -> ${gauss(1, 2)})")
            .as("embedding"))
        .persist()
      emb.foreach(_ => ())
      val taskMs = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              taskMs.addAndGet(t.taskMetrics.executorRunTime)
        })
      for (rep <- 0 until 3) {
        taskMs.set(0)
        val t0 = System.nanoTime()
        val st = operators.Ivf.knnGraphBuild(emb, k, nCents, nProbe)
        val nEdges = st.edges.count()
        val dt = (System.nanoTime() - t0) / 1e9
        st.ranked.unpersist(false)
        CacheTracker.releaseAll()
        Thread.sleep(200)
        println(f"""{"experiment":"topkbuild","rep":$rep,"edges":$nEdges,"sec":$dt%.3f,"task_sec":${taskMs.get / 1e3}%.3f}""")
      }
      spark.stop()
      return
    }

    if (args.contains("lshcensus")) {
      // r19: candidate-row volumes before/after representative
      // expansion — the flat self-join's row count (quadratic in
      // identical-signature groups) vs the rep-join + expansion rows
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, sfDir)
      val sigs = operators.Dedup.simhashChunksPortable(docs).persist()
      sigs.count()
      val flatBanded = sigs.select(col("doc_id"),
        posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
          .as(Seq("chunk_idx", "chunk_val")))
      val flatJoin = flatBanded.as("x")
        .join(flatBanded.as("y"), Seq("chunk_idx", "chunk_val"))
        .where(col("x.doc_id") < col("y.doc_id"))
      val groups = sigs.groupBy(col("c0"), col("c1"), col("c2"), col("c3"))
        .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("gn"))
        .persist()
      groups.count()
      val repBanded = groups.select(col("gid"),
        posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
          .as(Seq("chunk_idx", "chunk_val")))
      val repJoin = repBanded.as("x")
        .join(repBanded.as("y"), Seq("chunk_idx", "chunk_val"))
        .where(col("x.gid") < col("y.gid"))
      val expansion = operators.Dedup.simhashPairsPortable(docs, 3).count()
      println(s"""{"experiment":"lshcensus","docs":${sigs.count()},"distinct_sigs":${groups.count()},"flat_join_rows":${flatJoin.count()},"rep_join_rows":${repJoin.count()},"output_pairs":$expansion}""")
      spark.stop()
      return
    }

    if (args.contains("simhashstages")) {
      // r14 probe: where do simhash_pairs_portable's ~5 s go — the
      // 64-sum signature pass or the pigeonhole join + verify tail?
      val docs = Tables.documents(spark, sfDir)
      def med(f: => Long): Double = {
        val v = (0 until 3).map { _ =>
          val t0 = System.nanoTime(); f
          val dt = (System.nanoTime() - t0) / 1e9
          CacheTracker.releaseAll(); dt
        }
        v.sorted.apply(1)
      }
      val chunksSec = med(operators.Dedup.simhashChunksPortable(docs).count())
      val pairsSec = med(operators.Dedup.simhashPairsPortable(docs, 3).count())
      println(f"""{"experiment":"simhashstages","chunks_median_sec":$chunksSec%.3f,"pairs_median_sec":$pairsSec%.3f}""")
      spark.stop()
      return
    }

    if (args.contains("bloom")) {
      // r10 A/B: plain incremental dedup vs the Bloom-prefiltered form.
      // Realistic continuous-ingest shape: a LARGE new batch (4M docs,
      // 1% true dups) against a modest history (200k fingerprints) —
      // the measured effect is the batch-side exchange shrinking from
      // |batch| to |dups| + fpp·|batch| rows; the Bloom build aggregate
      // runs inside every timed rep (honest: the build is part of the
      // operator's cost).
      import org.apache.spark.sql.functions._
      // sizes as trailing args: bloom [nBatch] [nHist]. The interesting
      // regime is a history too big to broadcast — with a broadcastable
      // history the plain anti-join is already map-side and the Bloom
      // pass can only add cost (measured below; README).
      val rest = args.dropWhile(_ != "bloom").drop(1)
      val nBatch = rest.headOption.map(_.toLong).getOrElse(4000000L)
      val nHist = rest.drop(1).headOption.map(_.toLong).getOrElse(2000000L)
      val batch = spark.range(0, nBatch, 1, cpus)
        .select(col("id").as("doc_id"),
          when(col("id") % 100 === 0,
            concat(lit("dup "), (col("id") % 2000).cast("string")))
            .otherwise(concat(lit("doc "), col("id").cast("string")))
            .as("text"))
        .persist()
      batch.foreach(_ => ())
      val hist = spark.range(0, nHist, 1, cpus)
        .select(operators.TextAnalysis.fingerprint(
          concat(lit("dup "), col("id").cast("string"))).as("fingerprint"))
        .persist()
      hist.foreach(_ => ())
      if (args.contains("steps")) {
        // decompose: where does the bloom path spend its time?
        import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64, BloomFilterMightContain}
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        import org.apache.spark.sql.graftbridge.Bridge
        import org.apache.spark.sql.types.BinaryType
        val numBits = math.min(
          math.ceil(-nHist * math.log(0.01) / (math.log(2) * math.log(2))).toLong,
          67108864L)
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          println(f"""{"step":"$label","sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
          r
        }
        for (_ <- 0 until 2) {
          val bf = time("build") {
            hist.select(Bridge.column(new BloomFilterAggregate(
              new XxHash64(Seq(Bridge.expression(col("fingerprint")))),
              Literal(nHist), Literal(numBits)).toAggregateExpression()).as("bf"))
              .head().getAs[Array[Byte]](0)
          }
          println(s"""{"bloom_bytes":${bf.length}}""")
          val fresh = batch.select(col("doc_id"),
            operators.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
          val mc = Bridge.column(new BloomFilterMightContain(
            Literal(bf, BinaryType),
            new XxHash64(Seq(Bridge.expression(col("fingerprint"))))))
          time("probe_maybes")(fresh.where(mc).count())
          time("probe_definites")(fresh.where(!mc).count())
          time("maybes_antijoin")(
            fresh.where(mc).join(hist, Seq("fingerprint"), "left_anti").count())
          time("plain_antijoin")(
            fresh.join(hist, Seq("fingerprint"), "left_anti").count())
        }
        spark.stop()
        return
      }
      // all dup-key contents exist in history → every id%100==0 row drops;
      // first rep pins the row count, later reps must reproduce it exactly
      def plain(): Long = operators.Dedup.incremental(batch, hist).count()
      def bloom(): Long =
        operators.Dedup.incrementalBloom(batch, hist, nHist, 0.01).count()
      val samples = scala.collection.mutable.Map
        .empty[String, Vector[Double]].withDefaultValue(Vector.empty)
      var want = -1L
      for {
        rep <- 0 until 7
        variant <- (if (rep % 2 == 0) Seq("plain", "bloom")
                    else Seq("bloom", "plain"))
      } {
        val t0 = System.nanoTime()
        val c = if (variant == "plain") plain() else bloom()
        val dt = (System.nanoTime() - t0) / 1e9
        if (want < 0) want = c
        require(c == want, s"$variant produced $c rows, expected $want")
        samples(variant) = samples(variant) :+ dt
      }
      for ((variant, v) <- samples.toSeq.sortBy(_._1)) {
        val med = v.sorted.apply(v.length / 2)
        println(f"""{"experiment":"bloomIncremental","variant":"$variant","n_batch":$nBatch,"n_hist":$nHist,"rows":$want,"median_sec":$med%.3f,"reps":[${v.map(x => f"$x%.3f").mkString(",")}]}""")
      }
      spark.stop()
    }
  }
}
