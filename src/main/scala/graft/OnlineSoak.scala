package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.operators.{Ivf, ProductQuantization}
import graft.sources.StateTable

/** The COMPOSED online-ingest soak (suite `online`) — every streaming curation face the
  * engine ships, chained in ONE foreachBatch loop the way a live
  * training-data service would run them:
  *
  *   mutation stream → visibility fold → incremental exact dedup (with
  *   delete-aware keeper re-resolution) → quality gate → DSIR quality
  *   score under a fixed model → mixture keep-draw → residual-PQ encode
  *   (fixed codebooks) → incremental kNN-graph refresh
  *
  * GENERATION STATE LIVES IN STORAGE, NOT EXECUTOR MEMORY (the r15
  * change; through r14 each generation localCheckpointed one corpus
  * frame per state artifact). Six [[StateTable]]s — visible corpus and
  * curated corpus bucketed by fingerprint, a doc_id→fp secondary index
  * bucketed by doc_id, the PQ code table bucketed by vec_id, and the
  * kNN-graph ranked/edges frames bucketed by src_id — are read back
  * per generation through the SAME affected-fingerprint semi-joins the
  * in-memory loop used (partition-pruned to the buckets the delta
  * touches), and rewritten via stage-then-commit partition replace.
  * Executor memory holds only the mutation-sized delta frames; cached
  * storage between generations is ZERO (the soak measures it). Within
  * a generation the in-memory graph refresh still persists its working
  * set (the base ranked/edges scans) — a spillable cache, not state.
  *
  * The parts are individually parity-gated (StreamingSpec, the
  * knn_graph_refreshed oracle); the COMPOSITION is where state leaks
  * and plan nesting historically hid, so the soak measures, per
  * generation: wall latency, cached-storage bytes, live RDD count,
  * this JVM's on-disk shuffle/cache block files, buckets rewritten and
  * bytes staged per state table — and at the end replays the ENTIRE
  * mutation log through the equivalent BATCH pipeline and asserts set
  * identity of the visible corpus, the curated corpus, the code table,
  * and the graph edges.
  *
  * Dedup rule (shared verbatim by both paths): a document is curated
  * iff it is the minimum-doc_id LIVE document for its text fingerprint
  * AND it passes the row gates (≥20 distinct tokens, DSIR logw ≥ −5
  * under the fixed model, per-source md5 mixture draw). A deleted
  * keeper's shadowed duplicate is re-promoted — keeper re-resolution
  * touches only the fingerprints the batch touched.
  *
  * At soak scale (500k docs, 64 buckets, ~9k affected fingerprints per
  * generation) every bucket is touched every generation, so per-gen
  * rewrite IO is corpus-sized — the bucket count is the knob a real
  * deployment turns (at 100 TB, ~1M buckets keep buckets-touched ≈
  * affected-fingerprint count, making rewrite IO mutation-
  * proportional). Run with a small perGen and more buckets to SEE the
  * pruning: `graft.Soak online 500000 5 200 1024` rewrites only the
  * buckets the ~400 affected fingerprints land in.
  *
  * Reference anchor: the Raft apply loop's durable state
  * (`distributed/node.py:298-309`) is the capability being scaled —
  * every applied mutation lands in persistent storage; memory holds
  * the in-flight operation only.
  *
  * Usage: graft.Soak online [n] [gens] [perGen] [stateBuckets]
  *        [tables] [occ]   (500000, 25, 5000, 64)
  */
object OnlineSoak {

  private val Dim = 64
  private val DsirBuckets = 64
  /** Fixed DSIR model: lr(b) = ((37b + 11) % 21 − 10) / 10 ∈ [−1, 1],
    * mean ≈ 0 over the bucket cycle; the in-doc n-gram sequences are
    * arithmetic mod the vocab, so per-doc logw is left-skewed — the
    * −5 gate keeps a bit over half rather than the iid-normal 50%.
    */
  private val LrModel: Map[Long, Double] =
    (0L until DsirBuckets).map(b => b -> (((b * 37 + 11) % 21 - 10) / 10.0)).toMap
  private val MixRates = Map(
    "src0" -> 1.0, "src1" -> 0.8, "src2" -> 0.5, "src3" -> 0.25)

  /** Closed-form text for (doc_id, ver): 60 tokens over a 5k vocabulary;
    * ids ≡ 0 (mod 17) are junk (one token repeated — the quality-gate
    * population, 7 fingerprint groups); at ver 0, ids ≡ 1 (mod 100)
    * duplicate their predecessor's text (the planted exact-dup pairs).
    * A change (ver > 0) rewrites content — re-texting a dup member
    * legitimately breaks its duplication.
    */
  private def textCol(docId: Column, ver: Column): Column = {
    val contentKey =
      when(docId % 100 === 1 && ver === 0, docId - 1).otherwise(docId)
    when(docId % 17 === 0,
      concat_ws(" ", array_repeat(
        concat(lit("junk"), docId % 7), 60)))
      .otherwise(concat_ws(" ",
        // a unique leading token pins the fingerprint to (contentKey,
        // ver): without it, ids congruent mod the vocab share the whole
        // token sequence and dedup collapses the corpus 100×
        concat(lit("d"), contentKey, lit("v"), ver),
        concat_ws(" ", transform(
          sequence(lit(0), lit(59)),
          j => concat(lit("t"),
            pmod(contentKey * 31 + ver * 7919 + j * 13, lit(5000)))))))
  }

  private def vecCol(docId: Column, ver: Column): Column =
    transform(sequence(lit(0), lit(Dim - 1)),
      i => (pmod(xxhash64(docId, ver, i), lit(2001)) - 1000)
        .cast("double") / 1000.0)

  /** Materialize (doc_id, ver) rows into full visible-corpus rows. */
  private def enrich(rows: DataFrame): DataFrame =
    rows.select(
      col("doc_id"), col("ver"),
      concat(lit("src"), col("doc_id") % 4).as("source"),
      textCol(col("doc_id"), col("ver")).as("text"),
      vecCol(col("doc_id"), col("ver")).as("embedding"))
      .withColumn("fp", md5(col("text")))

  /** The row gates, identical in both paths: ≥20 distinct tokens, DSIR
    * logw ≥ −5 under the fixed model (the streamingDsirScore math), and
    * the per-source md5 mixture draw.
    */
  private def gateRows(rows: DataFrame): DataFrame = {
    val q = rows.where(
      size(array_distinct(split(col("text"), " "))) >= 20)
    val scored = graft.streaming.StreamingOps.streamingDsirScore(
      q.select(col("doc_id"), col("text")), LrModel, DsirBuckets)
      .where(col("logw") >= -5.0).select(col("doc_id"))
    val draw = conv(substring(
      md5(concat(lit("mix:"), col("doc_id"))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val rate = element_at(typedlit(MixRates), col("source"))
    q.join(scored, Seq("doc_id")).where(draw < rate)
  }

  /** Keeper resolution over a visible frame: min doc_id per fp. */
  private def keepers(visible: DataFrame): DataFrame =
    visible.join(
      visible.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
      Seq("fp", "doc_id"))

  /** The whole batch pipeline: visible → keepers → gates. */
  private def curate(visible: DataFrame): DataFrame = gateRows(keepers(visible))

  final case class LoopSummary(
      n: Long, gens: Int, perGen: Int, stateBuckets: Int,
      buildSec: Double, genSec: Seq[Double], storageBytes: Seq[Long],
      liveRdds: Seq[Int], diskFiles: Seq[Long],
      bucketsRewritten: Seq[Int], stagedMb: Seq[Long],
      stateDiskMb: Seq[Long], curatedCount: Long, paritySec: Double,
      taskRetries: Long, composedParity: Boolean,
      vacuumFiles: Seq[Long] = Seq.empty, vacuumBytes: Seq[Long] = Seq.empty,
      occAttempts: Int = 0, occLanded: Int = 0, occAborted: Int = 0)

  /** Run the storage-backed composed loop; `stateDir` receives the six
    * state tables. Asserts composed parity before returning.
    *
    * Every second generation the loop runs the janitorial [[StateTable
    * .vacuum]] sweep over every state table (grace 0 — between
    * generations no stage is in flight), the maintenance job a real
    * deployment schedules; reclaimed files/bytes land in the summary.
    * `injectAbortAtGen` (soak-only fault injection, off by default)
    * stages an uncommitted segment after that generation — the aborted
    * writer whose orphan the next vacuum must reclaim with zero read
    * breakage (parity still asserted at the end).
    *
    * `occWriter` (r18) runs a SECOND writer against the live loop: a
    * maintenance compactor that, each generation ≥ 2, stages a
    * one-file rewrite of one rotating curated bucket BEFORE the
    * generation's mutations and commits AFTER them with its declared
    * base generation — the OCC pattern a real deployment's
    * housekeeping (compaction, clustering, stats) runs against a hot
    * table. A generation that leaves the bucket untouched REBASES and
    * lands; one that rewrote it gets the CommitConflictException abort
    * (the orphan swept by the in-loop vacuum). Content is identical
    * either way, so the end-of-run parity replay gates BOTH outcomes.
    *
    * The loop runs under one [[SoakKit.census]] scope: its failed tasks
    * are the summary's `taskRetries`, and no listener outlives the call.
    */
  def runLoop(
      spark: SparkSession,
      n: Long,
      gens: Int,
      perGen: Int,
      stateBuckets: Int,
      stateDir: String,
      graphTables: Boolean = false,
      injectAbortAtGen: Int = -1,
      occWriter: Boolean = false): LoopSummary = {
    val (s, c) = census(spark)(loop(spark, n, gens, perGen, stateBuckets,
      stateDir, graphTables, injectAbortAtGen, occWriter))
    s.copy(taskRetries = c.failedTasks.get)
  }

  private def loop(spark: SparkSession, n: Long, gens: Int, perGen: Int,
      stateBuckets: Int, stateDir: String, graphTables: Boolean,
      injectAbortAtGen: Int, occWriter: Boolean): LoopSummary = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val sb = stateBuckets
    val nPart = spark.sparkContext.defaultParallelism
    val (k, nProbe) = (8, 4)
    // the mutation mix scales with perGen: 60% brand-new adds, 20%
    // deletes of existing ids, 20% re-adds (content changes)
    val addCut = perGen * 3 / 5
    val delCut = perGen * 4 / 5

    val visibleT = new StateTable(spark, s"$stateDir/visible")
    val curatedT = new StateTable(spark, s"$stateDir/curated")
    val docmapT = new StateTable(spark, s"$stateDir/docmap")
    val codesT = new StateTable(spark, s"$stateDir/codes")
    val rankedT = new StateTable(spark, s"$stateDir/ranked")
    val edgesT = new StateTable(spark, s"$stateDir/edges")
    // graphTables=true routes the graph artifact through the r16
    // delta-driven KnnGraphTables (its own 7 sub-tables under /graph)
    // instead of the in-memory frame refresh + changed-bucket rewrite
    def stateDiskBytes(): Long =
      Seq(visibleT, curatedT, docmapT, codesT).map(_.diskBytes()).sum +
        (if (graphTables)
          Seq("meta", "cents", "ranked", "edges", "kth", "cellidx",
            "probeidx", "nbridx").map(t =>
            new StateTable(spark, s"$stateDir/graph/$t").diskBytes()).sum
        else rankedT.diskBytes() + edgesT.diskBytes())
    val B = StateTable.BucketCol
    def fpB(c: Column) = StateTable.fpBucket(c, sb)
    def idB(c: Column) = StateTable.idBucket(c, sb)

    // ---- initial state: one-time fits and table loads ------------------
    val ((rm, nCents), buildSec) = timed {
      visibleT.init(
        enrich(spark.range(0, n, 1, nPart)
          .select(col("id").as("doc_id"), lit(0L).as("ver")))
          .withColumn(B, fpB(col("fp"))), sb)
      docmapT.init(
        visibleT.read().select(col("doc_id"), col("fp"))
          .withColumn(B, idB(col("doc_id"))), sb)
      curatedT.init(
        curate(visibleT.read().drop(B)).withColumn(B, fpB(col("fp"))), sb)
      val curEmb = curatedT.read()
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val nCents = math.max(16,
        math.sqrt(curatedT.read().count().toDouble).toInt)
      // codebooks are fit ONCE on the initial curated corpus and stay
      // fixed — the serving pattern that makes the encode a pure row map
      val rm = ProductQuantization.fitResidual(curEmb, Dim,
        kCoarse = 64, coarseIters = 2, m = 4, kSub = 16, pqIters = 2)
      codesT.init(
        ProductQuantization.encodeResidual(curEmb, rm)
          .withColumn(B, idB(col("vec_id"))), sb)
      if (graphTables)
        graft.operators.KnnGraphTables.init(
          spark, s"$stateDir/graph", curEmb, k, nCents, nProbe, sb)
      else {
        val g0 = Ivf.knnGraphBuild(curEmb, k, nCents, nProbe)
        rankedT.init(g0.ranked.withColumn(B, idB(col("src_id"))), sb)
        edgesT.init(g0.edges.withColumn(B, idB(col("src_id"))), sb)
      }
      graft.CacheTracker.releaseAll()
      (rm, nCents)
    }

    // ---- the one foreachBatch loop -------------------------------------
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long, Long)] // seq, op, id, ver
    val genSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val storage = scala.collection.mutable.ArrayBuffer.empty[Long]
    val liveRdds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val diskFiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rewritten = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stagedMb = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stateDiskMb = scala.collection.mutable.ArrayBuffer.empty[Long]
    val query = stream.toDF().toDF("seq", "op", "doc_id", "ver")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // in-batch resolution: the latest op per doc wins
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("seq").desc)
        val resolved = batch
          .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        val touched = graft.CacheTracker.pin(resolved.select(col("doc_id")).distinct())
        val adds = graft.CacheTracker.pin(enrich(resolved.where(col("op") === "add")
          .select(col("doc_id"), col("ver"))))
        // every frame persisted in this loop is MUTATION-sized; the
        // corpus lives in the tables and is only ever streamed over
        val touchedDb = touched.select(idB(col("doc_id")).as("db"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // affected fingerprints: the touched docs' OLD fps — from the
        // doc-bucketed secondary index, pruned to the touched doc
        // buckets — plus the adds' new fps
        val affectedFps = graft.CacheTracker.pin(
          docmapT.readBuckets(touchedDb)
            .join(broadcast(touched), Seq("doc_id")).select(col("fp"))
            .unionByName(adds.select(col("fp"))).distinct())
        val affFpB = affectedFps.select(fpB(col("fp")).as("fb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // visible: affected buckets minus touched docs plus adds (every
        // touched doc's old row carries an affected fp, so it lives in
        // an affected bucket by construction)
        val visAff = visibleT.readBuckets(affFpB)
        val stageVis = visAff
          .join(broadcast(touched), Seq("doc_id"), "left_anti")
          .unionByName(adds.withColumn(B, fpB(col("fp"))))
        // keeper re-resolution over ONLY the affected fingerprints
        val curatedAdd = graft.CacheTracker.pin(gateRows(keepers(
          stageVis.join(broadcast(affectedFps), Seq("fp")))))
        val curAff = curatedT.readBuckets(affFpB)
        val removedIds = graft.CacheTracker.pin(
          curAff.join(broadcast(affectedFps), Seq("fp"))
            .select(col("doc_id").as("vec_id")))
        val stageCur = curAff
          .join(broadcast(affectedFps), Seq("fp"), "left_anti")
          .unionByName(curatedAdd)
        // code table: the affected vec buckets lose the removed ids'
        // codes and gain the re-encoded curated adds
        val affIds = graft.CacheTracker.pin(removedIds.unionByName(
          curatedAdd.select(col("doc_id").as("vec_id"))).distinct())
        val affVb = affIds.select(idB(col("vec_id")).as("vb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val stageCodes = codesT.readBuckets(affVb)
          .join(broadcast(removedIds), Seq("vec_id"), "left_anti")
          .unionByName(ProductQuantization.encodeResidual(
            curatedAdd.select(col("doc_id").as("vec_id"), col("embedding")),
            rm).withColumn(B, idB(col("vec_id"))))
        val stageDoc = docmapT.readBuckets(touchedDb)
          .join(broadcast(touched), Seq("doc_id"), "left_anti")
          .unionByName(adds.select(col("doc_id"), col("fp"))
            .withColumn(B, idB(col("doc_id"))))
        // graph refresh against the table-resident prior state; the
        // NEXT corpus is expressed over the CURRENT curated table (the
        // staged one hasn't committed yet)
        val newEmb = curatedT.read().drop(B)
          .join(broadcast(affectedFps), Seq("fp"), "left_anti")
          .unionByName(curatedAdd.drop(B))
          .select(col("doc_id").as("vec_id"), col("embedding"))
        // STAGE everything (all reads of current tables complete here),
        // then COMMIT everything — no plan ever sees half-swapped state
        val sv = visibleT.stage(stageVis, affFpB.size)
        val sc = curatedT.stage(stageCur, affFpB.size)
        val sk = codesT.stage(stageCodes, affVb.size)
        val sd = docmapT.stage(stageDoc, touchedDb.size)
        var genRewrites = 0
        var genStaged = sv.bytes + sc.bytes + sk.bytes + sd.bytes
        // both graph paths take the delta DIRECTLY (the loop already
        // knows the curated adds and the invalidated ids) — no
        // corpus-sized frame is diffed for the graph
        if (graphTables) {
          graft.operators.KnnGraphTables.refresh(
            spark, s"$stateDir/graph",
            adds = curatedAdd
              .select(col("doc_id").as("vec_id"), col("embedding")),
            removes = removedIds) match {
            case Some(rep) =>
              genStaged += rep.stagedBytes + rep.appendedBytes
              genRewrites += rep.bucketsRewritten
            case None =>
              graft.operators.KnnGraphTables.init(
                spark, s"$stateDir/graph", newEmb, k, nCents, nProbe, sb)
              // the rebuild rewrote EVERY graph sub-table — count the
              // real staged bytes and bucket-files (r16 advice: 2·sb
              // mirrored the in-memory path's two tables and skipped
              // the bytes, understating rebuild generations in the
              // published per-gen cost arrays)
              val graphTabs = Seq("meta", "cents", "ranked", "edges",
                "kth", "cellidx", "probeidx", "nbridx")
                .map(tn => new StateTable(spark, s"$stateDir/graph/$tn"))
              genStaged += graphTabs.map(_.diskBytes()).sum
              genRewrites += graphTabs.map(_.liveFileCount().toInt).sum
          }
        } else Ivf.knnGraphRefresh(
          Ivf.KnnGraphState(rankedT.read().drop(B), edgesT.read().drop(B)),
          adds = curatedAdd.select(col("doc_id").as("vec_id"), col("embedding")),
          removes = removedIds, k = k, nCentroids = nCents, nProbe = nProbe
        ) match {
          case Some(rr) =>
            val affSb = rr.changedSrcs.map(StateTable.idBucketOf(_, sb))
              .distinct.sorted
            val sr = rankedT.stage(rr.state.ranked
              .withColumn(B, idB(col("src_id")))
              .where(col(B).isin(affSb: _*)), affSb.size)
            val se = edgesT.stage(rr.state.edges
              .withColumn(B, idB(col("src_id")))
              .where(col(B).isin(affSb: _*)), affSb.size)
            genStaged += sr.bytes + se.bytes
            genRewrites += rankedT.commit(sr, affSb) + edgesT.commit(se, affSb)
          case None =>
            // rebuild fallback: the rebuilt plan reads only the curated
            // table (not ranked/edges), so a full rewrite here — before
            // the curated commit below — is consistent
            val g = Ivf.knnGraphBuild(newEmb, k, nCents, nProbe)
            rankedT.init(g.ranked.withColumn(B, idB(col("src_id"))), sb)
            edgesT.init(g.edges.withColumn(B, idB(col("src_id"))), sb)
            genRewrites += 2 * sb
        }
        genRewrites += visibleT.commit(sv, affFpB) +
          curatedT.commit(sc, affFpB) + codesT.commit(sk, affVb) +
          docmapT.commit(sd, touchedDb)
        rewritten += genRewrites
        stagedMb += genStaged / 1000000
        graft.CacheTracker.releaseAll()
      }
      .start()
    val vacFiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    val vacBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def allTables(): Seq[StateTable] =
      Seq(visibleT, curatedT, docmapT, codesT) ++
        (if (graphTables)
          Seq("meta", "cents", "ranked", "edges", "kth", "cellidx",
            "probeidx", "nbridx").map(tn =>
            new StateTable(spark, s"$stateDir/graph/$tn"))
        else Seq(rankedT, edgesT))
    var occAttempts = 0
    var occLanded = 0
    var occAborted = 0
    try {
      for (g <- 1 to gens) {
        val rows = (0 until perGen).map { j =>
          val seq = g.toLong * 1000000 + j
          if (j < addCut)
            (seq, "add", n + (g - 1).toLong * perGen + j, g.toLong)
          else if (j < delCut)
            (seq, "delete", (g.toLong * 7919 + j * 13) % n, 0L)
          else
            (seq, "add", (g.toLong * 104729 + j * 31) % n, g.toLong)
        }
        // the second writer's stage: resolve a base, read one rotating
        // bucket, stage its one-file rewrite — all BEFORE this
        // generation's commits land on the same table
        val occ: Option[(StateTable.Staged, Int, Long)] =
          if (occWriter && g >= 2) {
            val b = (g * 17) % sb
            val base = curatedT.generation()
            Some((curatedT.stage(curatedT.readBuckets(Seq(b)), 1), b, base))
          } else None
        genSec += timed {
          stream.addData(rows)
          query.processAllAvailable()
        }._2
        occ.foreach { case (staged, b, base) =>
          occAttempts += 1
          try {
            curatedT.commit(staged, Seq(b), base)
            occLanded += 1
          } catch {
            case _: StateTable.CommitConflictException => occAborted += 1
          }
        }
        storage += cachedBytes(spark)
        liveRdds += spark.sparkContext.getPersistentRDDs.size
        System.gc() // outside the timed window: leaked vs cleaner-lag
        Thread.sleep(200)
        diskFiles += blockFileCount()
        stateDiskMb += stateDiskBytes() / 1000000
        if (g == injectAbortAtGen) {
          // fault injection: a writer that staged and died — its
          // segment is referenced by no manifest and must survive
          // until vacuum, invisibly to every reader
          curatedT.stage(curatedT.readBuckets(Seq(0)), 1)
          ()
        }
        if (g % 2 == 0) {
          // the maintenance sweep a deployment schedules: between
          // generations no stage is open, so grace 0 is safe;
          // inflightGraceMs 0 models the injected CRASHED writer's
          // heartbeat having expired (a real deployment sizes it above
          // the longest stage-to-commit latency — the r18 safety
          // boundary a slow but live writer's marker enforces)
          val res = allTables().map(_.vacuum(graceMs = 0L,
            inflightGraceMs = 0L))
          vacFiles += res.map(_._1).sum
          vacBytes += res.map(_._2).sum
        }
      }
    } finally query.stop()

    // ---- end-of-run parity: replay the WHOLE log through the batch
    // pipeline (initial corpus = seq 0 adds) and compare state sets ----
    val (parity, paritySec) = timed {
      val logRows = spark.range(0, gens.toLong * perGen, 1, nPart).select(
        (col("id") / perGen + 1).cast("long").as("g"),
        (col("id") % perGen).cast("long").as("j"))
        .select(
          (col("g") * 1000000 + col("j")).as("seq"),
          when(col("j") < addCut, lit("add"))
            .when(col("j") < delCut, lit("delete"))
            .otherwise(lit("add")).as("op"),
          when(col("j") < addCut, lit(n) + (col("g") - 1) * perGen + col("j"))
            .when(col("j") < delCut, (col("g") * 7919 + col("j") * 13) % n)
            .otherwise((col("g") * 104729 + col("j") * 31) % n).as("doc_id"),
          when(col("j") >= addCut && col("j") < delCut, lit(0L))
            .otherwise(col("g")).as("ver"))
      val fullLog = spark.range(0, n, 1, nPart)
        .select(lit(0L).as("seq"), lit("add").as("op"),
          col("id").as("doc_id"), lit(0L).as("ver"))
        .unionByName(logRows)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("seq").desc)
      val visibleB = graft.CacheTracker.pin(enrich(fullLog
        .withColumn("rn", row_number().over(wAll)).where(col("rn") === 1)
        .where(col("op") === "add").select(col("doc_id"), col("ver"))))
      val curatedB = graft.CacheTracker.pin(curate(visibleB))
      val visible = visibleT.read().drop(B)
      val curated = curatedT.read().drop(B)
      val codes = codesT.read().drop(B)
      val edges =
        if (graphTables)
          graft.operators.KnnGraphTables.readState(spark, s"$stateDir/graph")
            .edges
        else edgesT.read().drop(B)
      val visCols = Seq("doc_id", "ver", "source", "fp").map(col)
      val visMissing = visibleB.select(visCols: _*)
        .except(visible.select(visCols: _*)).count()
      val visExtra = visible.select(visCols: _*)
        .except(visibleB.select(visCols: _*)).count()
      val curCols = Seq("doc_id", "ver", "source", "fp").map(col)
      val curMissing = curatedB.select(curCols: _*)
        .except(curated.select(curCols: _*)).count()
      val curExtra = curated.select(curCols: _*)
        .except(curatedB.select(curCols: _*)).count()
      val codesB = ProductQuantization.encodeResidual(
        curatedB.select(col("doc_id").as("vec_id"), col("embedding")), rm)
      val codeMissing = codesB.except(codes).count()
      val codeExtra = codes.except(codesB).count()
      val gB = Ivf.knnGraphBuild(
        curatedB.select(col("doc_id").as("vec_id"), col("embedding")),
        k, nCents, nProbe)
      val edgeMissing = gB.edges.except(edges).count()
      val edgeExtra = edges.except(gB.edges).count()
      (curated, Seq(visMissing, visExtra, curMissing, curExtra,
        codeMissing, codeExtra, edgeMissing, edgeExtra))
    }
    val (curated, Seq(visMissing, visExtra, curMissing, curExtra,
      codeMissing, codeExtra, edgeMissing, edgeExtra)) = parity
    val curatedCount = curated.count()
    val parityOk = visMissing == 0 && visExtra == 0 &&
      curMissing == 0 && curExtra == 0 &&
      codeMissing == 0 && codeExtra == 0 &&
      edgeMissing == 0 && edgeExtra == 0
    require(parityOk,
      s"composed parity broke: visible -$visMissing/+$visExtra, " +
        s"curated -$curMissing/+$curExtra, " +
        s"codes -$codeMissing/+$codeExtra, edges -$edgeMissing/+$edgeExtra")
    graft.CacheTracker.releaseAll()
    LoopSummary(n, gens, perGen, sb, buildSec, genSec.toSeq, storage.toSeq,
      liveRdds.toSeq, diskFiles.toSeq, rewritten.toSeq, stagedMb.toSeq,
      stateDiskMb.toSeq, curatedCount, paritySec, 0L, parityOk,
      vacFiles.toSeq, vacBytes.toSeq, occAttempts, occLanded, occAborted)
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 500000L
    val gens = if (args.length > 1) args(1).toInt else 25
    val perGen = if (args.length > 2) args(2).toInt else 5000
    val stateBuckets = if (args.length > 3) args(3).toInt else 64
    val graphTables = args.length > 4 && args(4) == "tables"
    val occWriter = args.contains("occ")
    val stateDir = java.nio.file.Files
      .createTempDirectory("online-soak-state").toString
    val s = runLoop(spark, n, gens, perGen, stateBuckets, stateDir,
      graphTables, occWriter = occWriter)
    emit("mode" -> "onlineloop", "n" -> n, "gens" -> gens, "per_gen" -> perGen,
      "graph" -> (if (graphTables) "tables" else "inmem"),
      "state" -> "table", "state_buckets" -> stateBuckets,
      "build_sec" -> fixed(s.buildSec, 1),
      "gen_sec" -> s.genSec.map(fixed(_, 1)),
      "gen_p50_sec" -> fixed(pct(s.genSec, 0.5), 1),
      "gen_p99_sec" -> fixed(pct(s.genSec, 0.99), 1),
      "storage_mb" -> s.storageBytes.map(_ / 1000000),
      "live_rdds" -> s.liveRdds,
      "disk_block_files" -> s.diskFiles,
      "buckets_rewritten" -> s.bucketsRewritten,
      "staged_mb" -> s.stagedMb,
      "state_disk_mb" -> s.stateDiskMb,
      "vacuum_files" -> s.vacuumFiles,
      "vacuum_mb" -> s.vacuumBytes.map(_ / 1000000),
      "occ_attempts" -> s.occAttempts, "occ_landed" -> s.occLanded,
      "occ_aborted" -> s.occAborted,
      "curated_count" -> s.curatedCount,
      "parity_sec" -> fixed(s.paritySec, 1),
      "task_retries" -> s.taskRetries,
      "composed_parity" -> s.composedParity)
  }
}
