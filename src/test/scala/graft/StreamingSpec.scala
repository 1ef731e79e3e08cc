package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Mutation, VisibleRow}

/** Structured Streaming ingest path: batch/stream parity for the windowed
  * aggregate, and stateful mutation-fold semantics (the Raft-ingest
  * replacement, SURVEY §2.4).
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("streaming hourly window agg matches the batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts(5), "click", 1.0), (ts(30), "click", 2.0), (ts(65), "click", 4.0),
      (ts(10), "view", 8.0), (ts(70), "view", 16.0))
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows)
    val out = StreamingOps.hourlyEventCounts(
      stream.toDF().toDF("ts", "event_type", "value"))
    val q = out.writeStream
      .format("memory").queryName("hourly_test").outputMode(OutputMode.Complete)
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly_test")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = rows.toDF("ts", "event_type", "value")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
  }

  test("streaming ANN serving matches the batch probe row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val indexes = graft.index.HnswSpark.build(
      emb, graft.index.HnswSpark.Params(dim = 64), numPartitions = 2)
    val bc = spark.sparkContext.broadcast(indexes)

    val queryRows = emb.where(org.apache.spark.sql.functions.col("vec_id") < 4)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qv"))
    val batch = graft.index.HnswSpark.searchDf(spark, bc, queryRows, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val stream = MemoryStream[(Long, Seq[Double])]
    stream.addData(queryRows.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1))).toSeq)
    val out = StreamingOps.servingKnn(
      spark, bc, stream.toDF().toDF("query_id", "qv"), k = 5)
    val q = out.writeStream.format("memory").queryName("serving_test")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("serving_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
  }

  test("file-sink log ingest: appended parquet log folds like the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val stream = MemoryStream[(Long, String, Long, Integer)]
    val q = StreamingOps.logIngest(
      stream.toDF().toDF("seq", "op", "vec_id", "label"),
      s"$dir/log", s"$dir/ckpt").start()
    try {
      stream.addData((1L, "insert", 10L, 1), (2L, "insert", 20L, 2))
      q.processAllAvailable()
      stream.addData((3L, "insert", 20L, 22), (4L, "delete", 10L, null.asInstanceOf[Integer]))
      q.processAllAvailable()
    } finally q.stop()
    // the durable log replays through the batch fold (Raft's WHAT:
    // ordered, durable, replayable mutations)
    val folded = graft.operators.Mutations.apply(spark.read.parquet(s"$dir/log"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(folded == Map(20L -> 22))
  }

  test("stateful mutation fold: last-writer-wins across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Mutation]
    val out = StreamingOps.foldMutations(spark, stream.toDS())
    val q = out.writeStream
      .format("memory").queryName("fold_test").outputMode(OutputMode.Update)
      .start()
    try {
      stream.addData(Mutation(1, "insert", 10, Some(1)), Mutation(2, "insert", 20, Some(2)))
      q.processAllAvailable()
      // second micro-batch: overwrite 20, delete 10, stale command for 20 ignored
      stream.addData(
        Mutation(4, "insert", 20, Some(22)),
        Mutation(3, "delete", 10, None),
        Mutation(1, "insert", 20, Some(999)))
      q.processAllAvailable()
    } finally q.stop()

    val lastState = spark.table("fold_test")
      .groupBy(col("vec_id"))
      .agg(max(struct(col("lastSeq"), col("label"))).as("s"))
      .select(col("vec_id"), col("s.label"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    assert(lastState(20L) == 22) // seq-4 insert beats the stale seq-1 replay
    assert(lastState(10L) == -1) // tombstoned
  }

  test("streaming exact dedup: one keeper per content across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingDedup(
      spark, stream.toDF().toDF("doc_id", "text"))
    val q = out.toDF("doc_id", "fingerprint").writeStream
      .format("memory").queryName("dedup_test").outputMode(OutputMode.Append)
      .start()
    try {
      stream.addData(Seq(1L -> "alpha", 2L -> "beta", 3L -> "Alpha "))
      q.processAllAvailable()
      // batch 2: repeats of both contents plus one new one
      stream.addData(Seq(4L -> "ALPHA", 5L -> "gamma", 6L -> "beta"))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.table("dedup_test").collect()
      .map(r => r.getLong(0)).toSet
    // "alpha"/"Alpha "/"ALPHA" normalize to one fingerprint -> keeper 1;
    // beta -> 2; gamma (new in batch 2) -> 5. Repeats emit nothing.
    assert(kept == Set(1L, 2L, 5L), kept.toString)
  }

  test("streaming passage dedup: first arrival keeps; one in-order batch equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingPassageDedup(
      spark, stream.toDF().toDF("doc_id", "text"), passageTokens = 2)
    val q = out.toDF("doc_id", "pidx", "passage").writeStream
      .format("memory").queryName("passage_test").outputMode(OutputMode.Append)
      .start()
    try {
      // batch 1: the hand case from DedupSpec, in doc order
      stream.addData(Seq(
        1L -> "a b c d e f",
        2L -> "c d x y a b",
        3L -> "z z z z"))
      q.processAllAvailable()
      // batch 2: every passage repeats -> nothing new emits
      stream.addData(Seq(4L -> "a b z z c d"))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.table("passage_test").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // streaming keepers == the batch operator's kept instances on the
    // same corpus fed in (doc_id, pidx) order
    val batchKept = Set(
      (1L, 0, "a b"), (1L, 1, "c d"), (1L, 2, "e f"),
      (2L, 1, "x y"), (3L, 0, "z z"))
    assert(kept == batchKept, kept.toString)
    // cross-check against the batch operator's per-doc kept counts
    val batch = graft.operators.Dedup.passageDedup(
      Seq(1L -> "a b c d e f", 2L -> "c d x y a b", 3L -> "z z z z")
        .toDF("doc_id", "text"), passageTokens = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CacheTracker.releaseAll()
    val streamCounts = kept.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(batch.forall { case (d, n) => streamCounts.getOrElse(d, 0L) == n })
  }

  test("event-time exact dedup: shuffled arrival order still yields min-id keepers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.streamingDedupEventTime(
      spark, stream.toDF().toDF("doc_id", "ts", "text"), delaySeconds = 300)
    val q = out.toDF("doc_id", "fingerprint").writeStream
      .format("memory").queryName("dedup_et_test").outputMode(OutputMode.Append)
      .start()
    try {
      // duplicates arrive BEFORE their min-id keepers
      stream.addData(Seq((4L, ts(4), "ALPHA"), (6L, ts(4), "beta")))
      q.processAllAvailable()
      stream.addData(Seq((3L, ts(3), "Alpha "), (5L, ts(2), "gamma")))
      q.processAllAvailable()
      stream.addData(Seq((1L, ts(1), "alpha"), (2L, ts(2), "beta")))
      q.processAllAvailable()
      stream.addData(Seq((90L, ts(60), "flushone")))
      q.processAllAvailable()
      stream.addData(Seq((91L, ts(120), "flushtwo")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("dedup_et_test").collect()
      .map(_.getLong(0)).filter(_ <= 6L).toSet
    // batch Dedup.exact keepers: min doc_id per normalized fingerprint
    assert(kept == Set(1L, 2L, 5L), kept.toString)
  }

  test("event-time passage dedup: shuffled arrival order still yields batch keepers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    // 5-minute disorder bound; docs carry event times within 4 minutes of
    // each other, so the contract guarantees batch-equal keepers
    val out = StreamingOps.streamingPassageDedupEventTime(
      spark, stream.toDF().toDF("doc_id", "ts", "text"), passageTokens = 2,
      delaySeconds = 300)
    val q = out.toDF("doc_id", "pidx", "passage").writeStream
      .format("memory").queryName("passage_et_test").outputMode(OutputMode.Append)
      .start()
    try {
      // ADVERSARIAL arrival: the all-duplicates doc 4 arrives FIRST, the
      // true keeper doc 1 arrives LAST — first-arrival dedup would crown
      // doc 4's instances; the event-time contract must not
      stream.addData(Seq((4L, ts(4), "a b z z c d")))
      q.processAllAvailable()
      stream.addData(Seq((2L, ts(2), "c d x y a b"), (3L, ts(3), "z z z z")))
      q.processAllAvailable()
      stream.addData(Seq((1L, ts(1), "a b c d e f")))
      q.processAllAvailable()
      // flush: two far-future rows advance the watermark past every
      // pending passage's minEvent+delay (timeouts fire on the batch
      // AFTER the watermark update, hence two)
      stream.addData(Seq((90L, ts(60), "flushone floodA")))
      q.processAllAvailable()
      stream.addData(Seq((91L, ts(120), "flushtwo floodB")))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.table("passage_et_test").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .filter(_._1 <= 4L).toSet
    // identical to the batch operator's global min-(doc_id, pidx) keepers
    // (the in-order spec's expected set) despite reversed arrival
    val batchKept = Set(
      (1L, 0, "a b"), (1L, 1, "c d"), (1L, 2, "e f"),
      (2L, 1, "x y"), (3L, 0, "z z"))
    assert(kept == batchKept, kept.toString)
  }

  test("event-time dedup tombstone: a re-crawl duplicate with a fresh event time never re-emits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.streamingDedupEventTime(
      spark, stream.toDF().toDF("doc_id", "ts", "text"), delaySeconds = 300)
    val q = out.toDF("doc_id", "fingerprint").writeStream
      .format("memory").queryName("dedup_tomb_test").outputMode(OutputMode.Append)
      .start()
    try {
      stream.addData(Seq((1L, ts(1), "alpha")))
      q.processAllAvailable()
      // advance the watermark far past alpha's minEvent+delay → resolution
      stream.addData(Seq((90L, ts(60), "flushone")))
      q.processAllAvailable()
      stream.addData(Seq((91L, ts(120), "flushtwo")))
      q.processAllAvailable()
      // OUT-OF-CONTRACT re-crawl: same content, event time ts(200) — far
      // AHEAD of the watermark (ts(115)), so the late-row filter cannot
      // touch it; only the resolved tombstone stops a second emission
      stream.addData(Seq((50L, ts(200), "ALPHA  ")))
      q.processAllAvailable()
      stream.addData(Seq((92L, ts(300), "flushthree")))
      q.processAllAvailable()
      stream.addData(Seq((93L, ts(600), "flushfour")))
      q.processAllAvailable()
    } finally q.stop()
    val alphaEmits = spark.table("dedup_tomb_test").collect()
      .map(_.getLong(0)).filter(d => d == 1L || d == 50L)
    assert(alphaEmits.toSeq == Seq(1L),
      s"tombstone failed: alpha emitted for docs ${alphaEmits.mkString(",")}")
  }

  test("event-time dedup TTL: tombstones evict (state shrinks) and a post-eviction re-ingest re-emits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String)]
    // 5-minute disorder bound, 10-minute tombstone TTL
    val out = StreamingOps.streamingDedupEventTime(
      spark, stream.toDF().toDF("doc_id", "ts", "text"), delaySeconds = 300,
      resolvedTtlSeconds = Some(600))
    val q = out.toDF("doc_id", "fingerprint").writeStream
      .format("memory").queryName("dedup_ttl_test").outputMode(OutputMode.Append)
      .start()
    try {
      stream.addData(Seq((1L, ts(1), "alpha")))
      q.processAllAvailable()
      stream.addData(Seq((90L, ts(60), "flushone")))
      q.processAllAvailable()
      stream.addData(Seq((91L, ts(120), "flushtwo"))) // alpha resolves here
      q.processAllAvailable()
      // watermark marches past resolution + TTL → alpha's tombstone evicts
      stream.addData(Seq((92L, ts(300), "flushthree")))
      q.processAllAvailable()
      stream.addData(Seq((93L, ts(700), "flushfour")))
      q.processAllAvailable()
      val afterEviction = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      // 5 distinct fingerprints seen so far: permanent tombstones would
      // hold all 5; TTL must have evicted at least the early ones
      assert(afterEviction < 5,
        s"state still holds $afterEviction rows — no tombstone evicted")
      // post-eviction re-ingest: the SAME content re-emits — the
      // documented exactness trade that proves state.remove() ran
      stream.addData(Seq((60L, ts(800), "alpha")))
      q.processAllAvailable()
      stream.addData(Seq((94L, ts(1500), "flushfive")))
      q.processAllAvailable()
      stream.addData(Seq((95L, ts(2200), "flushsix")))
      q.processAllAvailable()
    } finally q.stop()
    val alphaEmits = spark.table("dedup_ttl_test").collect()
      .map(_.getLong(0)).filter(d => d == 1L || d == 60L).toSeq.sorted
    assert(alphaEmits == Seq(1L, 60L),
      s"expected re-emission after TTL eviction, got ${alphaEmits.mkString(",")}")
  }

  test("streaming sessionization matches the batch session_window aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two users; user 1 has two sessions split by a >30min gap
    val rows = Seq(
      (1L, ts(0), 10.0), (1L, ts(10), 20.0), (1L, ts(70), 40.0),
      (2L, ts(5), 1.0), (2L, ts(20), 2.0))
    val stream = MemoryStream[(Long, Timestamp, Double)]
    stream.addData(rows)
    val out = StreamingOps.userSessionsStream(
      stream.toDF().toDF("user_id", "ts", "value"))
    val q = out.writeStream
      .format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Complete)
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("sessions_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = rows.toDF("user_id", "ts", "value")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("s"),
        col("n_events"), col("session_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.count(_._1 == 1L) == 2) // the gap split user 1
  }

  test("streaming semantic dedup matches batch semanticDedup across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus whose lowest two ids are the centroids (the batch contract);
    // 2 duplicates 0's direction, 4 duplicates 1's, 3 and 5 are keepers
    val corpus = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0),
      2L -> Array(2.0, 0.0), 3L -> Array(0.5, 0.6),
      4L -> Array(0.0, 5.0), 5L -> Array(0.766, 0.643))
    val eps = 0.05
    val batchKept = graft.operators.SemanticDedup
      .semanticDedup(
        corpus.map { case (id, v) => (id, v.map(_.toFloat)) }
          .toDF("vec_id", "embedding"),
        eps, nCentroids = 2)
      .collect().filter(_.getInt(2) == 1)
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val cents = corpus.take(2).map { case (id, v) => (id, v) }.toArray
    val stream = MemoryStream[(Long, Seq[Double])]
    val out = StreamingOps.streamingSemanticDedup(
      spark, stream.toDF().toDF("vec_id", "embedding"), cents, eps)
    val q = out.writeStream.format("memory").queryName("semdedup_test")
      .outputMode(OutputMode.Append).start()
    try {
      // split across micro-batches: the dup in batch 2 (id 4) must be
      // dropped against STATE from batch 1, not within-batch comparison
      stream.addData(corpus.take(3).map { case (id, v) => (id, v.toSeq) })
      q.processAllAvailable()
      stream.addData(corpus.drop(3).map { case (id, v) => (id, v.toSeq) })
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("semdedup_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fed in id order, first-arrival == min-id: exact batch parity
    assert(streamed == batchKept, s"streamed=$streamed batch=$batchKept")
    assert(!streamed.exists(_._1 == 2L) && !streamed.exists(_._1 == 4L))
  }

  test("streaming semantic dedup on an eps-chain: greedy-leader divergence from batch is the documented one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 0 at 0deg, 1 at 25deg, 2 at 50deg: dist(0,1)=dist(1,2)~0.094 <= eps,
    // dist(0,2)~0.357 > eps — a chain, not a clique
    val chain = Seq(
      0L -> Array(1.0, 0.0),
      1L -> Array(0.9063077870366499, 0.42261826174069944), // cos/sin 25°
      2L -> Array(0.6427876096865393, 0.766044443118978)) // cos/sin 50°
    val eps = 0.1
    // batch: witness need not be kept — 1 drops (witness 0), 2 drops
    // (witness 1, itself dropped)
    val batchKept = graft.operators.SemanticDedup
      .semanticDedup(
        chain.map { case (id, v) => (id, v.map(_.toFloat)) }
          .toDF("vec_id", "embedding"),
        eps, nCentroids = 1)
      .collect().filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    assert(batchKept == Set(0L))
    // greedy: 2's only KEPT leader is 0, outside eps — kept
    val stream = MemoryStream[(Long, Seq[Double])]
    val out = StreamingOps.streamingSemanticDedup(
      spark, stream.toDF().toDF("vec_id", "embedding"),
      Array(0L -> Array(1.0, 0.0)), eps)
    val q = out.writeStream.format("memory").queryName("semchain_test")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(chain.map { case (id, v) => (id, v.toSeq) })
      q.processAllAvailable()
    } finally q.stop()
    val streamedKept = spark.table("semchain_test").collect()
      .map(_.getLong(0)).toSet
    assert(streamedKept == Set(0L, 2L),
      s"greedy-leader keepers should be {0, 2}, got $streamedKept")
  }

  test("streaming tokenization matches the batch unigram encoder row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "the quick brown fox"),
      (1L, "the lazy dog and the quick fox"),
      (2L, "internationalization the the quick"))
    val batchDocs = texts.toDF("doc_id", "text")
    val pieces = graft.operators.UnigramLm.trainPieceCounts(batchDocs, vocabSize = 30)
    val expected = graft.operators.UnigramLm.encodeCorpus(batchDocs, pieces)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3))
    val stream = MemoryStream[(Long, String)]
    stream.addData(texts.take(2))
    stream.addData(texts.drop(2)) // two micro-batches: no cross-batch state
    val out = StreamingOps.streamingTokenize(
      stream.toDF().toDF("doc_id", "text"), pieces)
    val q = out.writeStream
      .format("memory").queryName("tok_test").outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("tok_test").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq === expected.toSeq)
  }

  test("streaming rolling activity: in-order batch parity + cross-batch state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch1 = Seq(
      (1L, 1L, ts("2024-01-01 09:59:59"), 1.0),
      (2L, 1L, ts("2024-01-01 10:00:00"), 2.0),
      (3L, 1L, ts("2024-01-01 10:30:00"), 4.0),
      (5L, 2L, ts("2024-01-01 12:00:00"), 1.0),
      (6L, 2L, ts("2024-01-01 12:00:00"), 1.0))
    val batch2 = Seq(
      // sees 10:00 and 10:30 from batch 1 (09:59:59 aged out)
      (4L, 1L, ts("2024-01-01 11:00:00"), 8.0),
      // user 2: 13:30 sees nothing (both 12:00 events aged out at 13:30? no
      // — window is 1h, 12:00 to 13:30 is 90min, so aged out)
      (7L, 2L, ts("2024-01-01 13:30:00"), 2.0))
    val allRows = batch1 ++ batch2
    val expected = graft.operators.Relational
      .rollingUserActivityOf(
        allRows.toDF("event_id", "user_id", "ts", "value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val stream = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    stream.addData(batch1)
    stream.addData(batch2)
    val out = StreamingOps.streamingRollingActivity(spark,
      stream.toDF().toDF("event_id", "user_id", "ts", "value"))
    val q = out.writeStream
      .format("memory").queryName("rolling_test").outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("rolling_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // in-order arrival (each batch internally ordered, batches in time
    // order): the streaming features equal the batch RANGE frame exactly
    assert(got.toSeq === expected.toSeq)
  }

  test("event-time rolling activity: shuffled arrival equals the batch frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // the same scenario as the in-order test, but arrivals are
    // ADVERSARIALLY shuffled within the 5-minute disorder bound: later
    // events arrive first, so the first-arrival face would compute wrong
    // prior-hour features; the event-time contract must not
    val rows = Seq(
      (1L, 1L, t("2024-01-01 09:59:59"), 1.0),
      (2L, 1L, t("2024-01-01 10:00:00"), 2.0),
      (3L, 1L, t("2024-01-01 10:01:30"), 4.0),
      (4L, 1L, t("2024-01-01 10:03:00"), 8.0),
      (5L, 2L, t("2024-01-01 10:00:00"), 1.0),
      (6L, 2L, t("2024-01-01 10:00:00"), 1.0))
    val expected = graft.operators.Relational
      .rollingUserActivityOf(rows.toDF("event_id", "user_id", "ts", "value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val stream = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val out = StreamingOps.streamingRollingActivityEventTime(spark,
      stream.toDF().toDF("event_id", "user_id", "ts", "value"),
      delaySeconds = 300)
    val q = out.writeStream
      .format("memory").queryName("rolling_et_test").outputMode(OutputMode.Append)
      .start()
    try {
      stream.addData(Seq(rows(3), rows(5))) // newest first
      q.processAllAvailable()
      stream.addData(Seq(rows(2), rows(4)))
      q.processAllAvailable()
      stream.addData(Seq(rows(0), rows(1))) // oldest last
      q.processAllAvailable()
      // advance the watermark far past every event + delay (two batches:
      // timeouts fire on the batch AFTER the watermark update)
      stream.addData(Seq((90L, 9L, t("2024-01-01 12:00:00"), 0.0)))
      q.processAllAvailable()
      stream.addData(Seq((91L, 9L, t("2024-01-01 14:00:00"), 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rolling_et_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter(_._1 <= 6L)
      .sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
  }

  test("streaming doc quality matches the batch perplexity face row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = graft.entry.TextKeys.FixedUnigramModel
    val texts = Seq(
      (0L, "table data value in row"),
      (1L, "qqqq zzzz do in table"),
      (2L, "scale in er do ta"))
    val batch = graft.operators.UnigramLm
      .docQualityWithModel(texts.toDF("doc_id", "text"), model)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val stream = MemoryStream[(Long, String)]
    stream.addData(texts.take(2))
    stream.addData(texts.drop(2)) // two micro-batches, map-only, no state
    val out = StreamingOps.streamingDocQuality(
      stream.toDF().toDF("doc_id", "text"), model)
    val q = out.writeStream
      .format("memory").queryName("quality_test").outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("quality_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq === batch.toSeq)
  }

  test("streaming graph refresh: each generation equals the rebuilt graph") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (kk, nCents, nProbe) = (5, 16, 4)
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).persist()
    base.count()
    def vecFor(seed: Long): Seq[Double] =
      (0 until 64).map(j => ((seed * 31 + j * 7) % 100) / 50.0 - 1.0)
    val stream = MemoryStream[(String, Long, Seq[Double])]
    val (q, currentState) = StreamingOps.streamingGraphRefresh(
      stream.toDF().toDF("op", "vec_id", "vec"), base, kk, nCents, nProbe)
    try {
      // gen 1: two adds + one delete (id 50, never a centroid id)
      stream.addData(Seq(
        ("add", 900001L, vecFor(1)), ("add", 900002L, vecFor(2)),
        ("delete", 50L, Seq.empty[Double])))
      q.processAllAvailable()
      // gen 2: replace one of the adds, delete another base row
      stream.addData(Seq(
        ("add", 900001L, vecFor(9)), ("delete", 51L, Seq.empty[Double])))
      q.processAllAvailable()
    } finally q.stop()
    val expected = base
      .where(!col("vec_id").isin(50L, 51L))
      .unionByName(Seq((900001L, vecFor(9)), (900002L, vecFor(2)))
        .toDF("vec_id", "embedding"))
    val want = graft.operators.Ivf.knnGraph(expected, kk, nCents, nProbe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    val got = currentState().edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    assert(got.toSeq == want.toSeq)
  }

  test("streaming graph refresh: no-op batches leave persistent-RDD storage flat") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (kk, nCents, nProbe) = (5, 16, 4)
    val base = Tables.embeddings(spark, sfDir).limit(500)
      .select(col("vec_id"), col("embedding")).persist()
    base.count()
    def vecFor(seed: Long): Seq[Double] =
      (0 until 64).map(j => ((seed * 31 + j * 7) % 100) / 50.0 - 1.0)
    val stream = MemoryStream[(String, Long, Seq[Double])]
    val (q, currentState) = StreamingOps.streamingGraphRefresh(
      stream.toDF().toDF("op", "vec_id", "vec"), base, kk, nCents, nProbe)
    try {
      stream.addData(Seq(("add", 900001L, vecFor(1)))) // one real generation
      q.processAllAvailable()
      val after1 = spark.sparkContext.getPersistentRDDs.size
      // three no-op generations: a delete of an id the corpus does not
      // hold folds into the corpus but is an EMPTY delta — the r12 leak
      // checkpointed that corpus copy and never released it
      (1 to 3).foreach { _ =>
        stream.addData(Seq(("delete", 990000L, Seq.empty[Double])))
        q.processAllAvailable()
      }
      val afterNoops = spark.sparkContext.getPersistentRDDs.size
      assert(afterNoops <= after1,
        s"persistent RDDs grew across no-op batches: $after1 -> $afterNoops")
      // and one more REAL generation still swaps cleanly (the released
      // corpus copy was genuinely unused)
      stream.addData(Seq(("add", 900002L, vecFor(2))))
      q.processAllAvailable()
      assert(currentState().edges
        .where(col("src_id") === 900002L).count() > 0)
      val after2 = spark.sparkContext.getPersistentRDDs.size
      assert(after2 <= after1 + 1,
        s"real generations accumulate storage: $after1 -> $after2")
    } finally q.stop()
  }

  test("streaming kmeans assignment matches the batch face row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
    val model = graft.operators.Kmeans.fit(emb, k = 4, iterations = 2)
    val batch = graft.operators.Kmeans.assignFace(emb, 4, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val stream = MemoryStream[(Long, Seq[Double])]
    stream.addData(rows.take(50).toSeq)
    stream.addData(rows.drop(50).toSeq) // two micro-batches, map-only
    val out = StreamingOps.streamingKmeansAssign(
      stream.toDF().toDF("vec_id", "embedding"), model)
    val q = out.writeStream
      .format("memory").queryName("kmeans_assign_test")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("kmeans_assign_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == batch.toSeq)
  }

  test("streaming SQ8 + PQ encode-on-ingest match batch encode across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    // SQ8: pure per-row function, so streamed codes are the batch codes
    val sqBatch = graft.operators.Quantization.sq8Encode(emb).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getSeq[Int](3))).sortBy(_._1)
    val s1 = MemoryStream[(Long, Seq[Double])]
    s1.addData(rows.take(40).toSeq)
    s1.addData(rows.slice(40, 90).toSeq)
    s1.addData(rows.drop(90).toSeq) // three micro-batches, map-only
    val q1 = graft.operators.Quantization.sq8Encode(
      s1.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("sq8_encode_test")
      .outputMode(OutputMode.Append).start()
    try q1.processAllAvailable() finally q1.stop()
    val sqGot = spark.table("sq8_encode_test").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getSeq[Int](3))).sortBy(_._1)
    assert(sqGot.toSeq == sqBatch.toSeq)
    // PQ: trained codebooks ride as literals; streamed codes = batch codes
    val models = graft.operators.ProductQuantization
      .fitExact(emb, dim = 64, m = 4, kSub = 8, iterations = 2)
    val pqBatch = graft.operators.ProductQuantization
      .encodeExact(emb, models, dim = 64).collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getLong).toSeq)).sortBy(_._1)
    val s2 = MemoryStream[(Long, Seq[Double])]
    s2.addData(rows.take(70).toSeq)
    s2.addData(rows.drop(70).toSeq)
    val q2 = graft.operators.ProductQuantization.encodeExact(
      s2.toDF().toDF("vec_id", "embedding"), models, dim = 64)
      .writeStream.format("memory").queryName("pq_encode_test")
      .outputMode(OutputMode.Append).start()
    try q2.processAllAvailable() finally q2.stop()
    val pqGot = spark.table("pq_encode_test").collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getLong).toSeq)).sortBy(_._1)
    assert(pqGot.toSeq == pqBatch.toSeq)
    // residual PQ: coarse cell + fine codes, same stateless contract
    val rm = graft.operators.ProductQuantization
      .fitResidual(emb, dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2)
    val rBatch = graft.operators.ProductQuantization
      .encodeResidual(emb, rm).collect()
      .map(r => (r.getLong(0), (1 to 5).map(r.getLong).toSeq)).sortBy(_._1)
    val s3 = MemoryStream[(Long, Seq[Double])]
    s3.addData(rows.take(55).toSeq)
    s3.addData(rows.drop(55).toSeq)
    val q3 = graft.operators.ProductQuantization.encodeResidual(
      s3.toDF().toDF("vec_id", "embedding"), rm)
      .writeStream.format("memory").queryName("ivfpq_encode_test")
      .outputMode(OutputMode.Append).start()
    try q3.processAllAvailable() finally q3.stop()
    val rGot = spark.table("ivfpq_encode_test").collect()
      .map(r => (r.getLong(0), (1 to 5).map(r.getLong).toSeq)).sortBy(_._1)
    assert(rGot.toSeq == rBatch.toSeq)
  }

  test("streaming residual-PQ serve answers each micro-batch with the batch face's rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("ivfpq-serve").toString
    val rm = graft.operators.ProductQuantization.fitResidual(
      emb, dim = 64, kCoarse = 4, coarseIters = 2, m = 4, kSub = 8,
      pqIters = 2)
    graft.operators.ProductQuantization.writeResidualLayout(emb, rm, path)
    // two small micro-batches take the leg face; one burst above the
    // bulk constant takes the join-shaped bulk face
    val burst = StreamingOps.ResidualPqServeBulkQueries.toInt + 1
    val qRows = emb.where(col("vec_id") < 5 + burst)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    def batchFace(rs: Seq[(Long, Seq[Double])]) =
      graft.operators.ProductQuantization
        .residualAdcKnnBatchFromLayout(spark, path, emb,
          rs.toDF("query_id", "qv"), nProbe = 2, k = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
        .sortBy(t => (t._1, t._4)).toSeq
    val chunks = Seq(qRows.take(2).toSeq, qRows.slice(2, 5).toSeq,
      qRows.drop(5).toSeq)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, Long, Double, Long)]]
    val s = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.streamingResidualPqServe(
      s.toDF().toDF("query_id", "qv"), path, emb,
      nProbe = 2, k = 10, candFactor = 8,
      (out, _) => got.synchronized {
        val rows = out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
        if (rows.nonEmpty) got += rows.sortBy(t => (t._1, t._4)).toSeq
      })
    try chunks.foreach { c => s.addData(c); q.processAllAvailable() }
    finally q.stop()
    // one answer per micro-batch, each the batch face's rows for it
    assert(got.toSeq == chunks.map(batchFace))
    assert(got.map(_.length).toSeq == Seq(20, 30, burst * 10))
  }

  test("streaming DSIR scores equal the batch face under the same fixed model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val buckets = 32
    val docs = Tables.documents(spark, sfDir)
    val raw = docs.where(col("source") =!= "src0")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 150)
    val target = docs.where(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    val lrFrame = graft.operators.Dsir.bucketLogRatios(raw, target, buckets)
      .select(col("bucket"), col("lr"))
    val batch = graft.operators.Dsir.weightsWithModel(raw, lrFrame, buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val lrMap = lrFrame.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = raw.collect().map(r => (r.getLong(0), r.getString(1)))
    val s = MemoryStream[(Long, String)]
    s.addData(rows.take(50).toSeq)
    s.addData(rows.slice(50, 80).toSeq)
    s.addData(rows.drop(80).toSeq)
    val q = StreamingOps.streamingDsirScore(
      s.toDF().toDF("doc_id", "text"), lrMap, buckets)
      .writeStream.format("memory").queryName("dsir_score_test")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dsir_score_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == batch.toSeq)
    assert(got.nonEmpty)
  }

  test("streaming mixture execute keeps exactly the batch kept set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // enough rows that every source realizes a PARTIAL keep (the
    // interesting case: the md5 draw actually decides), plus a source
    // absent from the plan (kept nowhere, both faces)
    val docs = (0L until 60L).map(i =>
      (i, s"src${(i % 3) + 1}", s"doc $i body")) ++
      Seq((60L, "srcX", "unplanned source"))
    val docsDf = docs.toDF("doc_id", "source", "text")
    val plan = graft.operators.TrainingPipeline
      .mixturePlan(docsDf, Map("src1" -> 0.4, "src2" -> 0.1, "src3" -> 0.9),
        tokenBudget = 60L)
    val batchKept = graft.operators.TrainingPipeline
      .mixtureExecute(docsDf, plan)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(batchKept.nonEmpty && batchKept.length < docs.length,
      "fixture must exercise a partial keep")
    val fractions = graft.operators.TrainingPipeline.planKeepFractions(plan)
    val stream = MemoryStream[(Long, String, String)]
    stream.addData(docs.take(20))
    stream.addData(docs.slice(20, 45))
    stream.addData(docs.drop(45)) // three micro-batches, map-only
    val out = StreamingOps.streamingMixtureExecute(
      stream.toDF().toDF("doc_id", "source", "text"), fractions)
    val q = out.writeStream
      .format("memory").queryName("mixture_exec_test")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("mixture_exec_test")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == batchKept.toSeq)
  }

  test("streaming CMS cells equal the batch sketch (bounded state, no watermark)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "the data the row"),
      (1L, "data data query"),
      (2L, "the window"))
    val batch = graft.operators.Sketches
      .cmsCells(texts.toDF("doc_id", "text"), depth = 4, width = 16)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    val stream = MemoryStream[(Long, String)]
    stream.addData(texts.take(2))
    stream.addData(texts.drop(2))
    // the SAME plan on the streaming frame: state is bounded at
    // depth x width by construction, so complete mode needs no watermark
    val out = graft.operators.Sketches
      .cmsCells(stream.toDF().toDF("doc_id", "text"), depth = 4, width = 16)
    val q = out.writeStream
      .format("memory").queryName("cms_cells_test")
      .outputMode(OutputMode.Complete)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cms_cells_test").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == batch.toSeq)
  }

  test("streaming WordPiece tokenization matches the batch fixed-vocab encode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "the customer data row"),
      (1L, "the query window"))
    val batchDocs = texts.toDF("doc_id", "text")
    val vocab = graft.entry.TextKeys.FixedWordPieceVocab
    val expected = graft.operators.WordPiece
      .encodeCorpusWithVocab(batchDocs, vocab)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3))
    val ids = graft.operators.WordPiece.subwordIds(batchDocs, vocab)
    val stream = MemoryStream[(Long, String)]
    stream.addData(texts.take(1))
    stream.addData(texts.drop(1))
    val out = StreamingOps.streamingWordpieceTokenize(
      stream.toDF().toDF("doc_id", "text"), vocab, ids)
    val q = out.writeStream
      .format("memory").queryName("wptok_test").outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("wptok_test").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq === expected.toSeq)
    // [UNK] ("row" has no ##o..##w path) is a trained piece here, so it
    // carries a real id; a stream-only word built from pieces the batch
    // corpus never emitted would get id 0
    assert(got.exists(_._4 == graft.operators.WordPiece.Unk))
    assert(got.forall(_._5 > 0L))
  }

  test("streaming BPE tokenization matches the batch encoder's subword stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "low lower lowest newest"),
      (1L, "low low newest wider"))
    val batchDocs = texts.toDF("doc_id", "text")
    val merges = graft.operators.Bpe.bpeMerges(batchDocs, k = 8).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    val expected = graft.operators.Bpe.encodeCorpus(batchDocs, merges)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3))
    val ids = graft.operators.Bpe.subwordIds(batchDocs, merges)
    val stream = MemoryStream[(Long, String)]
    stream.addData(texts.take(1))
    stream.addData(texts.drop(1))
    val out = StreamingOps.streamingBpeTokenize(
      stream.toDF().toDF("doc_id", "text"), merges, ids)
    val q = out.writeStream
      .format("memory").queryName("bpetok_test").outputMode(OutputMode.Append)
      .start()
    try q.processAllAvailable() finally q.stop()
    // parity INCLUDING the dense frequency-ranked subword_id column —
    // the trained id table rides the closure, so the stream is a
    // drop-in twin of the batch output across micro-batch boundaries
    val got = spark.table("bpetok_test").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq === expected.toSeq)
    assert(got.forall(_._5 > 0L), "every trained subword carries a real id")
    // an OOV word (characters outside the training corpus) gets id 0
    val oovStream = MemoryStream[(Long, String)]
    oovStream.addData(Seq((9L, "zzzqqq")))
    val out2 = StreamingOps.streamingBpeTokenize(
      oovStream.toDF().toDF("doc_id", "text"), merges, ids)
    val q2 = out2.writeStream
      .format("memory").queryName("bpetok_oov").outputMode(OutputMode.Append)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    // unseen characters → id 0; the end-of-word marker IS in the trained
    // vocabulary, so it keeps its real id — exactly the batch contract
    val oov = spark.table("bpetok_oov").collect()
    assert(oov.nonEmpty)
    assert(oov.filter(_.getString(3) != "</w>").forall(_.getLong(4) == 0L))
    assert(oov.filter(_.getString(3) == "</w>").forall(_.getLong(4) > 0L))
    graft.CacheTracker.releaseAll()
  }

  test("streaming index refresh: mutation stream lands in the served shards per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.index.HnswSpark
    val params = HnswSpark.Params(dim = 64)
    val bigEf = Some(2000)
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.where(col("vec_id") < 200)
    def vecOf(id: Long): Seq[Double] = emb.where(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Double](0)
    val initial = HnswSpark.buildResident(base, params, 4)

    val stream = MemoryStream[(Long, String, Long, Option[Seq[Double]])]
    val (query, currentShards) = StreamingOps.streamingIndexRefresh(
      stream.toDF().toDF("seq", "op", "vec_id", "vec"), initial, params)
    try {
      // micro-batch 1: insert 10 new ids; micro-batch 2: delete 5 of
      // them + overwrite id 3 — generations must accumulate across
      // batches exactly like the batch chaining gate
      stream.addData((0 until 10).map(i =>
        (100L + i, "insert", 30000L + i, Some(vecOf(200L + i)))))
      query.processAllAvailable()
      val mid = currentShards().collect()
      assert((0 until 10).forall(i => mid.exists(_.containsId(30000L + i))))

      stream.addData((0 until 5).map(i =>
        (200L + i, "delete", 30000L + i, Option.empty[Seq[Double]])) :+
        (300L, "insert", 3L, Some(vecOf(250L))))
      query.processAllAvailable()

      val queriesDf = emb.where(col("vec_id") >= 450 && col("vec_id") < 458)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(t => (t._1, t._3, t._2)).toSeq
      val served = canon(HnswSpark.searchResident(
        spark, currentShards(), queriesDf, 10, bigEf))
      // ground truth: rebuild over the final fold
      val folded = base.where(col("vec_id") =!= 3L)
        .select(col("vec_id"), col("embedding"))
        .unionByName((5 until 10).map(i => (30000L + i, vecOf(200L + i)))
          .toDF("vec_id", "embedding"))
        .unionByName(Seq((3L, vecOf(250L))).toDF("vec_id", "embedding"))
      val rebuilt = HnswSpark.buildResident(folded, params, 4)
      try assert(served === canon(HnswSpark.searchResident(
        spark, rebuilt, queriesDf, 10, bigEf)))
      finally rebuilt.unpersist(true)
    } finally {
      query.stop()
      currentShards().unpersist(true)
      initial.unpersist(true)
    }
  }

  test("streaming SQ8 serving refresh: compressed generations track the float fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.index.HnswSpark
    val params = HnswSpark.Params(dim = 64)
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.where(col("vec_id") < 200)
    def vecOf(id: Long): Seq[Double] = emb.where(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Double](0)
    val initial = HnswSpark.buildResident(base, params, 4)

    val stream = MemoryStream[(Long, String, Long, Option[Seq[Double]])]
    val (query, servingSq8) = StreamingOps.streamingSq8IndexRefresh(
      stream.toDF().toDF("seq", "op", "vec_id", "vec"), initial, params)
    try {
      stream.addData((0 until 10).map(i =>
        (100L + i, "insert", 40000L + i, Some(vecOf(300L + i)))))
      query.processAllAvailable()
      assert((0 until 10).forall(i =>
        servingSq8().map(_.size).sum() > 0 &&
          servingSq8().collect().exists(
            _.search(vecOf(300L + i).toArray, 1, Some(2000))
              .exists(_._1 == 40000L + i))),
        "inserted ids must be findable in the compressed serving copy")

      stream.addData(Seq(
        (200L, "delete", 40000L + 0, Option.empty[Seq[Double]])))
      query.processAllAvailable()

      // exhaustive-ef + corpus-covering exact rerank over the SERVING
      // copy equals exact kNN over the folded corpus (the hnsw_sq8_knn
      // argument, here across two streamed generations)
      val folded = base.select(col("vec_id"), col("embedding"))
        .unionByName((1 until 10).map(i =>
          (40000L + i, vecOf(300L + i))).toDF("vec_id", "embedding"))
        .persist()
      val queriesDf = emb.where(col("vec_id") >= 450 && col("vec_id") < 455)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val served = HnswSpark.searchResidentRerank(
        spark, servingSq8(), folded, queriesDf, k = 10, candFactor = 50,
        ef = Some(60000))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
      val exact = graft.operators.Knn.knnBatch(folded, queriesDf, 10,
        graft.functions.VectorFunctions.cosine)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3).toInt)).toSet
      assert(served == exact)
      folded.unpersist(blocking = false)
    } finally {
      query.stop()
      servingSq8().unpersist(true)
      initial.unpersist(true)
    }
  }
}
