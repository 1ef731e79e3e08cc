package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's ingest path — replacing the
  * reference's request-at-a-time REST ingest + Raft replication
  * (reference api/rest/server.py:136-157, distributed/raft/node.py) with
  * the durable-ordered-mutation semantics Spark gives natively:
  * a streaming mutation log folded into state, and watermarked windowed
  * aggregates (the streaming twin of Relational.hourlyEvents).
  *
  * Batch/stream parity: the same DataFrame expressions run in both modes —
  * that is the point of Structured Streaming, and the specs assert the
  * streaming outputs match the batch operator on the same data.
  */
object StreamingOps {

  /** One mutation command, the streaming analog of the reference's
    * apply_command dicts (distributed_server.py:95-121).
    */
  case class Mutation(seq: Long, op: String, vec_id: Long, label: Option[Int])

  /** Current visible row for an id after folding its mutations. */
  case class VisibleRow(vec_id: Long, label: Int, lastSeq: Long)

  /** Watermarked hourly tumbling-window aggregate over a streaming events
    * frame (ts TIMESTAMP, event_type STRING, value DOUBLE). 10-minute
    * watermark bounds state; late rows beyond it are dropped — semantics
    * the reference simply cannot express (SURVEY §2.5: no streaming).
    */
  def hourlyEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Stateful mutation fold: per vec_id, keep the highest-seq command;
    * delete clears state. Emits the current visible row on every update
    * (Update output mode). Same last-writer-wins contract as the batch
    * Mutations.apply, held in mapGroupsWithState instead of a window.
    */
  def foldMutations(spark: SparkSession, mutations: Dataset[Mutation]): Dataset[VisibleRow] = {
    import spark.implicits._
    mutations
      .groupByKey(_.vec_id)
      .mapGroupsWithState[Mutation, VisibleRow](GroupStateTimeout.NoTimeout) {
        (id: Long, cmds: Iterator[Mutation], state: GroupState[Mutation]) =>
          val latestNew = cmds.maxBy(_.seq)
          val winner = state.getOption match {
            case Some(old) if old.seq > latestNew.seq => old
            case _ => latestNew
          }
          state.update(winner)
          if (winner.op == "insert")
            VisibleRow(id, winner.label.getOrElse(0), winner.seq)
          else
            VisibleRow(id, -1, winner.seq) // tombstone marker row
      }
  }

  /** The ONLINE-INGEST SERVING LOOP — the reference's replicated write
    * path (A7) landing in the serving index (A1) without ever rebuilding:
    * a STREAM of mutation rows (seq, op, vec_id, vec) is applied to
    * executor-resident HNSW shards once per micro-batch through
    * [[graft.index.HnswSpark.refreshResident]]. Each batch routes by the
    * build's partitioner and copies only touched shards; the previous
    * generation is unpersisted AFTER the swap (non-blocking — an
    * in-flight probe holding the old handle finishes against cache or
    * replays, it never sees a half-applied batch). Chained-refresh
    * equivalence (batch-after-batch ≡ one combined batch ≡ rebuild of
    * the final fold) is HnswRefreshSpec-gated, so the served index is
    * always SOME consistent fold prefix of the log.
    *
    * Returns the started query and a getter for the CURRENT shard
    * generation — serve each probe through a fresh `currentShards()`
    * call. Caller owns both lifetimes: stop the query, then unpersist
    * the final generation.
    */
  def streamingIndexRefresh(
      mutations: DataFrame, // streaming (seq LONG, op, vec_id LONG, vec)
      initial: org.apache.spark.rdd.RDD[graft.index.HnswIndex],
      params: graft.index.HnswSpark.Params)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         () => org.apache.spark.rdd.RDD[graft.index.HnswIndex]) = {
    val current = new java.util.concurrent.atomic.AtomicReference(initial)
    val query = mutations.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val prev = current.get()
        val next = graft.index.HnswSpark.refreshResident(prev, batch, params)
        current.set(next)
        if (prev ne initial) prev.unpersist(blocking = false)
        () // the overload wants (Dataset[Row], Long) => Unit
      }
      .start()
    (query, () => current.get())
  }

  /** SQ8-SERVING twin of [[streamingIndexRefresh]] — the DiskANN
    * composition made streaming: each micro-batch refreshes the FLOAT
    * shards (refresh must see full precision — inserts re-link against
    * true distances), then republishes an SQ8-compressed SERVING copy
    * and releases the previous generation's. The two artifacts have
    * different roles and storage levels by design: the float shards are
    * the REFRESH state (MEMORY_AND_DISK — they may spill between
    * micro-batches without hurting serving), the sq8 shards are the
    * hot SERVING copy at ~7× smaller vector payload. Per-generation
    * exhaustive-ef parity vs the float path is StreamingSpec-gated.
    *
    * Returns the started query and a getter for the CURRENT serving
    * shards; caller owns both lifetimes.
    */
  def streamingSq8IndexRefresh(
      mutations: DataFrame, // streaming (seq LONG, op, vec_id LONG, vec)
      initial: org.apache.spark.rdd.RDD[graft.index.HnswIndex],
      params: graft.index.HnswSpark.Params)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         () => org.apache.spark.rdd.RDD[graft.index.HnswSq8Index]) = {
    val sq80 = graft.index.HnswSpark.compressResident(initial)
    val current = new java.util.concurrent.atomic.AtomicReference(
      (initial, sq80))
    val query = mutations.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (prevFull, prevSq8) = current.get()
        val nextFull = graft.index.HnswSpark
          .refreshResident(prevFull, batch, params)
        val nextSq8 = graft.index.HnswSpark.compressResident(nextFull)
        current.set((nextFull, nextSq8))
        if (prevFull ne initial) prevFull.unpersist(blocking = false)
        // the sq8 copies are created HERE (incl. generation 0), so the
        // loop owns every retired one — unconditional release
        prevSq8.unpersist(blocking = false)
        ()
      }
      .start()
    (query, () => current.get()._2)
  }

  /** The GRAPH-artifact twin of [[streamingIndexRefresh]] — ingest
    * without rebuild for the kNN graph that five analytics keys share:
    * a stream of corpus mutations (op ∈ add|delete, vec_id, vec; an
    * `add` for an existing id replaces it) is handed to
    * [[graft.operators.Ivf.knnGraphRefresh]] once per micro-batch as
    * its (adds, deletes) — merge-path for untouched srcs, full
    * recompute only where the delta's in-degree lands (rebuild-parity
    * is spec- AND oracle-gated). The folded corpus is kept only for the
    * refresh's rebuild fallback (a delta on a centroid id or over 10%
    * of the corpus); it is localCheckpoint-ed (the micro-batch source
    * is only valid inside its batch — lineage must not reach back into
    * it) and the previous generation's frames unpersist AFTER the swap,
    * the refreshResident discipline.
    *
    * Each generation's artifacts are localCheckpoint-ed, not merely
    * persisted: the refresh's output plans NEST the previous
    * generation's plans, and without truncation analysis/optimization
    * cost grows per generation (measured: gen 9.2 s → 9.6 s → 51.4 s
    * by generation three at 20k; checkpointing flattens it). After the
    * checkpoint the loop calls `CacheTracker.releaseAll()` to free the
    * refresh's transient internal caches — the served state lives in
    * checkpoint blocks outside the tracker — so run the loop in its
    * own session if other registered-cache consumers are active.
    *
    * Returns the started query and a getter for the CURRENT state;
    * read edges through a fresh `currentState()` call. Caller owns
    * both lifetimes.
    */
  def streamingGraphRefresh(
      mutations: DataFrame, // streaming (op STRING, vec_id LONG, vec ARRAY<DOUBLE>)
      initialEmb: DataFrame, // batch (vec_id, embedding)
      k: Int,
      nCentroids: Int,
      nProbe: Int)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         () => graft.operators.Ivf.KnnGraphState) = {
    val st0 = graft.operators.Ivf
      .knnGraphBuild(initialEmb, k, nCentroids, nProbe)
    val pinned0 = graft.operators.Ivf.KnnGraphState(
      st0.ranked.localCheckpoint(true), st0.edges.localCheckpoint(true))
    graft.CacheTracker.releaseAll() // build internals; state is checkpointed
    val current = new java.util.concurrent.atomic.AtomicReference(
      (initialEmb, pinned0))
    val query = mutations.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (prevCorpus, prevState) = current.get()
        val touched = batch.select(col("vec_id").cast("long").as("vec_id"))
          .distinct()
        val adds = batch.where(col("op") === "add")
          .select(col("vec_id").cast("long").as("vec_id"),
            col("vec").cast("array<double>").as("embedding"))
        val deletes = batch.where(col("op") === "delete")
          .select(col("vec_id").cast("long").as("vec_id"))
        // deletes-then-adds: one anti-join on every touched id, then
        // the adds land — a same-batch (delete, add) or a bare re-add
        // both resolve to replacement, as in the refresh's delta
        val next = prevCorpus
          .join(broadcast(touched), Seq("vec_id"), "left_anti")
          .unionByName(adds)
          .localCheckpoint(true)
        val nextState = graft.operators.Ivf
          .knnGraphRefresh(prevState, adds, deletes, k, nCentroids, nProbe)
          .map(_.state)
          .getOrElse(graft.operators.Ivf
            .knnGraphBuild(next, k, nCentroids, nProbe))
        // an empty micro-batch (or a no-op delta) returns the base state
        // ITSELF — nothing to pin or swap, but the folded corpus was
        // already checkpointed above and must not leak one corpus copy
        // per idle batch
        if (nextState.edges ne prevState.edges) {
          // checkpoint = eager materialization + PLAN TRUNCATION: the
          // next generation's refresh sees two leaf frames, not the
          // whole ancestry (without this, per-generation cost grew
          // super-linearly through plan nesting)
          val pinned = graft.operators.Ivf.KnnGraphState(
            nextState.ranked.localCheckpoint(true),
            nextState.edges.localCheckpoint(true))
          current.set((next, pinned))
          // the refresh's internal caches (the adds' ranked rows, the
          // recomputed and merged edge rows) are transient per
          // generation — the served state is checkpoint-backed outside
          // the tracker
          graft.CacheTracker.releaseAll()
          // previous generation's checkpoint blocks, not just its (absent)
          // query cache — Dataset.unpersist left one dead corpus-sized
          // block per generation to the ContextCleaner (non-blocking: an
          // in-flight probe holding the old handle finishes first)
          Bridge.releaseCheckpoint(prevState.edges)
          Bridge.releaseCheckpoint(prevState.ranked)
          if (prevCorpus ne initialEmb) Bridge.releaseCheckpoint(prevCorpus)
        } else {
          graft.CacheTracker.releaseAll() // the refresh's transient caches
          Bridge.releaseCheckpoint(next)
        }
        ()
      }
      .start()
    (query, () => current.get()._2)
  }

  /** Streaming k-means assignment — the live-ingest twin of
    * [[graft.operators.Kmeans.assignFace]]: a TRAINED integer-exact
    * model (bounded k·dim longs) rides the plan as a literal and every
    * micro-batch row routes to its cell through the same codegen'd
    * argmin — map-only, stateless, append mode, EXACT batch parity by
    * construction (same quantization, argmin, tie rule; spec-gated).
    * Train offline, route the ingest stream forever — the shard/
    * bucket-routing primitive in front of per-cell sinks.
    */
  def streamingKmeansAssign(
      vecs: DataFrame, // streaming (vec_id, embedding)
      model: graft.operators.Kmeans.Model): DataFrame = {
    val (cent, sq) = graft.operators.Kmeans
      .assignColumns(model, col("embedding"))
    vecs.select(col("vec_id").cast("long").as("vec_id"),
      cent.as("cent_id"), sq.as("sqdist_micro"))
  }

  /** Streaming ANN serving: a stream of query vectors probed against the
    * broadcast HNSW sub-indexes, micro-batch at a time — the closest Spark
    * gets to the reference's online `POST /search` (BASELINE.json notes
    * Spark "cannot serve online ANN queries"; micro-batch serving with a
    * broadcast index is the honest approximation, with latency = trigger
    * interval + ~ms probe). The same searchAll code path as batch, so
    * results match `HnswSpark.searchDf` row for row.
    */
  def servingKnn(
      spark: SparkSession,
      bc: org.apache.spark.broadcast.Broadcast[Array[graft.index.HnswIndex]],
      queries: DataFrame, // streaming (query_id LONG, qv ARRAY<DOUBLE>)
      k: Int): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    queries
      .selectExpr("CAST(query_id AS LONG) query_id", "CAST(qv AS ARRAY<DOUBLE>) qv")
      .as[(Long, Seq[Double])]
      .flatMap { case (qid, qv) =>
        graft.index.HnswSpark.searchAll(bc.value.toSeq, qv.toArray, k)
          .map { case (id, d) => (qid, id, graft.index.HnswSpark.roundDist6(d)) }
      }
  }

  /** Streaming twin of [[graft.operators.TrainingPipeline.mixtureExecute]]
    * — the quality-gate-before-landing pattern applied to the mixture:
    * a live ingest stream keeps each document iff its integer md5 draw
    * clears the plan's keep fraction for the document's source. The
    * draw is a pure function of (doc_id, plan), so the kept set is
    * IDENTICAL to the batch executor's for the same plan, regardless
    * of micro-batch boundaries (parity spec-gated) — and membership is
    * append-stable: a doc admitted live is exactly the doc a later
    * batch re-run would admit.
    *
    * The plan rides in the task closure as a when-chain over the
    * bounded source cardinality (use
    * [[graft.operators.TrainingPipeline.planKeepFractions]] to lift a
    * computed plan frame); sources absent from the plan keep nothing,
    * matching the batch join's weight-0 semantics. Stateless map-only
    * filter: no shuffle, no state store, any output mode.
    */
  def streamingMixtureExecute(
      docs: DataFrame, // streaming; needs doc_id + source columns
      keepFractionMicro: Map[String, Long]): DataFrame = {
    require(keepFractionMicro.values.forall(m => m >= 0L && m <= 1000000L),
      "keep fractions must be micro-units in [0, 1e6]")
    val keepCol = keepFractionMicro.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), lit(0L))) {
        case (acc, (s, m)) => acc.when(col("source") === s, lit(m))
      }.otherwise(lit(0L))
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    docs.where(draw * lit(1000000L) < keepCol * lit(4294967296L))
  }

  /** Streaming per-document LM quality — the live-ingest twin of
    * [[graft.operators.UnigramLm.docQualityWithModel]]: the fixed
    * (piece, score) model rides the task closure (bounded) and every
    * document scores map-only — no word-vocabulary join (a micro-batch
    * has no vocabulary worth deduplicating against), no shuffle, no
    * state — so a quality filter can gate ingest BEFORE anything lands.
    * Same Viterbi, same micro-nat integer sums, same floor/UNK rules;
    * documents with zero scoreable tokens emit nothing (the batch
    * face's groupBy contract). StreamingSpec gates row parity across
    * micro-batch boundaries.
    */
  def streamingDocQuality(
      docs: DataFrame, model: Seq[(String, Double)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(model.nonEmpty, "model must have at least one piece")
    val lp = model.toMap
    require(lp.size == model.size, "duplicate pieces in model")
    val floor = model.map(_._2).min - 10.0
    val scoreMicro = model
      .map { case (p, s) => p -> math.round(s * 1e6) }.toMap
    val floorMicro = math.round(floor * 1e6)
    docs
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        var n = 0L; var unk = 0L; var tot = 0L
        text.split(" ").iterator.filter(_.nonEmpty).foreach { w =>
          graft.operators.UnigramLm.viterbi(w, lp, floor).foreach { piece =>
            n += 1
            scoreMicro.get(piece) match {
              case Some(m) => tot += m
              case None => tot += floorMicro; unk += 1
            }
          }
        }
        if (n == 0) Iterator.empty
        else Iterator.single((id, n, unk, tot, (-tot) / n))
      }
      .toDF("doc_id", "n_pieces", "n_unk", "total_logp_micro",
        "mean_neg_logp_micro")
  }

  /** Micro-batches of more queries than this take the join-shaped bulk
    * face in [[streamingResidualPqServe]]; smaller ones take the
    * leg-shaped batch face.
    */
  final val ResidualPqServeBulkQueries = 32L

  /** Streaming ANN over the persisted residual-PQ layout — the
    * compressed-serving twin of the broadcast-HNSW `servingKnn`: query
    * vectors stream in, every micro-batch is answered against the
    * 16×-compressed codes with the model read ONCE at start (bounded
    * driver state), each probe still pruning unprobed cell directories
    * via its `cent_id IN (...)` partition filter, and full vectors
    * touched only for the k·candFactor rerank ids. Answers per
    * micro-batch are EXACTLY the batch face's rows (the same
    * `residualAdcKnnBatchFrom` call — parity by construction,
    * StreamingSpec-gated across micro-batch boundaries).
    */
  def streamingResidualPqServe(
      queries: DataFrame, // streaming (query_id, qv)
      layoutPath: String,
      emb: DataFrame,
      nProbe: Int,
      k: Int,
      candFactor: Int,
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = queries.sparkSession
    val rm = graft.operators.ProductQuantization
      .readResidualModel(spark, layoutPath)
    val codes = spark.read.parquet(s"$layoutPath/cells")
    queries.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // small interactive batches take the leg face (per-query cell
        // pruning); bursts above the constant take the join-shaped
        // bulk face whose plan size is batch-independent — identical
        // rows either way (spec-gated)
        val answer =
          if (batch.count() > ResidualPqServeBulkQueries)
            graft.operators.ProductQuantization.residualAdcKnnBulk(
              emb, codes, rm, batch, nProbe, k, candFactor)
          else
            graft.operators.ProductQuantization.residualAdcKnnBatchFrom(
              emb, codes, rm, batch, nProbe, k, candFactor)
        sink(answer, bid)
      }
      .start()
  }

  /** Streaming DSIR scoring: weight every ingested document under a
    * FIXED trained (bucket → log-ratio) model — the data-selection
    * quality gate applied at ingest instead of in a later batch sweep.
    * A document's weight needs only its OWN n-grams, so the face is a
    * pure per-row flatMap with the B-entry model in the task closure:
    * no shuffle, no state, append mode, unbounded.
    *
    * Parity discipline (StreamingSpec-gated): the closure replays the
    * batch face's GROUPED form — the same whitespace split
    * (`split(" ", -1)`, Spark's `split` keeps empty tokens), the same
    * space-joined bigrams, the same md5-first-8-hex bucket, and then
    * per-bucket counts summed as c_b * lr_b (the batch face's
    * sum(c * lr) addend set, not one lr per token occurrence) before
    * the same HALF_UP-at-6-decimals rounding. Residual parity is
    * round-stable, not bit-exact: Spark's partial aggregation may add
    * the identical c_b * lr_b addends in a different order, so a logw
    * sitting within ~1 ulp of a rounding boundary could still differ —
    * with identical addend sets that window is ~1e-16-relative, far
    * inside the 6-decimal round.
    */
  def streamingDsirScore(
      docs: DataFrame, // streaming (doc_id, text)
      lrModel: Map[Long, Double],
      buckets: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(lrModel.size == buckets,
      s"model must cover every bucket: ${lrModel.size} of $buckets")
    docs
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.split(" ", -1)
        val md = java.security.MessageDigest.getInstance("MD5")
        def bucketOf(g: String): Long = {
          val h = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
            ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
          u % buckets
        }
        var n = 0L
        val counts = scala.collection.mutable.LongMap.empty[Long]
        def add(g: String): Unit = {
          n += 1
          val bkt = bucketOf(g)
          counts.update(bkt, counts.getOrElse(bkt, 0L) + 1L)
        }
        toks.foreach(add)
        var i = 0
        while (i + 1 < toks.length) {
          add(toks(i) + " " + toks(i + 1)); i += 1
        }
        // sum c_b * lr_b in fixed ascending-bucket order — the batch
        // face's grouped addends, so parity holds to FP-order noise
        var w = 0.0
        counts.keys.toArray.sorted.foreach(b => w += counts(b) * lrModel(b))
        val logw = BigDecimal(w)
          .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, n, logw)
      }
      .toDF("doc_id", "n_feats", "logw")
  }

  /** Streaming unigram tokenization — the live-ingest twin of
    * [[graft.operators.UnigramLm.encodeCorpus]]: a trained piece
    * inventory (bounded by construction: vocabSize + alphabet) rides the
    * task closure and Viterbi-encodes every token of each micro-batch
    * MAP-ONLY — no state, no shuffle, plain append mode, so the operator
    * runs at scan speed on an unbounded stream. Learn offline on the
    * corpus, apply forever on the ingest path. Same per-word DP and the
    * same dense piece-id rank as the batch encoder, so outputs match the
    * batch operator row for row (StreamingSpec parity gate).
    */
  def streamingTokenize(
      docs: DataFrame, pieces: Map[String, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val enc = graft.operators.UnigramLm.tokenEncoder(pieces)
    docs
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
      .as[(Long, Int, String)]
      .flatMap { case (docId, pos, word) =>
        enc(word).iterator.zipWithIndex.map { case ((piece, pieceId), spos) =>
          (docId, pos, spos, piece, pieceId)
        }
      }
      .toDF("doc_id", "pos", "spos", "piece", "piece_id")
  }

  /** Streaming BPE tokenization — [[streamingTokenize]]'s twin for the
    * merge-list tokenizer: the learned merges (≤ k by construction) AND
    * the trained subword-id table ([[graft.operators.Bpe.subwordIds]],
    * bounded at |alphabet| + 1 + k rows by construction) ride the task
    * closure; each token encodes by [[graft.operators.Bpe.encodeWord]]
    * map-only, ids look up from the closure map with OOV → 0 (the
    * [[graft.operators.UnigramLm.tokenEncoder]] contract). Train
    * offline, apply forever: the stream is a drop-in twin of the batch
    * encoder's (doc_id, pos, spos, subword, subword_id) output,
    * StreamingSpec-gated row for row INCLUDING ids across micro-batch
    * boundaries.
    */
  def streamingBpeTokenize(
      docs: DataFrame, merges: Seq[(String, String)],
      subwordIds: Map[String, Long] = Map.empty): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
      .as[(Long, Int, String)]
      .flatMap { case (docId, pos, word) =>
        graft.operators.Bpe.encodeWord(word, merges)
          .iterator.zipWithIndex.map { case (sub, spos) =>
            (docId, pos, spos, sub, subwordIds.getOrElse(sub, 0L))
          }
      }
      .toDF("doc_id", "pos", "spos", "subword", "subword_id")
  }

  /** Streaming WordPiece tokenization — the greedy-longest-match third
    * face next to [[streamingTokenize]] (Unigram) and
    * [[streamingBpeTokenize]]: the piece vocabulary and the trained id
    * table ride the task closure (both bounded), per-token
    * encodeWordGreedy, MAP-ONLY — no state, no shuffle, append mode.
    * OOV pieces (including [UNK] when it never appeared in the training
    * corpus) get id 0 — the shared streaming-id contract.
    */
  def streamingWordpieceTokenize(
      docs: DataFrame, vocab: Seq[String],
      subwordIds: Map[String, Long] = Map.empty): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocabSet = vocab.toSet
    docs
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
      .as[(Long, Int, String)]
      .flatMap { case (docId, pos, word) =>
        graft.operators.WordPiece.encodeWordGreedy(word, vocabSet)
          .iterator.zipWithIndex.map { case (sub, spos) =>
            (docId, pos, spos, sub, subwordIds.getOrElse(sub, 0L))
          }
      }
      .toDF("doc_id", "pos", "spos", "subword", "subword_id")
  }

  /** Streaming rolling per-user activity — the live twin of
    * [[graft.operators.Relational.rollingUserActivityOf]]: for each
    * event, the same user's strictly-prior-window count and value sum
    * (rate-limit/anomaly features at ingest time, where they are
    * actually enforced). Keyed state per user holds only the
    * (ts_us, value) pairs inside the trailing window — evicted on every
    * visit, so state is bounded by per-user event rate × window, never
    * history.
    *
    * Ordering contract (the streamingDedup family's): within a
    * micro-batch, a user's events process in (ts_us, event_id) order, so
    * ONE in-order batch reproduces the batch RANGE frame exactly
    * (spec-gated row for row), and cross-batch the features reflect all
    * previously-arrived in-window events. Same-timestamp peers exclude
    * each other in BOTH directions only when the batch twin does — the
    * strictly-prior (≤ ts−1µs) bound is shared; here a same-ts peer
    * processed earlier in the SAME batch is also excluded by that bound.
    * The rounding is the batch twin's exact round(·, 4) BigDecimal path.
    */
  def streamingRollingActivity(
      spark: SparkSession,
      events: DataFrame, // streaming (event_id, user_id, ts, value)
      windowMicros: Long = 3600L * 1000000L): DataFrame = {
    import spark.implicits._
    events
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        unix_micros(col("ts")).as("ts_us"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[List[(Long, Double)], (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[List[(Long, Double)]]) =>
          var buf = state.getOption.getOrElse(Nil)
          val out = rows.toSeq.sortBy(r => (r._3, r._1)).map {
            case (eid, _, ts, v) =>
              // ascending-ts sum order mirrors the batch frame's sort
              val live = buf
                .filter(p => p._1 >= ts - windowMicros && p._1 <= ts - 1)
                .sortBy(_._1)
              val s = live.map(_._2).sum
              val rounded = java.math.BigDecimal.valueOf(s)
                .setScale(4, java.math.RoundingMode.HALF_UP)
                .doubleValue() + 0.0
              buf = (ts, v) :: buf.filter(_._1 >= ts - windowMicros)
              (eid, user, live.size.toLong, rounded)
          }
          state.update(buf)
          out.iterator
      }
      .toDF("event_id", "user_id", "n_prev_hour", "value_prev_hour")
  }

  /** One buffered event awaiting (or retained after) feature emission. */
  case class RollingEvent(
      eventId: Long, tsUs: Long, value: Double, emitted: Boolean)

  /** EVENT-TIME streaming rolling features —
    * [[streamingRollingActivity]] made ARRIVAL-ORDER INDEPENDENT under
    * bounded disorder, the same contract shape as the event-time dedup
    * family: an event's features emit only once the watermark passes its
    * event time, the point after which any not-yet-arrived event would
    * be watermark-late and dropped at the source — so every
    * strictly-prior in-window event has provably arrived, and with
    * disorder bounded by the delay the output equals the batch RANGE
    * frame for ANY arrival order (spec-gated with shuffled arrivals).
    * Same-event-time peers stay mutually excluded by the strictly-prior
    * bound, so a peer arriving after emission cannot change anything.
    *
    * The price is the family's usual one: emission latency of one
    * watermark delay, and state per user of the trailing-window event
    * buffer PLUS events still pending emission. Emitted events evict as
    * soon as no pending or future event's window can reach them.
    */
  def streamingRollingActivityEventTime(
      spark: SparkSession,
      events: DataFrame, // streaming (event_id, user_id, ts, value)
      delaySeconds: Int = 600,
      windowMicros: Long = 3600L * 1000000L): DataFrame = {
    import spark.implicits._
    events
      .withWatermark("ts", s"$delaySeconds seconds")
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts"), col("value").cast("double"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[List[RollingEvent], (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Double)],
            state: GroupState[List[RollingEvent]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var buf = state.getOption.getOrElse(Nil)
          if (!state.hasTimedOut) {
            buf = buf ++ rows.map { case (eid, _, ts, v) =>
              val tsUs = ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
              RollingEvent(eid, tsUs, v, emitted = false)
            }
          }
          // emit every pending event the watermark now covers, in
          // deterministic (ts, id) order; features read the FULL buffer
          val ready = buf.filter(e => !e.emitted && e.tsUs <= wmUs)
            .sortBy(e => (e.tsUs, e.eventId))
          val out = ready.map { e =>
            val live = buf
              .filter(h => h.tsUs >= e.tsUs - windowMicros && h.tsUs <= e.tsUs - 1)
              .sortBy(_.tsUs) // the batch frame's ascending sum order
            val s = live.map(_.value).sum
            (e.eventId, user, live.size.toLong,
              java.math.BigDecimal.valueOf(s)
                .setScale(4, java.math.RoundingMode.HALF_UP)
                .doubleValue() + 0.0)
          }
          val readyIds = ready.map(_.eventId).toSet
          buf = buf.map(e =>
            if (readyIds.contains(e.eventId)) e.copy(emitted = true) else e)
          // eviction: an emitted event h can still matter only to events
          // with ts > watermark (future) or pending ones — both have
          // ts ≥ min(pending ts, watermark), so anything older than that
          // bound minus the window is dead
          val pendingTs = buf.filter(!_.emitted).map(_.tsUs)
          val horizon = (pendingTs :+ wmUs).min - windowMicros
          buf = buf.filter(e => !e.emitted || e.tsUs >= horizon)
          if (buf.isEmpty) state.remove()
          else {
            state.update(buf)
            pendingTs.reduceOption(_ min _) match {
              case Some(nextUs) =>
                state.setTimeoutTimestamp(
                  math.max(nextUs / 1000L, state.getCurrentWatermarkMs() + 1))
              case None =>
                // only emitted entries remain (kept as window context for
                // possible future events): without a timeout a user who
                // never sends again would hold this buffer FOREVER — arm
                // one at (max emitted ts + window) so the eviction pass
                // above runs once more, finds horizon past every entry,
                // and state.remove() fires for silent users
                val maxUs = buf.map(_.tsUs).max
                state.setTimeoutTimestamp(
                  math.max((maxUs + windowMicros) / 1000L + 1,
                    state.getCurrentWatermarkMs() + 1))
            }
          }
          out.iterator
      }
      .toDF("event_id", "user_id", "n_prev_hour", "value_prev_hour")
  }

  /** Streaming sessionization — the streaming twin of
    * Relational.userSessions: gap-merge session windows (30-minute
    * inactivity) per user, emitted when the watermark closes the session.
    * session_window merges windows as events arrive, so state per
    * (user, open session) is one window — bounded by the watermark, the
    * property that makes this run forever on an unbounded stream.
    */
  def userSessionsStream(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_epoch"),
        col("n_events"), col("session_value"))

  /** Streaming exact dedup: emit only the FIRST document seen per content
    * fingerprint, across micro-batches — the streaming twin of Dedup.exact
    * (keeper = first arrival rather than min doc_id, the only order a
    * stream can honor). State is one fingerprint per distinct content;
    * flatMapGroupsWithState emits nothing for repeats, so downstream sees
    * an already-deduplicated append stream. At 100 TB-of-stream scale the
    * state store holds only fingerprints (32-char md5), not documents.
    */
  def streamingDedup(
      spark: SparkSession,
      docs: DataFrame): Dataset[(Long, String)] = { // (doc_id, fingerprint)
    import spark.implicits._
    docs
      .select(
        col("doc_id").cast("long"),
        md5(lower(trim(col("text")))).as("fingerprint"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[(Long, String)], seen: GroupState[Boolean]) =>
          if (seen.exists) Iterator.empty
          else {
            seen.update(true)
            // first arrival in this batch: smallest doc_id for determinism
            Iterator.single((rows.minBy(_._1)._1, fp))
          }
      }
  }

  /** Streaming PASSAGE dedup — the streaming twin of
    * Dedup.passageDedup's keeper selection: emit a passage instance only
    * if its text has never been seen across the stream (first arrival
    * wins; within a micro-batch, instances process in (doc_id, pidx)
    * order, so replays are deterministic and ONE in-order batch
    * reproduces the batch operator's min-(doc_id, pidx) keepers exactly —
    * spec-gated). Output: (doc_id, pidx, passage) keeper instances;
    * scrubbed-document reassembly is the consumer's per-doc grouping.
    * State is one boolean per distinct passage text — the same
    * fingerprint discipline as streamingDedup, never documents.
    */
  def streamingPassageDedup(
      spark: SparkSession,
      docs: DataFrame, // streaming (doc_id LONG, text STRING)
      passageTokens: Int): Dataset[(Long, Int, String)] = {
    import spark.implicits._
    docs
      .where(col("text").isNotNull)
      .select(
        col("doc_id").cast("long").as("doc_id"),
        posexplode(graft.operators.Dedup.passagesOf(
          split(col("text"), " "), passageTokens)).as(Seq("pidx", "passage")))
      .as[(Long, Int, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, (Long, Int, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (passage: String, rows: Iterator[(Long, Int, String)],
            seen: GroupState[Boolean]) =>
          if (seen.exists) Iterator.empty
          else {
            seen.update(true)
            Iterator.single(rows.minBy(r => (r._1, r._2)))
          }
      }
  }

  /** Event-time streaming EXACT dedup — [[streamingDedup]] made
    * arrival-order independent under bounded disorder, with the same
    * contract as [[streamingPassageDedupEventTime]]: each distinct
    * fingerprint's keeper is the MIN doc_id among admitted instances,
    * emitted once the watermark passes `earliest event time seen +
    * delay`; with disorder bounded by the delay this equals the batch
    * operator's (Dedup.exact) min-doc_id keepers for any arrival order.
    *
    * STATE LIFECYCLE (why resolved entries stay, and the knob that evicts
    * them): after resolution the entry flips to a `resolved = true`
    * tombstone. IN-CONTRACT stragglers (event time within `delay` of the
    * fingerprint's earliest instance) can never reach it — resolution
    * means the watermark passed `minEvent + delay`, and Spark's
    * flatMapGroupsWithState drops watermark-late input rows BEFORE the
    * state function runs (spec-proved by the no-reemission case), so
    * those rows are filtered at the operator's edge by construction. The
    * tombstone is load-bearing for OUT-OF-CONTRACT duplicates: the same
    * content re-ingested with a FRESH event time (a re-crawl days later)
    * is not watermark-late, and without the tombstone it would seed new
    * state and emit a SECOND keeper for the same fingerprint — silently
    * breaking the emit-once-per-distinct-content invariant. Remembering
    * every distinct fingerprint forever is inherent to exact dedup over
    * an unbounded stream; `resolvedTtlSeconds` is the documented escape
    * hatch: when set, a tombstone is evicted once the watermark passes
    * `resolution + ttl` (state footprint → pending + recent), trading
    * exactness at the TTL boundary — a duplicate arriving after its
    * tombstone's eviction re-emits, exactly like a fresh document.
    */
  def streamingDedupEventTime(
      spark: SparkSession,
      docs: DataFrame, // streaming (doc_id LONG, ts TIMESTAMP, text STRING)
      delaySeconds: Int = 600,
      resolvedTtlSeconds: Option[Int] = None): Dataset[(Long, String)] = {
    import spark.implicits._
    require(resolvedTtlSeconds.forall(_ > 0), "resolvedTtlSeconds must be > 0")
    val delayMs = delaySeconds * 1000L
    val ttlMs = resolvedTtlSeconds.map(_ * 1000L)
    docs
      .withWatermark("ts", s"$delaySeconds seconds")
      .select(
        col("doc_id").cast("long"),
        col("ts"),
        md5(lower(trim(col("text")))).as("fingerprint"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[PassagePending, (Long, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (fp: String, rows: Iterator[(Long, java.sql.Timestamp, String)],
            state: GroupState[PassagePending]) =>
          eventTimeKeeper(delayMs, ttlMs, state,
            rows.map { case (d, ts, _) => (d, 0, ts.getTime) })(
            s => (s.docId, fp))
      }
  }

  /** Pending keeper candidate for one distinct passage: the smallest
    * (doc_id, pidx) instance admitted so far, the earliest event time
    * seen (the resolution clock), and whether the keeper has been
    * emitted (late duplicates after that drop silently).
    */
  case class PassagePending(
      docId: Long, pidx: Int, minEventMs: Long, resolved: Boolean)

  /** The keeper state function both event-time dedups share. Admitted
    * instances (doc_id, pidx, event ms) fold into the smallest
    * (doc_id, pidx) candidate and the earliest event time; once the
    * watermark passes `earliest + delay` the candidate emits and stays as
    * a resolved tombstone, evicted `ttl` of event time later when a TTL
    * is set. The state lifecycle is documented on
    * [[streamingDedupEventTime]].
    */
  private def eventTimeKeeper[O](
      delayMs: Long, ttlMs: Option[Long], state: GroupState[PassagePending],
      instances: Iterator[(Long, Int, Long)])(
      emit: PassagePending => O): Iterator[O] =
    if (state.hasTimedOut) {
      val s = state.get
      if (s.resolved) { // TTL eviction firing on a tombstone
        state.remove()
        Iterator.empty
      } else {
        // resolution point: the candidate is final among admitted rows
        state.update(s.copy(resolved = true))
        ttlMs.foreach(t => // default: no new timeout — tombstone kept
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + t))
        Iterator.single(emit(s))
      }
    } else {
      val cur = state.getOption
      if (cur.exists(_.resolved)) {
        // post-resolution straggler (out-of-contract by construction:
        // in-contract rows are watermark-late and filtered before this
        // function): drop, and re-arm the eviction clock if TTL is on (a
        // function invocation clears any previously set timeout)
        ttlMs.foreach(t =>
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + t))
        Iterator.empty
      } else {
        var best = cur.orNull
        for ((d, p, t) <- instances) {
          best =
            if (best == null) PassagePending(d, p, t, resolved = false)
            else {
              val smaller =
                d < best.docId || (d == best.docId && p < best.pidx)
              PassagePending(
                if (smaller) d else best.docId,
                if (smaller) p else best.pidx,
                math.min(t, best.minEventMs), resolved = false)
            }
        }
        state.update(best)
        // the watermark may already sit past minEvent+delay (the
        // candidate arrived right at the admission edge) — a timeout
        // at/behind the watermark is rejected by Spark, so clamp forward
        // one tick; resolution is still "watermark has passed
        // minEvent+delay"
        state.setTimeoutTimestamp(math.max(
          best.minEventMs + delayMs, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      }
    }

  /** Event-time streaming passage dedup — [[streamingPassageDedup]] made
    * ARRIVAL-ORDER INDEPENDENT under bounded disorder.
    *
    * CONTRACT: each distinct passage's keeper is the min-(doc_id, pidx)
    * instance among every instance ADMITTED by the watermark, emitted
    * only when the event-time watermark passes `earliest event time seen
    * + delay` — the point after which any instance not yet arrived would
    * be older than the watermark and dropped at the source. Therefore if
    * all instances of a passage carry event times within `delay` of each
    * other (disorder bounded by the watermark), the emitted keeper set
    * equals the batch operator's global min-(doc_id, pidx) keepers FOR
    * ANY ARRIVAL ORDER — spec-gated with shuffled arrivals. Instances
    * arriving after resolution (true stragglers beyond the watermark)
    * are duplicates by definition and drop silently.
    *
    * Versus the first-arrival variant: this buys batch parity under
    * disorder at the cost of emission latency (one watermark delay) and
    * state per pending passage of one (doc_id, pidx, ts) candidate —
    * still never document text. Resolved entries retain the same
    * one-entry-per-distinct-passage footprint as the first-arrival
    * variant's boolean.
    *
    * State lifecycle: identical to [[streamingDedupEventTime]] — the
    * resolved tombstone is load-bearing against out-of-contract
    * re-ingests (fresh event times are not watermark-late, so only the
    * tombstone stops a second keeper emission); in-contract stragglers
    * are provably filtered before the state function by the watermark.
    * `resolvedTtlSeconds` evicts tombstones `ttl` of event time after
    * resolution, bounding state at the documented exactness trade.
    */
  def streamingPassageDedupEventTime(
      spark: SparkSession,
      docs: DataFrame, // streaming (doc_id LONG, ts TIMESTAMP, text STRING)
      passageTokens: Int,
      delaySeconds: Int = 600,
      resolvedTtlSeconds: Option[Int] = None): Dataset[(Long, Int, String)] = {
    import spark.implicits._
    require(resolvedTtlSeconds.forall(_ > 0), "resolvedTtlSeconds must be > 0")
    val delayMs = delaySeconds * 1000L
    val ttlMs = resolvedTtlSeconds.map(_ * 1000L)
    docs
      .where(col("text").isNotNull)
      .withWatermark("ts", s"$delaySeconds seconds")
      .select(
        col("doc_id").cast("long").as("doc_id"),
        col("ts"),
        posexplode(graft.operators.Dedup.passagesOf(
          split(col("text"), " "), passageTokens)).as(Seq("pidx", "passage")))
      .as[(Long, java.sql.Timestamp, Int, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[PassagePending, (Long, Int, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (passage: String, rows: Iterator[(Long, java.sql.Timestamp, Int, String)],
            state: GroupState[PassagePending]) =>
          eventTimeKeeper(delayMs, ttlMs, state,
            rows.map { case (d, ts, p, _) => (d, p, ts.getTime) })(
            s => (s.docId, s.pidx, passage))
      }
  }

  /** Streaming SEMANTIC dedup — the streaming twin of
    * SemanticDedup.semanticDedup, with the same state discipline as
    * streamingDedup: emit only the FIRST arrival of each semantic blob.
    *
    * SEMANTICS, precisely: this is GREEDY LEADER dedup — every dropped
    * arrival is within eps of a KEPT leader, a guarantee the batch rule
    * does not give (there a dropped vector's witness may itself be
    * dropped). On mutual-clique duplicate blobs — the near-identical-
    * copy case dedup exists for — the two rules agree, and fed in id
    * order the output matches batch's min-id keepers exactly
    * (spec-gated). On an eps-CHAIN (a–b and b–c within eps, a–c not)
    * they differ BY DESIGN: batch drops c (witness b, itself dropped),
    * greedy keeps c because its only kept leader a is outside eps —
    * also spec-gated, as documented divergence.
    *
    * Vectors assign to the nearest broadcast centroid (same rounded
    * 1 − dot argmin, ties by cent_id); per-centroid state holds the
    * KEPT representatives' normalized vectors, and an arrival within
    * cosine eps of any kept representative in its cluster is silently
    * dropped. Within a micro-batch, arrivals process in vec_id order so
    * replays are deterministic.
    *
    * State contract, stated honestly: the state IS the deduplicated
    * representative set of each cluster (that is what any streaming
    * semantic dedup must remember — unlike fingerprint dedup there is no
    * 32-byte summary of "everything within eps"). Per-arrival cost is a
    * linear scan of its cluster's keepers; nCentroids controls the
    * cluster granularity exactly as in batch. `maxKeepersPerCluster`
    * bounds that state: a cluster whose keeper set exceeds it fails the
    * query LOUDLY (IllegalStateException naming the cluster) instead of
    * degrading to silent executor-memory growth — the fix is more
    * centroids or a batch re-shard, not a bigger heap. For corpus-scale
    * serving, dedup in batch and serve with the resident HNSW instead.
    */
  def streamingSemanticDedup(
      spark: SparkSession,
      vecs: DataFrame, // streaming (vec_id LONG, embedding ARRAY<DOUBLE>)
      centroids: Array[(Long, Array[Double])], // (cent_id, vector), dim-aligned
      eps: Double,
      maxKeepersPerCluster: Int = 100000): Dataset[(Long, Long)] = { // (vec_id, cent_id) keepers
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      centroids.map { case (cid, cv) => (cid, SemMath.normalize(cv)) })
    vecs
      .selectExpr("CAST(vec_id AS LONG) vec_id",
        "CAST(embedding AS ARRAY<DOUBLE>) embedding")
      .as[(Long, Seq[Double])]
      .map { case (id, v) =>
        val nv = SemMath.normalize(v.toArray)
        val cid = bc.value
          .map { case (c, cv) => (SemMath.cosDist6(nv, cv), c) }.min._2
        (cid, id, nv)
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[Array[Double]], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cid: Long, rows: Iterator[(Long, Long, Array[Double])],
            state: GroupState[List[Array[Double]]]) =>
          var kept = state.getOption.getOrElse(Nil)
          var nKept = kept.size
          val out = Seq.newBuilder[(Long, Long)]
          for ((_, id, nv) <- rows.toSeq.sortBy(_._2)) {
            if (!kept.exists(k => SemMath.cosDist6(k, nv) <= eps)) {
              if (nKept >= maxKeepersPerCluster)
                throw new IllegalStateException(
                  s"streamingSemanticDedup: cluster $cid exceeded " +
                    s"maxKeepersPerCluster=$maxKeepersPerCluster keepers; " +
                    "raise nCentroids (finer clusters) or dedup this corpus in batch")
              kept = nv :: kept
              nKept += 1
              out += ((id, cid))
            }
          }
          state.update(kept)
          out.result().iterator
      }
  }

  /** The batch operators' exact arithmetic (left-to-right sums, rounded
    * distances) for the streaming dedup's driver/executor-side math —
    * mirrors ArrayDotProduct / ArrayL2Normalize / roundDist semantics.
    */
  private[graft] object SemMath {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(dot(v, v))
      if (n == 0.0) v else v.map(_ / n)
    }
    /** 1 − dot on unit vectors, rounded to 6 decimals (HALF_UP), matching
      * VectorFunctions.roundDist(1 − graft_dot).
      */
    def cosDist6(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(1.0 - dot(a, b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
  }

  /** File-sink ingest: append mutation batches to a parquet log directory.
    * foreachBatch = the "commit" point (≙ the reference acking only after
    * durable majority commit, node.py:280-296 — here durability is the
    * files, ordering is the seq column).
    */
  def logIngest(mutations: DataFrame, logDir: String, checkpointDir: String) =
    mutations.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", logDir)
      .option("checkpointLocation", checkpointDir)
}
