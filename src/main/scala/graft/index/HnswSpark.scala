package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions

/** Distributed HNSW: partitioned build + broadcast probe.
  *
  * The reference is a single-process index capped at 1e6 vectors
  * (reference core/hnsw/graph.py:54, :129-130). The Spark design removes the
  * cap by sharding: each partition builds an independent sub-index over its
  * rows (`mapPartitions`, embarrassingly parallel, no shuffle beyond the
  * initial repartition), and a query probes every sub-index and merges the
  * per-shard top-k — the same union → sort → limit shape Spark's
  * TakeOrderedAndProject uses. Probing all shards with the same ef keeps
  * recall at least as high as one big index probed once.
  *
  * Two serving shapes, same results:
  *  - BROADCAST (`build` + `searchDf`): sub-indexes collected to the driver
  *    and broadcast. Right when the serving corpus fits a broadcast
  *    (≤ ~1 GB); the probe is then a narrow map over query rows.
  *  - EXECUTOR-RESIDENT (`buildResident` + `searchResident`): sub-indexes
  *    are built AND stay cached on executors as an `RDD[HnswIndex]` — the
  *    index never passes through the driver, so corpus size is bounded by
  *    cluster memory, not driver memory. The small side (the query set)
  *    broadcasts instead; each shard emits its local top-k and the global
  *    merge is the map-side-combined TopKByDistance aggregate, so the
  *    shuffle carries ≤ k rows per (query, shard). This inverts the
  *    broadcast direction exactly the way a 100 TB corpus demands.
  * Build is O(N log N / P) per partition with zero cross-partition traffic.
  */
object HnswSpark {

  final case class Params(
      dim: Int,
      m: Int = 16,
      efConstruction: Int = 200,
      efSearch: Int = 50,
      metric: String = "cosine")

  /** Build one sub-index per partition. Input df must have (idCol: LONG,
    * vecCol: ARRAY<DOUBLE>). Returns the sub-indexes (one per non-empty
    * partition).
    */
  def build(
      df: DataFrame,
      params: Params,
      numPartitions: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[HnswIndex] =
    buildShards(df, params, numPartitions, idCol, vecCol).collect()

  /** The per-partition construction both builds share. */
  private def buildShards(
      df: DataFrame,
      params: Params,
      numPartitions: Int,
      idCol: String,
      vecCol: String): RDD[HnswIndex] =
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .repartition(numPartitions, col(idCol))
      // insertion order drives the per-insert random level draws, and
      // Spark does NOT contractually fix within-partition row order after
      // a shuffle — sort so the shard graph is a function of the DATA,
      // not of shuffle internals (keeps rebuilds and the resident twin
      // bit-identical; and an eviction-triggered partition replay
      // rebuilds the SAME graph, closing the nondeterminism window the
      // resident build's AND_DISK level narrows)
      .sortWithinPartitions(col(idCol))
      .rdd
      .mapPartitionsWithIndex { (pid, rows) =>
        val idx = new HnswIndex(
          params.dim, params.m, params.efConstruction, params.efSearch,
          params.metric, seed = 42L + pid)
        rows.foreach { r =>
          val vec = r.getSeq[Double](1).toArray
          idx.insert(r.getLong(0), vec)
        }
        if (idx.size > 0) Iterator.single(idx) else Iterator.empty
      }

  /** Persist at MEMORY_AND_DISK and materialize once (`count()`), so
    * every later probe reuses the built artifact.
    */
  private def materialized[T](rdd: RDD[T]): RDD[T] = {
    val cached = rdd.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    cached
  }

  /** Executor-resident build: same per-partition construction as `build`,
    * but the sub-indexes are cached WHERE THEY WERE BUILT (an
    * `RDD[HnswIndex]`, one element per non-empty partition) instead of
    * being collected to the driver. `count()` materializes the cache once
    * so every subsequent probe reuses the built shards. At 400× fixture
    * scale this removes the ~800 MB driver collect that dominated the
    * broadcast build (measured in Soak).
    */
  def buildResident(
      df: DataFrame,
      params: Params,
      numPartitions: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): RDD[HnswIndex] =
    // AND_DISK, not MEMORY_ONLY: if a shard block were evicted it would
    // be REBUILT by replaying its partition, and the within-partition
    // row order after a shuffle is not deterministic — the rebuilt graph
    // (random levels drawn per insert order) could differ from what was
    // already served or persisted. Spilling to disk preserves the built
    // artifact instead of re-deriving it.
    //
    // NOT registered with CacheTracker: a blanket releaseAll() evicting a
    // SERVING index would trigger exactly the nondeterministic shuffle
    // replay the AND_DISK level exists to prevent — subsequent probes
    // would silently serve a different graph. The index is a long-lived
    // artifact; its lifetime belongs to the caller (unpersist the
    // returned handle when done).
    materialized(buildShards(df, params, numPartitions, idCol, vecCol))

  /** Probe executor-resident shards in place: broadcast the QUERY SET (the
    * small side), per-shard local top-k with unrounded distances, bounded
    * global merge keyed by INPUT ROW index (a query_id appearing twice
    * keeps its per-row cardinality), round after the merge — row-identical
    * to the broadcast path (`searchDf`), gated by HnswResidentSpec.
    * Served through the planner-integrated Catalyst operator
    * (plans.HnswResidentProbePlan / HnswResidentProbeExec) so the 100 TB
    * serving shape is the same first-class plan node as the broadcast
    * shape. Output: (query_id, vec_id, distance), same schema as searchDf.
    */
  def searchResident(
      spark: SparkSession,
      shards: RDD[HnswIndex],
      queries: DataFrame, // (query_id LONG, qv ARRAY<DOUBLE>)
      k: Int,
      ef: Option[Int] = None): DataFrame = {
    graft.plans.GraftExtensions.install(spark) // idempotent strategy hook
    graft.plans.HnswProbe.resident(
      queries.select(
        col("query_id").cast("long"), col("qv").cast("array<double>")),
      shards, k, ef)
      .select(col("query_id"), col("vec_id"), col("distance"))
  }

  /** Predicate-filtered resident probe — the canonical vector-DB serving
    * feature the reference's post-hoc metadata join only approximates:
    * each shard runs the in-traversal filtered beam search
    * (HnswIndex.searchFiltered — the pool keeps expanding until it holds
    * ef PASSING nodes, so no caller-side oversample/refill loop), and the
    * merge is the same bounded per-(query, shard) top-k as searchResident.
    * `allow` must be a serializable pure function of the external id: a
    * closed-form predicate costs nothing; an id ALLOW-LIST should come
    * from [[broadcastAllowList]] (broadcast-join contract: the list is
    * the small side). Recall vs the exact filtered twin (Knn.filteredKnn)
    * is gated per-selectivity in HnswFilteredSpec.
    */
  def searchResidentFiltered(
      spark: SparkSession,
      shards: RDD[HnswIndex],
      queries: DataFrame, // (query_id LONG, qv ARRAY<DOUBLE>)
      k: Int,
      allow: Long => Boolean,
      ef: Option[Int] = None): DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    graft.plans.HnswProbe.resident(
      queries.select(
        col("query_id").cast("long"), col("qv").cast("array<double>")),
      shards, k, ef, Some(allow))
      .select(col("query_id"), col("vec_id"), col("distance"))
  }

  /** Broadcast id allow-list → predicate, with the small-side contract
    * ENFORCED like the resident probe's query bound: collecting more than
    * `maxIds` ids fails loudly (limit(maxIds + 1) never materializes an
    * oversized frame on the driver). For allow-lists beyond broadcast
    * size — a 1% filter over 10^11 vectors is 10^9 ids — filter first and
    * run the exact kNN (Knn.filteredKnn), or express the predicate in
    * closed form over the id; this helper is for the dimension-filter
    * case where the list is small by construction.
    */
  def broadcastAllowList(
      spark: SparkSession,
      ids: DataFrame,
      idCol: String = "vec_id",
      maxIds: Int = 1 << 24): Long => Boolean = {
    // typed collect: Dataset[Long].collect() gives a primitive long[]
    // (8 B/id), not maxIds boxed Row objects — the guard itself must not
    // be the driver-heap hazard it guards against
    val taken = ids.select(col(idCol).cast("long"))
      .as(org.apache.spark.sql.Encoders.scalaLong)
      .limit(maxIds + 1).collect()
    if (taken.length > maxIds)
      throw new IllegalStateException(
        s"broadcastAllowList: allow-list exceeds $maxIds ids — the filtered " +
          "probe broadcasts the list to every executor, so it must stay " +
          "broadcast-small; pre-filter + exact kNN (Knn.filteredKnn) is the " +
          "operator for bulk-selective predicates")
    val arr = taken.sorted
    val bc = spark.sparkContext.broadcast(arr)
    (id: Long) => java.util.Arrays.binarySearch(bc.value, id) >= 0
  }

  /** Incremental maintenance of a built index — the reference's online
    * insert/delete (A1/A3, reference api/rest/server.py:136-157, :188-200)
    * applied to the sharded artifact instead of rebuilding:
    * inserts route to the currently-smallest shard (any shard is correct —
    * search probes all of them), duplicate external ids overwrite in place
    * (graph.py:131-139), deletes tombstone wherever the id lives and
    * report false for unknown ids (graph.py:193-194).
    * Mutates the in-memory shards; persist with HnswPersistence to make
    * the new state durable. Returns (inserted, deleted, deleteMisses).
    */
  def applyMutations(
      indexes: Array[HnswIndex],
      inserts: Seq[(Long, Array[Double])],
      deletes: Seq[Long]): (Int, Int, Int) = {
    var ins = 0
    inserts.foreach { case (id, vec) =>
      // overwrite in place if the id exists somewhere; else smallest shard
      val owner = indexes.find(_.containsId(id))
        .getOrElse(indexes.minBy(_.size))
      owner.insert(id, vec)
      ins += 1
    }
    var del = 0; var miss = 0
    deletes.foreach { id =>
      if (indexes.exists(ix => ix.containsId(id) && ix.delete(id))) del += 1
      else miss += 1
    }
    (ins, del, miss)
  }

  /** Incremental refresh of EXECUTOR-RESIDENT shards from a mutation
    * batch — the missing link between the durable mutation log
    * ([[graft.operators.Mutations]], the reference's replicated write
    * path) and the serving index: until now accepted mutations reached a
    * servable resident index only via fold + FULL REBUILD.
    *
    * Shape: the batch routes by the build's OWN partitioner — the same
    * `repartition(p, vec_id)` hash expression `buildResident` used — so
    * an overwrite lands on the shard that owns its id (in-place
    * overwrite, graph.py:131-139 semantics), a delete lands where the id
    * lives (tombstone; a miss means the id never existed), and a new id
    * lands exactly where a full rebuild would put it. Application is a
    * `zipPartitions` against the cached shard RDD: NO driver round-trip,
    * NO full-corpus reshuffle — cost is one copy per TOUCHED shard plus
    * O(|batch|) incremental inserts/deletes, vs O(N log N) reconstruction.
    *
    * COPY-ON-WRITE, not in-place: a touched shard is deep-copied
    * (serialization round-trip — tombstones, RNG position, and counters
    * survive exactly) before mutating. Mutating the cached parent in
    * place would corrupt it for concurrent readers AND double-apply on
    * an eviction replay; the copy keeps the parent immutable so replay
    * re-derives the same refreshed shard deterministically (mutations
    * are sorted by `seq` within the partition — `seq` must be a total
    * order, the Mutations-log contract). UNTOUCHED shards pass through
    * by reference: zero copy, zero work.
    *
    * `mutations` schema: (seq LONG, op 'insert'|'delete', vec_id LONG,
    * vec ARRAY<DOUBLE> — null for deletes). Returns a NEW persisted RDD
    * (same AND_DISK + count contract as `buildResident`); the caller
    * owns both lifetimes — unpersist the old handle once traffic moves.
    */
  def refreshResident(
      shards: RDD[HnswIndex],
      mutations: DataFrame,
      params: Params): RDD[HnswIndex] = {
    val p = shards.getNumPartitions
    val routed = mutations
      .select(col("seq").cast("long"), col("op").cast("string"),
        col("vec_id").cast("long"), col("vec").cast("array<double>"))
      .repartition(p, col("vec_id"))
      .sortWithinPartitions(col("seq"))
      .rdd
    // an empty batch optimizes to a zero-partition LocalRelation, which
    // zipPartitions rejects — and with nothing to apply the parent IS the
    // refreshed index (every shard takes the untouched pass-through path)
    if (routed.getNumPartitions == 0) return shards
    val refreshed = shards.zipPartitions(routed, preservesPartitioning = true) {
      (ixIt, mutIt) =>
        if (!mutIt.hasNext) ixIt // untouched: reuse the cached artifact
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val base =
            if (ixIt.hasNext) deepCopy(ixIt.next())
            else new HnswIndex(params.dim, params.m, params.efConstruction,
              params.efSearch, params.metric, seed = 42L + pid)
          mutIt.foreach { r =>
            if (r.getString(1) == "insert")
              base.insert(r.getLong(2), r.getSeq[Double](3).toArray)
            else base.delete(r.getLong(2))
          }
          if (base.size > 0) Iterator.single(base) else Iterator.empty
        }
    }
    materialized(refreshed)
  }

  /** Quantize built resident shards into SQ8 serving copies (one map
    * over the cached shard RDD — the compression is deterministic given
    * the shard, and the source RDD is itself replay-stable, so AND_DISK
    * carries the same rationale as buildResident). The float shards can
    * be unpersisted afterwards: serving memory drops ~7× at dim 64
    * (memoryBytes on both sides is the soak's measured line).
    */
  def compressResident(shards: RDD[HnswIndex]): RDD[HnswSq8Index] =
    materialized(shards.map(HnswSq8Index.fromHnsw))

  /** PQ-coded twin of [[compressResident]]: m one-byte codes per
    * vector against shard-local books (traversal = m table lookups per
    * hop — smaller AND faster than decoding SQ8), ~10× resident at
    * dim 64 / m 8.
    */
  def compressResidentPq(
      shards: RDD[HnswIndex], m: Int, kSub: Int = 256,
      iters: Int = 5): RDD[HnswPqIndex] =
    materialized(shards.map(HnswPqIndex.fromHnsw(_, m, kSub, iters)))

  /** Probe compressed resident shards (SQ8 or PQ — one packed-graph
    * beam serves both): broadcast the bounded query set, each shard
    * answers top-k by CODEC distance, global merge = per-query k
    * smallest by (distance, id) — the searchResident merge semantics.
    * Output (query_id, vec_id, adc_distance); ranks are approximate,
    * [[searchResidentRerank]] is the serving composition.
    */
  private def probeCompressed(
      spark: SparkSession,
      shards: RDD[_ <: PackedHnsw],
      queries: DataFrame, // (query_id LONG, qv ARRAY<DOUBLE>), bounded
      k: Int,
      ef: Option[Int],
      allow: Option[Long => Boolean]): DataFrame = {
    import spark.implicits._
    val qRows = queries
      .select(col("query_id").cast("long"), col("qv").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bc = spark.sparkContext.broadcast(qRows)
    val allowF = allow.getOrElse(HnswIndex.AllowAll)
    val hits = shards.flatMap { shard =>
      bc.value.iterator.flatMap { case (qid, qv) =>
        shard.searchFiltered(qv, k, allowF, ef)
          .map { case (id, d) => (qid, id, d) }
      }
    }.toDF("query_id", "vec_id", "adc_distance")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_distance"), col("vec_id"))
    hits.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k).drop("rn")
  }

  /** The DiskANN serving composition over SQ8 or PQ shards: codec
    * traversal generates k·candFactor candidates per query, the exact
    * metric reranks ONLY those against the corpus frame (broadcast
    * join-back — full vectors are touched for the bounded survivor set,
    * never resident). At exhaustive ef the candidate set covers every
    * reachable node, so the reranked answer equals exact kNN — for PQ
    * regardless of codebook quality — the hash-checkable face. `allow`
    * filters in traversal (the searchFiltered pool semantics).
    * Output (query_id, vec_id, distance, rank).
    */
  def searchResidentRerank(
      spark: SparkSession,
      shards: RDD[_ <: PackedHnsw],
      emb: DataFrame,
      queries: DataFrame, // (query_id LONG, qv ARRAY<DOUBLE>), bounded
      k: Int,
      candFactor: Int = 4,
      ef: Option[Int] = None,
      dist: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column = VectorFunctions.cosine,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      allow: Option[Long => Boolean] = None): DataFrame = {
    require(k >= 1 && candFactor >= 1, "bad k/candFactor")
    val cands = probeCompressed(spark, shards, queries,
      k * candFactor, ef, allow)
      .select(col("query_id"), col("vec_id").as(idCol))
    val withVec = emb.join(broadcast(cands), Seq(idCol))
    val qv = queries.select(
      col("query_id").cast("long"), col("qv").cast("array<double>"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("distance"), col(idCol))
    withVec
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        VectorFunctions.roundDist(dist(col(vecCol), col("qv")))
          .as("distance"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact clone via serialization round-trip: graph, tombstones, RNG
    * position, counters and auto-id all survive bit-for-bit (the
    * HnswPersistence guarantees, without touching disk).
    */
  private def deepCopy(ix: HnswIndex): HnswIndex = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(ix); oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    try ois.readObject().asInstanceOf[HnswIndex] finally ois.close()
  }

  /** Auto-id insert across shards — the sharded form of the reference's
    * `current_id` assignment (graph.py:131-136): the next id is the max of
    * the per-shard counters (so it clears every external id any shard has
    * seen), the row routes to the smallest shard, and the returned id is
    * what a subsequent search will surface.
    */
  def insertAuto(indexes: Array[HnswIndex], vector: Array[Double]): Long = {
    val id = indexes.map(_.nextAutoId).max
    indexes.minBy(_.size).insert(id, vector)
    id
  }

  /** Per-shard engine stats incl. the reference's lifetime counters
    * (get_stats parity, graph.py:209-234 with :72-73): vector count, max
    * level, dead slots, total_searches, total_insertions.
    */
  def engineStats(spark: SparkSession, indexes: Array[HnswIndex]): DataFrame = {
    import spark.implicits._
    indexes.zipWithIndex.map { case (ix, shard) =>
      (shard, ix.size.toLong, ix.maxLevel, ix.deadCount.toLong,
        ix.totalSearches, ix.totalInsertions)
    }.toSeq.toDF(
      "shard", "n_vectors", "max_level", "n_dead",
      "total_searches", "total_insertions")
  }

  /** Round a distance like the exact path's roundDist does: 6 decimals,
    * HALF_UP (Spark's `round`), -0.0 normalized — so HNSW distances diff
    * cleanly against exact-operator distances for the same pair.
    */
  def roundDist6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  /** Probe all sub-indexes for one query and merge top-k. */
  def searchAll(
      indexes: Seq[HnswIndex], q: Array[Double], k: Int, ef: Option[Int] = None)
    : Seq[(Long, Double)] =
    mergeTopK(indexes.iterator.map(_.search(q, k, ef)).toArray, k)

  /** Single-query serving variant: probe the shards concurrently. Use for
    * latency-sensitive point lookups; in batched searchDf the parallelism
    * already comes from query rows across tasks, so the sequential probe
    * avoids oversubscription there. Same results as searchAll.
    */
  def searchAllPar(
      indexes: IndexedSeq[HnswIndex], q: Array[Double], k: Int,
      ef: Option[Int] = None): Seq[(Long, Double)] = {
    val per = new Array[Seq[(Long, Double)]](indexes.length)
    java.util.stream.IntStream.range(0, indexes.length).parallel()
      .forEach(i => per(i) = indexes(i).search(q, k, ef))
    mergeTopK(per, k)
  }

  /** The global top-k of per-shard answers, each ascending by
    * (distance, id), in one k-way pass: the first k of their
    * concatenation sorted by `(d, id)` (java.lang.Double.compare, then
    * id; equal keys keep shard order).
    */
  private def mergeTopK(per: Array[Seq[(Long, Double)]], k: Int): Seq[(Long, Double)] = {
    val lists = per.map(_.toIndexedSeq)
    val pos = new Array[Int](lists.length)
    val out = new Array[(Long, Double)](math.max(0, math.min(k, lists.map(_.length).sum)))
    var n = 0
    while (n < out.length) {
      var best = -1; var bd = 0.0; var bid = 0L
      var s = 0
      while (s < lists.length) {
        if (pos(s) < lists(s).length) {
          val hit = lists(s)(pos(s))
          val id = hit._1; val d = hit._2
          val c = if (best < 0) -1 else java.lang.Double.compare(d, bd)
          if (c < 0 || (c == 0 && id < bid)) { best = s; bd = d; bid = id }
        }
        s += 1
      }
      out(n) = lists(best)(pos(best))
      pos(best) += 1
      n += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** DataFrame-shaped batched search: broadcast the sub-indexes, probe per
    * query row on executors. Output: (query_id, vec_id, distance).
    */
  def searchDf(
      spark: SparkSession,
      bc: Broadcast[Array[HnswIndex]],
      queries: DataFrame, // (query_id LONG, qv ARRAY<DOUBLE>)
      k: Int,
      ef: Option[Int] = None): DataFrame = {
    import spark.implicits._
    queries
      .select(col("query_id").cast("long"), col("qv").cast("array<double>"))
      .as[(Long, Seq[Double])]
      .flatMap { case (qid, qv) =>
        searchAll(bc.value.toSeq, qv.toArray, k, ef)
          .map { case (id, d) => (qid, id, roundDist6(d)) }
      }
      .toDF("query_id", "vec_id", "distance")
  }
}
