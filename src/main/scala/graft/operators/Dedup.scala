package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Deduplication operators — the training-data-pipeline extension surface.
  * The reference has no dedup (SURVEY §2.5); its nearest concept is
  * duplicate-external-id overwrite on insert (reference
  * core/hnsw/graph.py:131-139). These ops treat dedup as a first-class
  * relational problem.
  *
  * Scale design notes (the 100 TB story):
  *  - exact dedup: hash-groupBy on a 32-byte fingerprint, never on the
  *    full text — the shuffle carries fingerprints, not documents.
  *  - shingle-Jaccard: inverted-index join on shingles (candidate pairs
  *    only share ≥1 shingle) instead of the O(n²) cross join.
  *  - embedding near-dup: 1-D projection bucketing — each vector lands in
  *    one bucket, candidates come from adjacent buckets only. Because
  *    |proj(a)−proj(b)| ≤ ‖a−b‖ for a unit projection direction, no true
  *    pair is missed (no false negatives), yet the join is equi-join
  *    shaped and shuffles on bucket id. This is LSH with one deterministic
  *    hyperplane — exact, hence DuckDB-oracle-checkable, unlike random LSH.
  */
object Dedup {

  /** Exact duplicate groups by normalized-content fingerprint.
    * Returns one row per distinct content: the keeper (min doc_id), the
    * number of copies, and the fingerprint.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"), col("fingerprint"))

  /** Incremental exact dedup — the continuous-ingest flow: drop from a new
    * batch every document whose content fingerprint already exists in the
    * historical fingerprint table, then dedup within the batch itself
    * (min doc_id wins). Anti-join on the 32-byte fingerprint: the shuffle
    * carries fingerprints, never documents, and at scale the history side
    * is a bucketed fingerprint table so the anti-join is co-located.
    */
  def incremental(newDocs: DataFrame, knownFingerprints: DataFrame): DataFrame = {
    val fresh = newDocs.select(
      col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    fresh
      .join(knownFingerprints.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** [[incremental]] with a BLOOM-FILTER PRE-PRUNE of the new batch — the
    * runtime-filter pattern applied to continuous-ingest dedup. At 100 TB
    * the plain anti-join shuffles EVERY new-batch fingerprint to meet the
    * history side; but almost all of a typical batch is genuinely new,
    * and a Bloom filter of the historical set proves most of those
    * "definitely absent" with a map-only probe. Shape:
    *
    *  1. build — ONE aggregate over the history side
    *     (`BloomFilterAggregate`, Spark's own runtime-filter machinery,
    *     reached through the bridge since it is private[sql]); the
    *     result is a single bounded binary cell (≤ numBits/8 bytes, the
    *     caller-sized driver action of the centroid-table discipline).
    *  2. prune — `might_contain` over the new batch BELOW the join
    *     exchange: definite negatives (no false negatives by Bloom
    *     construction) bypass the anti-join entirely and never shuffle.
    *  3. verify — only the maybes (true dups + ~fpp false positives)
    *     take the exact anti-join.
    *
    * The OUTPUT IS EXACT — the filter only removes provably-absent rows
    * from the join, so this hash-matches [[incremental]]'s oracle — and
    * the exchange shrinks from |batch| to |dups| + fpp·|batch| rows. The
    * new batch is scanned twice (both map-only passes); that trade is
    * the point at scale, where the exchange, not the scan, dominates.
    * `numBits` derives from (expectedItems, fpp) by the standard
    * m = −n·ln p/ln²2 sizing, capped by Spark's own
    * `runtime.bloomFilter.maxNumBits` conf so analysis never rejects it.
    *
    * EAGER-ACTION CONTRACT (unlike every other operator here, which
    * stays lazy until the caller's action): step 1's build runs a Spark
    * job AT CALL TIME — `known.select(buildAgg).head()` — so the caller
    * pays the history aggregate immediately, and the Bloom bytes are a
    * SNAPSHOT of the history as of the call — and the output's
    * exactness guarantee is RELATIVE TO THAT SNAPSHOT: a fingerprint
    * appended to the history table after the call may be bypassed as a
    * definite negative (it was absent when the bits were built) even
    * though the anti-join side would now see it. Callers composing
    * lazily must call this last, once the history side is final.
    */
  def incrementalBloom(
      newDocs: DataFrame, knownFingerprints: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64, BloomFilterMightContain}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val spark = newDocs.sparkSession
    require(expectedItems > 0 && fpp > 0 && fpp < 1, "bad bloom sizing")
    val known = knownFingerprints.select(col("fingerprint"))
    val ln2sq = math.log(2) * math.log(2)
    val wantBits = math.ceil(-expectedItems * math.log(fpp) / ln2sq).toLong
    val maxBits = spark.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    val numBits = math.max(64L, math.min(wantBits, maxBits))
    val buildAgg = Bridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(Bridge.expression(col("fingerprint")))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val row = known.select(buildAgg.as("bf")).head()
    val fresh = newDocs.select(
      col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    val pruned =
      if (row.isNullAt(0)) fresh // empty history: everything is new
      else {
        val bf = row.getAs[Array[Byte]](0)
        val mightContain = Bridge.column(new BloomFilterMightContain(
          Literal(bf, BinaryType),
          new XxHash64(Seq(Bridge.expression(col("fingerprint"))))))
        fresh.where(mightContain)
          .join(known, Seq("fingerprint"), "left_anti")
          .unionByName(fresh.where(!mightContain))
      }
    pruned
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Max passages per document for [[passageDedup]]'s packed ordering key
    * (doc_id · 2^21 + pidx): 2^21 passages ≈ 30M tokens per doc at the
    * default window, far past any training document.
    */
  private val MaxPassages = 1L << 21

  /** PASSAGE-level exact dedup — the span-scrubbing transform of modern
    * pretraining pipelines (RefinedWeb/Dolma style: repeated boilerplate
    * spans are removed from every document but their first occurrence,
    * while the documents themselves survive): split each doc into
    * fixed-width token windows ("passages"), keep a passage instance iff
    * it is the GLOBAL first occurrence of its text (minimum
    * (doc_id, passage_idx)), and reassemble the scrubbed text in passage
    * order. Output: (doc_id, n_passages, n_kept, clean_text) for every
    * non-null-text doc — n_kept < n_passages exactly where cross- or
    * intra-document span duplication was removed.
    *
    * Scale shape: passages shuffle ONCE keyed by their text to find the
    * minimum ordering key — packed into one LONG (doc_id · 2^21 + pidx,
    * contract above) so the argmin is a map-side-combinable min(long)
    * hash aggregate, never a min(struct) SortAggregate — then the keeper
    * join is the same text-keyed equi-join, and reassembly is a per-doc
    * aggregate whose groups are bounded by document length. No pair
    * frame, no window over the corpus.
    *
    * Exact string arithmetic end to end → DuckDB-oracle-checked.
    */
  /** Fixed-width token windows of `toks` as an array column — shared by
    * the batch and streaming passage-dedup paths so the window arithmetic
    * cannot drift between them.
    */
  private[graft] def passagesOf(
      toks: org.apache.spark.sql.Column, passageTokens: Int): org.apache.spark.sql.Column =
    transform(
      sequence(lit(0), floor((size(toks) - 1) / passageTokens).cast("int")),
      i => array_join(
        slice(toks, (i * passageTokens + 1).cast("int"), lit(passageTokens)), " "))

  def passageDedup(docs: DataFrame, passageTokens: Int): DataFrame = {
    require(passageTokens >= 1, "passageTokens must be >= 1")
    val present = docs.where(col("text").isNotNull)
    val toksDf = present.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val passages = toksDf
      .select(
        col("doc_id"),
        posexplode(passagesOf(col("toks"), passageTokens))
          .as(Seq("pidx", "passage")))
      .withColumn("__okey",
        // packed (doc_id, pidx) — ENFORCED domain, not just documented:
        // an out-of-range id or a >2^21-passage doc would silently wrap
        // the key and elect a wrong "first occurrence"; fail loudly like
        // sourceOverlap's cardinality guard instead
        when(col("doc_id") < 0 || col("doc_id") >= lit(Long.MaxValue / MaxPassages)
            || col("pidx") >= lit(MaxPassages),
          raise_error(concat(
            lit("passageDedup: (doc_id, pidx) outside the packed-key domain "),
            lit(s"(doc_id in [0, ${Long.MaxValue / MaxPassages}), pidx < $MaxPassages): "),
            col("doc_id"), lit(", "), col("pidx"))))
          .otherwise(col("doc_id") * MaxPassages + col("pidx")))
      .persist() // read by the argmin, the keeper join, and the per-doc sizes
    graft.CacheTracker.register(passages)
    val firstSeen = passages
      .groupBy(col("passage"))
      .agg(min(col("__okey")).as("__keeper"))
    val kept = passages
      .join(firstSeen, Seq("passage"))
      .where(col("__okey") === col("__keeper"))
    val perDoc = passages
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"))
    val reassembled = kept
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pidx"), col("passage")))),
          s => s.getField("passage")), " ").as("clean_text"))
    perDoc
      .join(reassembled, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Connected components over near-dup PAIRS — the step that turns
    * pairwise similarity (ngramJaccardPairs / minhashLshPairs /
    * embeddingNearDup output) into dedup GROUPS: every document labeled
    * with the minimum doc id of its transitive duplicate cluster, so
    * "keep one per cluster" is `where(doc_id === cluster_id)`.
    *
    * Algorithm: min-label propagation PLUS pointer jumping — each round
    * every vertex takes the min of (its own label, its neighbors' labels,
    * and **its current representative's label**, i.e. labels[labels[v]]).
    * Plain propagation alone converges in O(component diameter) rounds,
    * which is fine for near-clique threshold clusters but costs one Spark
    * round PER HOP on chain-shaped components (pairwise-threshold chains
    * do happen); the jump term doubles the effective reach every round,
    * bounding convergence at O(log diameter) — a 50-link chain converges
    * in ≤ 7 rounds (spec-gated) instead of 50. Each round is two
    * equi-joins + a map-side-combined min aggregate on the EDGE list — no
    * adjacency ever materializes per vertex, so the shape survives 100 TB
    * edge lists. The driver only checks the per-round convergence count
    * (a scalar), capped at maxIter as a safety net.
    *
    * Deterministic (min over an undirected reachability set), hence
    * oracle-checked against DuckDB's WITH RECURSIVE closure.
    * Output: (doc_id, cluster_id) for every vertex in `vertices`
    * (singletons label themselves).
    */
  def connectedComponents(
      vertices: DataFrame, // one column: doc_id
      pairs: DataFrame, // (doc_a, doc_b)
      maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(vertices, pairs, maxIter)._1

  /** Per-run convergence telemetry: rounds taken and the number of
    * vertices whose label changed in each round — the observable that
    * turns the O(log diameter) convergence claim from an inference into
    * a measurement (asserted by DedupSpec, reported by DedupSoak).
    */
  final case class CcStats(rounds: Int, changedPerRound: Seq[Long])

  /** connectedComponents plus the number of rounds it took — observable
    * convergence for the O(log diameter) bound's spec.
    */
  def connectedComponentsWithRounds(
      vertices: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 20): (DataFrame, Int) = {
    val (labels, stats) = connectedComponentsWithStats(vertices, pairs, maxIter)
    (labels, stats.rounds)
  }

  /** Below this many vertices (AND 4× as many edges) connected
    * components runs as a driver union-find — the PrefixSum precedent:
    * at that size the iterative join rounds are pure fixed overhead
    * (each round is several shuffles + an action on a table that fits
    * in one task), and path-compressed union-find on the collected
    * edge list is exactly the right plan. The distributed pointer-
    * jumped propagation stays the default above the gate — DedupSoak's
    * 500k/1M-doc measurements run it. Session-settable; 0 disables the
    * local path (the convergence specs force the distributed rounds).
    */
  val CcLocalMaxVerticesKey = "spark.graft.dedup.cc.localMaxVertices"
  private val CcLocalMaxVerticesDefault = 100000L

  /** connectedComponents plus full convergence telemetry (CcStats).
    * rounds == 0 signals the size-gated local union-find path (no
    * distributed rounds ran); both paths produce identical labels
    * (min id per component, spec-gated parity).
    */
  def connectedComponentsWithStats(
      vertices: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 20): (DataFrame, CcStats) = {
    val spark = vertices.sparkSession
    val gate = spark.conf
      .get(CcLocalMaxVerticesKey, CcLocalMaxVerticesDefault.toString).toLong
    // the local path only engages for LongType ids — its Row accessors
    // are typed, while the distributed SQL path below is type-generic
    val longIds =
      vertices.schema.head.dataType == org.apache.spark.sql.types.LongType &&
        pairs.schema.take(2).forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (gate > 0 && longIds) {
      // ONE bounded action both gates and feeds: limit(gate+1) short-
      // circuits the scan, and an over-gate result falls through to the
      // distributed path without a separate count() pass (the stats-gate
      // precedent's concern — no corpus-sized action just to decide)
      val vGateInt = math.min(gate, Int.MaxValue.toLong - 1L).toInt
      val vRows = vertices.limit(vGateInt + 1).collect()
      if (vRows.length <= vGateInt) {
        val cap = if (gate > Long.MaxValue / 4L) Long.MaxValue else gate * 4L
        val capInt = math.min(cap, Int.MaxValue.toLong - 1L).toInt
        val edgeRows = pairs.select(col("doc_a"), col("doc_b"))
          .limit(capInt + 1).collect()
        if (edgeRows.length <= capInt) {
          val vs = vRows.map(_.getLong(0))
          val known = new java.util.HashSet[Long]()
          vs.foreach(known.add)
          val parent = new java.util.HashMap[Long, Long]()
          def find(x: Long): Long = { // root, then one-pass compression
            var r = x
            while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
            var c = x
            while (c != r) { val p = parent.getOrDefault(c, c); parent.put(c, r); c = p }
            r
          }
          // edges with an endpoint OUTSIDE the vertex set are dropped —
          // the distributed rounds join edges against the label table,
          // so such edges contribute nothing there; unioning through
          // them here would connect vertices the distributed path
          // leaves apart (and could emit a non-vertex cluster_id)
          edgeRows.foreach { e =>
            if (known.contains(e.getLong(0)) && known.contains(e.getLong(1))) {
              val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
              if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
              // attach larger root under smaller ⇒ every final root is
              // the MIN id of its component — same labels as the
              // distributed min-label propagation
            }
          }
          import spark.implicits._
          val labels = vs.map(v => (v, find(v))).toSeq.toDF("doc_id", "cluster_id")
          return (labels, CcStats(0, Seq.empty))
        }
      }
    }
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // labels carries a per-row __changed marker computed IN the round's
    // own plan (old and new label are both in scope there), so the
    // convergence probe is a filter-count on the round's cache instead of
    // a separate join against the previous table — one action, no
    // shuffle, per round
    var labels = vertices
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(false).as("__changed"))
      .persist()
    var converged = false
    var iter = 0
    val changedCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (!converged && iter < maxIter) {
      // neighbor labels: for each dst, the min label among its sources
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      // pointer jumps: labels[labels[v]] and labels[labels[labels[v]]],
      // read from the PREVIOUS (cached) round's table — every cluster_id
      // is itself a vertex id, and labels only decrease, so each jump
      // shortcuts label chains (v → l1 → l2 becomes v → l2). Two chained
      // jumps triple the effective reach per round (reach 3^t), so a
      // diameter-d component converges in ceil(log3 d) + 1 rounds; both
      // joins are label-table-sized — the edge join above dominates.
      val jump = labels.select(
        col("doc_id").as("__rep"), col("cluster_id").as("__rep_min"))
      val jump2 = labels.select(
        col("doc_id").as("__rep2"), col("cluster_id").as("__rep2_min"))
      // LINEAGE TRUNCATION: this plan references `labels` three times
      // (own label, neighbor min, jump), so without truncation the
      // logical plan grows 3^round nodes and analysis time alone
      // explodes by round ~6 (measured: minutes on a 51-vertex chain).
      // Rebasing each round's result on its own materialized RDD keeps
      // the per-round plan constant-size — the iterative-graph
      // equivalent of checkpointing, without writing to disk.
      // ROUND 1 elides the two jump joins entirely: labels are the
      // identity there (labels[labels[v]] = labels[v]), so the jumps
      // cannot shortcut anything yet — two label-table joins saved on
      // the round that runs for every input.
      val nextPlan = (if (iter == 0) {
        labels
          .join(viaNeighbors, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
              .as("new_cluster_id"),
            col("cluster_id").as("old_cluster_id"))
      } else {
        labels
          .join(viaNeighbors, Seq("doc_id"), "left_outer")
          .join(jump, col("cluster_id") === col("__rep"), "left_outer")
          .join(jump2,
            coalesce(col("__rep_min"), col("cluster_id")) === col("__rep2"),
            "left_outer")
          .select(col("doc_id"),
            least(
              coalesce(col("__rep2_min"), col("cluster_id")),
              coalesce(col("__rep_min"), col("cluster_id")),
              coalesce(col("nbr_min"), col("cluster_id")))
              .as("new_cluster_id"),
            col("cluster_id").as("old_cluster_id"))
      })
        .select(col("doc_id"), col("new_cluster_id").as("cluster_id"),
          (col("new_cluster_id") =!= col("old_cluster_id")).as("__changed"))
      val next = spark.createDataFrame(nextPlan.rdd, nextPlan.schema).persist()
      // FULL-count convergence probe (not limit(1)): the count scans every
      // partition, fully materializing `next`'s cache BEFORE the previous
      // round's cache is released below — a partial probe would leave
      // uncached partitions whose later evaluation cascades through every
      // unpersisted predecessor's RDD lineage
      val changed = next.where(col("__changed")).count()
      labels.unpersist(blocking = false)
      labels = next
      changedCounts += changed
      converged = changed == 0
      iter += 1
    }
    edges.unpersist(blocking = false)
    // a silent cap-exit would return WRONG labels (a component wider than
    // maxIter hops keeps stale minima) and downstream dedup would admit
    // duplicates — fail loudly; callers with genuinely deep graphs raise
    // maxIter (rounds needed = component diameter)
    if (!converged) {
      labels.unpersist(blocking = false) // don't leak the cache on throw
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a component needs more than 2^maxIter hops of reach; raise maxIter")
    }
    (graft.CacheTracker.register(labels).drop("__changed"),
      CcStats(iter, changedCounts.toSeq))
  }

  /** The composed grouping flow: near-dup pairs at `threshold` n-gram
    * Jaccard → transitive clusters over ALL documents.
    */
  def dedupClusters(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    connectedComponents(
      docs.select(col("doc_id")),
      ngramJaccardPairs(docs, n, threshold).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))

  /** Distinct word-n-gram shingles per document: (doc_id, shingle, n_shingles).
    * Documents shorter than `n` tokens get their full text as the single
    * shingle so they still participate.
    */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), VectorFunctions.wordShingles(col("text"), n).as("shingle_set"))
      .select(col("doc_id"), size(col("shingle_set")).as("n_shingles"),
        explode(col("shingle_set")).as("shingle"))

  /** Below this many documents sharedShingleCounts takes the LEGACY
    * single-join count path; at or above it, the prefix-filtered path.
    * Session-settable (`spark.conf.set(PrefixJoinMinDocsKey, n)`).
    */
  val PrefixJoinMinDocsKey = "spark.graft.dedup.prefixJoin.minDocs"
  private val PrefixJoinMinDocsDefault = 20000L

  /** Candidate pairs from a PREFIX-FILTERED shingle inverted index — the
    * classic All-Pairs / ppjoin prefix filter, exact (zero candidate
    * loss) for any caller whose final filter implies a minimum shared-
    * shingle count.
    *
    * Lemma (pigeonhole on the minimum common element under a global total
    * order): if |A∩B| ≥ o, then the smallest common element lies within
    * the first |A|−o+1 elements of A AND the first |B|−o+1 of B — were it
    * deeper, all ≥ o common elements would have to fit in a suffix of
    * o−1 slots. So indexing ONLY each doc's prefix under a shared
    * ordering preserves every pair meeting the overlap floor; `prefixLen`
    * maps a doc's distinct-shingle count to its prefix length
    * (Jaccard ≥ t ⇒ o = ⌈t·sa⌉ ⇒ prefix ⌊(1−t)·sa⌋+1; fixed overlap
    * ≥ o ⇒ prefix sa−o+1).
    *
    * The global order is (document frequency ASC, shingle) — rarest
    * first. Any total order is correct; THIS one is what bounds the
    * 100 TB skew risk: an ultra-common stop-phrase shingle sorts LAST in
    * every doc, so it only enters prefixes of docs too small to exclude
    * it, and the self-join's posting lists are dominated by rare
    * shingles instead of the hot one whose posting-list square would
    * otherwise go quadratic (spec: DedupSpec "prefix filter bounds the
    * hot-shingle posting list"). Costs one map-side-combined df
    * aggregate + an equi-join back + a per-doc rank — all shapes that
    * survive scale; the quadratic term it removes does not.
    */
  private[graft] def candidatePairs(
      docs: DataFrame,
      n: Int,
      prefixLen: Column => Column,
      overlapFloor: (Column, Column) => Column): DataFrame = {
    // cache the sets like setPairCounts' scale path does: the inverted
    // index reads them twice (df pass + prefix rank) and without the
    // cache the tokenize+shingle pass runs once per read
    val sets = graft.CacheTracker.register(shingleSets(docs, n).persist())
    setCandidatePairs(sets, prefixLen, overlapFloor)
  }

  /** Per-doc distinct shingle SETS — the (doc_id, ss ARRAY) frame the
    * generic pair machinery runs on.
    */
  private def shingleSets(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), VectorFunctions.wordShingles(col("text"), n).as("ss"))

  /** (doc_id, ss ARRAY) → exploded postings (doc_id, n_shingles, shingle).
    * Generic over the element type: word shingles (STRING) and winnowing
    * fingerprints (BIGINT) both flow through the same machinery.
    */
  private def explodeSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), size(col("ss")).as("n_shingles"),
      explode(col("ss")).as("shingle"))

  /** Generic prefix-filtered candidate pairs over any (doc_id, set)
    * frame — see the candidatePairs scaladoc above for the lemma, the
    * rarest-first ordering rationale, and the positional filter.
    */
  /** ADAPTIVE PREFIX (the ppjoin-family q-extension): the pigeonhole
    * lemma generalizes from the minimum common element to the q smallest
    * common elements — if |A∩B| ≥ o then the i-th smallest common
    * element lies within the first |A|−o+i positions of A (the o−i
    * larger common elements must all fit after it), so extending every
    * prefix by q−1 guarantees a qualifying pair shares ≥ q PREFIX
    * elements, and `__cnt ≥ q` prunes exactly. The knob matters when the
    * per-row positional bounds are loose (large sets, overlap floor far
    * below the set size): at sf0.1 winnowPairs' 892k candidates collapse
    * to 475 at q=8 with identical verified pairs. Callers must keep
    * q ≤ the overlap floor implied for EVERY doc (q ≤ o for a fixed
    * floor) — a larger q would demand more shared elements than the
    * floor guarantees — and should keep q small when sets are barely
    * larger than the floor, because the extension lengthens prefixes
    * (jaccard paths pass q=1: their soak-scale corpus has prefixes just
    * short enough to exclude the hot stop-phrase shingle).
    */
  private[graft] def setCandidatePairs(
      sets: DataFrame,
      prefixLen: Column => Column,
      overlapFloor: (Column, Column) => Column,
      q: Int = 1): DataFrame = {
    // STRING elements (word shingles) are hash-keyed: the self-join and
    // the df shuffle carry an 8-byte xxhash64 instead of a ~30-byte
    // shingle. Exact — a hash collision can only ADD a spurious
    // candidate (two docs whose different shingles collide), and every
    // candidate is verified against the true sets downstream; no true
    // pair is ever lost because equal strings always hash equal. The
    // global prefix ORDER stays a total order over true elements:
    // (df-of-hash, hash, shingle) — a collision merely merges two df
    // counts, which perturbs the (heuristic) rarity ordering, never its
    // totality or cross-document consistency. LONG elements (winnow
    // fingerprints) are already 8 bytes and join on the element itself.
    val hashedKey = sets.schema("ss").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    val sh = explodeSets(sets).withColumn(
      "__key", if (hashedKey) xxhash64(col("shingle")) else col("shingle"))
    val dfreq = sh.groupBy(col("__key")).agg(count(lit(1)).as("__df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("__df"), col("__key"), col("shingle"))
    // CACHED (unlike the un-prefixed exploded table, which is cheaper to
    // recompute than materialize): the prefix frame is narrow (4 cols, a
    // prefix-sized subset of the postings) but its lineage carries the
    // df aggregate + the per-doc rank window — re-running those on each
    // side of the self-join would double two shuffles
    val prefix = graft.CacheTracker.register(sh
      .join(dfreq, Seq("__key"))
      .withColumn("__pos", row_number().over(byRarity))
      .where(col("__pos") <= prefixLen(col("n_shingles")) + lit(q - 1))
      .select(col("doc_id"), col("n_shingles"), col("__key"), col("__pos"))
      .persist())
    val a = prefix.select(col("doc_id").as("doc_a"), col("n_shingles").as("sa"),
      col("__key"), col("__pos").as("pa"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("n_shingles").as("sb"),
      col("__key"), col("__pos").as("pb"))
    // shuffle-hash beats sort-merge here: the join key is high-
    // cardinality and skew-bounded by the prefix filter, so hashing
    // avoids two full sorts.
    val joined = a.join(b.hint("shuffle_hash"), Seq("__key"))
      .where(col("doc_a") < col("doc_b"))
    if (hashedKey && q == 1) {
      // The per-row POSITIONAL filter (ppjoin): for the minimum common
      // element of a qualifying pair, every common element sits at or
      // after its position in both docs, so
      // common ≤ 1 + min(sa−pa, sb−pb); a row failing that bound cannot
      // be the minimum common element of a qualifying pair, and the
      // minimum-element row itself always passes — keeping a pair if ANY
      // row passes is exact while pruning before the distinct + verify
      // joins. (The tighter ACCUMULATED filter below is reserved for
      // exact-element joins: a hash-collision row could inflate its
      // max-position terms and prune a boundary pair.)
      joined
        .where(lit(1) + least(col("sa") - col("pa"), col("sb") - col("pb")) >=
          overlapFloor(col("sa"), col("sb")))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
    } else if (hashedKey) {
      // q > 1 on a hashed join: the q-extension count filter is
      // collision-SAFE (a collision row can only inflate __cnt, never
      // deflate it — equal strings always hash equal), as is the min-
      // position ANY-row form of the positional filter (an inflating
      // row only admits extra candidates, which verification kills).
      // The max-position ACCUMULATED filter stays exact-element-only.
      joined
        .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
        .agg(count(lit(1)).as("__cnt"),
          min(col("pa")).as("__pa0"), min(col("pb")).as("__pb0"))
        .where(lit(1) + least(col("sa") - col("__pa0"), col("sb") - col("__pb0")) >=
          overlapFloor(col("sa"), col("sb")))
        .where(col("__cnt") >= lit(q))
        .select(col("doc_a"), col("doc_b"))
    } else {
      // Exact-element join: every joined row IS a shared prefix element,
      // so per-pair aggregates support ppjoin's ACCUMULATED-overlap
      // filter. Shared elements sort identically in both docs (one
      // global order), so (pa, pb) move together: the FIRST shared
      // element realizes (min pa, min pb) — making the group-level
      // "1 + min(sa−pa0, sb−pb0) ≥ floor" exactly the ANY-row positional
      // filter — and the LAST realizes (max pa, max pb). Every common
      // element at or before the last shared prefix element lies in both
      // prefixes (it precedes a prefix-resident element in the global
      // order), hence is one of the cnt joined rows; the rest sit
      // strictly after (max pa, max pb) in their docs, bounding
      // common ≤ cnt + min(sa−pa1, sb−pb1). The groupBy replaces the
      // distinct (same shuffle) and the tighter bound shrinks the
      // candidate set the verify joins must score.
      //
      // With an ACTIVE q-extension (q > 1) the min-position aggregates
      // are dead weight: measured at sf0.1 (winnow, q=8), the pair set
      // passing {__cnt ≥ q, accumulated} is IDENTICAL to the set that
      // also passes the min-position filter (475 = 475) — the
      // q-extension is the filter that collapses the candidates, so the
      // two extra agg buffers (min pa, min pb) over the multi-million-
      // row joined stream buy nothing. Candidates stay an exact
      // superset either way (every filter here only prunes; the verify
      // recomputes exact counts), so dropping the filter cannot change
      // output. q = 1 keeps it: there __cnt ≥ 1 is vacuous and the
      // ANY-row positional filter is one of only two pruners.
      val aggs =
        Seq(count(lit(1)).as("__cnt"),
          max(col("pa")).as("__pa1"), max(col("pb")).as("__pb1")) ++
        (if (q == 1)
          Seq(min(col("pa")).as("__pa0"), min(col("pb")).as("__pb0"))
        else Seq.empty)
      val grouped = joined
        .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
        .agg(aggs.head, aggs.tail: _*)
      val positional =
        if (q == 1)
          grouped.where(
            lit(1) + least(col("sa") - col("__pa0"), col("sb") - col("__pb0")) >=
              overlapFloor(col("sa"), col("sb")))
        else grouped
      positional
        .where(col("__cnt") + least(col("sa") - col("__pa1"), col("sb") - col("__pb1")) >=
          overlapFloor(col("sa"), col("sb")))
        .where(col("__cnt") >= lit(q))
        .select(col("doc_a"), col("doc_b"))
    }
  }

  /** The LEGACY candidate+count shape: one inverted-index self-join with
    * map-side-combined pair counting — below the gate this is simply the
    * right plan (counts fall straight out of the join; no df pass, no
    * rank window, no verify joins), and a hot posting list's square is
    * bounded by the small corpus itself.
    */
  private def setLegacyCounts(sets: DataFrame): DataFrame = {
    // NOT cached: the exploded postings table is wide (rows × set size);
    // materializing it costs more than re-running the cheap explode on
    // each side of the self-join (measured)
    val sh = explodeSets(sets)
    val a = sh.select(col("doc_id").as("doc_a"), col("n_shingles").as("sa"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("n_shingles").as("sb"), col("shingle"))
    a.join(b.hint("shuffle_hash"), Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("common"))
  }

  /** Shared-element pair counts (doc_a < doc_b, sa, sb, common) over any
    * (doc_id, set) frame — the single source of the candidate-generation
    * shape for ngramJaccardPairs, editDistancePairs AND winnowPairs.
    *
    * Two result-identical paths behind a size gate (the PrefixSum
    * pattern: below the gate the simple plan IS the right plan):
    *  - SMALL (docs < PrefixJoinMinDocsKey, default 20k — covers every
    *    fixture): `setLegacyCounts`, one self-join + count aggregate.
    *  - AT SCALE: prefix-filtered candidates (`setCandidatePairs` — the
    *    All-Pairs/ppjoin prefix + positional filters, exact) then EXACT
    *    intersection counts recomputed per candidate from the full
    *    SETS (`array_intersect` on two per-doc arrays — the ppjoin
    *    verify step). This is the 100 TB path: candidate volume scales
    *    with true-pair density instead of the Σdf² join square, and the
    *    rarest-first global ordering keeps a stop-phrase element's
    *    posting list out of the self-join entirely (DedupSoak measures
    *    both). Candidates are few post-filter, so the sets⋈cand verify
    *    joins are AQE-broadcastable; no forced hint (same rationale as
    *    editDistancePairs' text joins).
    * The gate reads PLANNER STATISTICS (rowCount when the optimizer
    * knows it, else the size estimate at ~256 B/doc — text rows are
    * hundreds of bytes, and a misrouted frame near the boundary only
    * pays a bounded perf difference, both paths being exact), so
    * CONSTRUCTING the pair frame stays action-free — the same approach
    * PrefixSum's gate uses. Paths are spec-gated identical (DedupSpec
    * "gate parity").
    */
  private def setPairCounts(
      sets: DataFrame,
      prefixLen: Column => Column,
      overlapFloor: (Column, Column) => Column,
      defaultGate: Long = PrefixJoinMinDocsDefault,
      q: Int = 1,
      sortedLongSets: Boolean = false): DataFrame = {
    val gate = sets.sparkSession.conf
      .get(PrefixJoinMinDocsKey, defaultGate.toString).toLong
    val stats = sets.queryExecution.optimizedPlan.stats
    val byteGate =
      if (gate > Long.MaxValue / 256L) Long.MaxValue else gate * 256L
    val small = gate > 0 && (stats.rowCount match {
      case Some(rc) => rc < BigInt(gate)
      case None => stats.sizeInBytes < BigInt(byteGate)
    })
    if (small) setLegacyCounts(sets)
    else {
      // cache the sets frame on the scale path: it feeds the inverted
      // index (df pass + prefix rank) AND both verify sides — without the
      // cache the set computation (tokenize+shingle or the winnow hash
      // pass) runs three times over the corpus
      // persist only (NO populating count: pair-frame construction is
      // action-free by contract, PlanSpec — the first consumer stage
      // populates; concurrent-first-scan duplication is accepted here)
      val cached = graft.CacheTracker.register(sets.persist())
      val cand = setCandidatePairs(cached, prefixLen, overlapFloor, q)
      val withA = cached
        .join(cand, cached("doc_id") === cand("doc_a"))
        .select(col("doc_a"), col("doc_b"),
          col("ss").as("ssa"), size(col("ss")).as("sa"))
      // exact per-candidate intersection count. Sorted-distinct long
      // sets (the winnow fingerprint contract) take the compiled
      // two-pointer merge — zero allocation per candidate, whole-stage
      // codegen — instead of array_intersect's per-pair hash set +
      // materialized intersection array (value-identical on distinct
      // inputs; SortedIntersectCount scaladoc)
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val common =
        if (sortedLongSets)
          bridge.column(graft.functions.SortedIntersectCount(
            bridge.expression(col("ssa")), bridge.expression(col("ssb"))))
        else size(array_intersect(col("ssa"), col("ssb"))).cast("long")
      cached.select(col("doc_id").as("doc_b"), col("ss").as("ssb"),
          size(col("ss")).as("sb"))
        .join(withA, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"),
          common.as("common"))
    }
  }

  private def sharedShingleCounts(
      docs: DataFrame,
      n: Int,
      prefixLen: Column => Column,
      overlapFloor: (Column, Column) => Column): DataFrame =
    setPairCounts(shingleSets(docs, n), prefixLen, overlapFloor)

  /** MOSS-style near-duplicate pairs by SHARED WINNOWING FINGERPRINTS —
    * the rolling-hash dedup flow (what MOSS does for code plagiarism):
    * robust to local edits and token reordering in a way word-shingle
    * Jaccard is not, because fingerprints are window-minima of character
    * k-gram hashes. Pairs sharing ≥ minShared fingerprints, with the
    * count. Runs on the SAME gated machinery as the shingle paths
    * (legacy count join below the gate, prefix-filtered + verified
    * above), so the skew story is inherited, and the integer-arithmetic
    * hash keeps it oracle-checkable end-to-end.
    */
  def winnowPairs(docs: DataFrame, k: Int, w: Int, minShared: Int): DataFrame =
    // defaultGate = 0: winnowing SELECTS FOR globally-minimal hashes, so
    // fingerprint posting lists are hot BY CONSTRUCTION (that is how the
    // scheme surfaces overlap) and the legacy join's Σdf² square blows up
    // at fixture scale already — measured 30 s legacy vs 8 s prefix at
    // sf0.1. The prefix path is the right plan at EVERY size for this
    // op; the conf key still overrides for the parity spec.
    // q = min(8, minShared): winnow sets are large relative to the
    // overlap floor, so per-row positional bounds barely prune — the
    // q-extension is what collapses the candidate set (892k → 475 at
    // sf0.1, verified pairs identical); q must stay ≤ the floor
    setPairCounts(
      TextAnalysis.winnowFingerprints(docs, k, w)
        .select(col("doc_id"), col("fps").as("ss")),
      overlapPrefixLen(minShared), (_, _) => lit(minShared), defaultGate = 0L,
      q = math.min(8, minShared),
      sortedLongSets = true) // WinnowFingerprint output: ascending, distinct
      .where(col("common") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("common").as("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Cross-document SUBSTRING duplication coverage (the signal behind
    * suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499):
    * per document, the fraction of its distinct character k-gram
    * rolling hashes that also occur in ANOTHER document — high fraction
    * = the doc is largely assembled from text that exists elsewhere in
    * the corpus (boilerplate, syndication, templating), even when no
    * whole-doc or shingle-level near-dup fires. This is winnowing with
    * w = 1 (EVERY k-gram hash, not window minima), so the same compiled
    * one-pass expression and the same integer arithmetic keep it
    * oracle-checkable; a hash collision can only overcount shared
    * k-grams by ~n_kgrams/1e9 — the documented approximation, exactly
    * DuckDB-reproducible either way.
    *
    * Scale shape: the k-gram pass is a map over the corpus; postings
    * explode corpus-linearly; the df aggregate is map-side combined on
    * the hash key; and the coverage count is an equi-join of postings
    * against the df ≥ 2 hash set followed by a per-doc count — no
    * self-join, no pair frame anywhere. Docs shorter than k characters
    * have no k-gram and are omitted (the winnowFingerprints contract).
    * Output: (doc_id, n_kgrams, n_shared, dup_fraction), fraction
    * rounded to 6 decimals.
    */
  def substringDupStats(docs: DataFrame, k: Int): DataFrame = {
    // cached: postings feed BOTH the df aggregate and the coverage join,
    // so the all-kgram hash pass materializes once — a single heavy
    // consumer, the Tables.fanOut contract
    val postings = graft.CacheTracker.register(
      TextAnalysis.winnowFingerprints(graft.Tables.fanOut(docs), k, w = 1)
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_kgrams"),
          explode(col("fps")).as("fp"))
        .persist())
    val shared = postings
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
      .select(col("fp"))
    postings
      .join(shared, Seq("fp"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(postings.select(col("doc_id"), col("n_kgrams")).distinct(),
        Seq("doc_id"), "right_outer")
      .select(col("doc_id"), col("n_kgrams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)) / col("n_kgrams"), 6)
          .as("dup_fraction"))
      .orderBy(col("doc_id"))
  }

  /** Rounding slack for threshold-derived floors: the final filter admits
    * pairs whose 6-decimal ROUNDED jaccard ≥ t, i.e. true jaccard down to
    * t − 5e-7 — every pruning bound uses the slackened threshold so a
    * boundary pair that rounds UP to t is never lost (the same guarantee
    * embeddingNearDup's bucket width provides).
    */
  private def slack(t: Double): Double = t - 1e-6

  /** prefixLen for a Jaccard ≥ t floor: overlap o = ⌈t·sa⌉ ⇒ prefix
    * ⌊(1−t)·sa⌋+1 (computed with the rounding slack).
    */
  private[graft] def jaccardPrefixLen(t: Double)(sa: Column): Column =
    floor((lit(1.0) - slack(t)) * sa).cast("int") + lit(1)

  /** overlap floor for Jaccard ≥ t: c ≥ ⌈t/(1+t)·(sa+sb)⌉ (slackened). */
  private[graft] def jaccardOverlapFloor(t: Double)(sa: Column, sb: Column): Column = {
    val ts = slack(t)
    ceil(lit(ts / (1.0 + ts)) * (sa + sb))
  }

  /** prefixLen for a fixed shared-shingle floor o: sa−o+1 (≥ 1). */
  private def overlapPrefixLen(o: Int)(sa: Column): Column =
    greatest(sa - lit(o - 1), lit(1))

  /** Fuzzy near-dup pairs by EDIT DISTANCE: candidate pairs from the
    * shingle inverted index, REQUIRING ≥ minShared shared word n-grams
    * (part of the operator contract, mirrored by the oracle) — near-dup
    * text at a character edit budget shares many word n-grams, so a small
    * floor prunes the candidate set by orders of magnitude (measured
    * 460× at sf0.01 with the true pairs' minimum overlap at 9) while the
    * join stays equi-shaped and never O(n²). Survivors pass the
    * |length difference| ≤ maxDist lower bound, then exact Levenshtein,
    * banded via Spark's 3-arg `levenshtein(l, r, threshold)` (-1 above
    * the bound) so the DP is O(L·d) not O(L²). Classic Levenshtein is
    * implemented identically in DuckDB → oracle-checked.
    *
    * Scale shape: the candidate-pair frame joins the distributed text
    * table on plain equi-joins with NO forced broadcast — the post-floor
    * candidate set is usually tiny (AQE converts these to broadcasts at
    * runtime when it is), but with a permissive minShared the pair×text
    * frame can outgrow any broadcast bound, so the strategy choice is
    * left to the planner instead of hinted. The per-pair frame with both
    * texts is persisted (CacheTracker) before the final filter so the
    * banded DP evaluates ONCE per pair instead of re-running inside a
    * pushed-down join condition. Output: (doc_a, doc_b, edit_distance).
    */
  def editDistancePairs(
      docs: DataFrame, n: Int, maxDist: Int, minShared: Int = 1): DataFrame = {
    val cand = sharedShingleCounts(docs, n, overlapPrefixLen(minShared),
        (_, _) => lit(minShared))
      .where(col("common") >= minShared)
      .select(col("doc_a"), col("doc_b"))
    val texts = docs.select(col("doc_id"), col("text"))
    val withA = texts
      .join(cand, texts("doc_id") === cand("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("text").as("ta"))
    val withBoth = texts.select(col("doc_id").as("doc_b"), col("text").as("tb"))
      .join(withA, Seq("doc_b"))
      .where(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb"), maxDist).cast("long").as("edit_distance"))
      .persist() // pushdown barrier: the DP runs once, at materialization
    graft.CacheTracker.register(withBoth)
    withBoth
      .where(col("edit_distance") >= 0) // banded DP marks > threshold as -1
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** All document pairs with n-gram Jaccard similarity ≥ threshold,
    * found via an inverted-index self-join on shingles (pairs must share
    * at least one shingle — exact, no candidate loss).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    sharedShingleCounts(docs, n, jaccardPrefixLen(threshold),
        jaccardOverlapFloor(threshold))
      .withColumn(
        "jaccard",
        round(col("common").cast("double") /
          (col("sa") + col("sb") - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995, the merge/
    * purge method): sort by a blocking key (normalized text here), pair
    * each record with its `window − 1` SUCCESSORS in sort order, verify
    * candidates exactly by n-gram Jaccard. The property that earns it a
    * place next to the ppjoin/LSH generators: the candidate count is
    * EXACTLY n·(window−1) — content-INDEPENDENT — so cost is predictable
    * at any scale and immune to hot-key skew (a pathological shingle
    * distribution can blow up an inverted index's postings; it cannot
    * add a single sorted-neighborhood candidate). The trade is recall:
    * only pairs whose keys land within `window` ranks are examined (the
    * fixed-window contract of the published method; multi-pass with
    * rotated keys is the standard recall fix and composes by union).
    *
    * Scale shape: the global rank is [[PrefixSum.runningSum]] (range-
    * partitioned two-pass, no global window above its gate); candidates
    * come from ONE rank-keyed equi-join of the frame against itself
    * shifted by the exploded 1..window−1 offsets; verification is the
    * bounded-candidate ArrayJaccard pass. Nothing in the plan depends
    * on content skew.
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame, n: Int, window: Int, threshold: Double): DataFrame = {
    require(window >= 2, s"window must be >= 2 (got $window)")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val keyed = docs.select(col("doc_id"),
      lower(trim(col("text"))).as("__k"),
      VectorFunctions.wordShingles(col("text"), n).as("ss"))
    val ranked = graft.CacheTracker.register(
      PrefixSum.runningSum(keyed,
        Seq(col("__k"), col("doc_id")), lit(1L), "rank").persist())
    val left = ranked
      .select(col("doc_id").as("id_a"), col("ss").as("ssa"),
        posexplode_outer(sequence(lit(1L), lit((window - 1).toLong)))
          .as(Seq("__p", "o")),
        col("rank"))
      .select(col("id_a"), col("ssa"), (col("rank") + col("o")).as("rank"))
    val right = ranked
      .select(col("doc_id").as("id_b"), col("ss").as("ssb"), col("rank"))
    left.join(right, "rank")
      .select(
        least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        (round(bridge.column(graft.functions.ArrayJaccard(
          bridge.expression(col("ssa")), bridge.expression(col("ssb")))), 6)
          + 0.0).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Unit projection direction: alternating ±1/√dim. Deterministic, cheap,
    * and reproducible in SQL on both engines.
    */
  private def projection(v: Column, dim: Int): Column = {
    val scale = 1.0 / math.sqrt(dim.toDouble)
    // sum of (+v[2i] − v[2i+1]) · scale == dot(v, u) with u = (±1/√d, …)
    aggregate(
      zip_with(v, sequence(lit(0), size(v) - 1),
        (x, i) => when(i % 2 === 0, x).otherwise(-x)),
      lit(0.0), (acc, x) => acc + x) * scale
  }

  /** Embedding near-duplicate pairs: all (a, b) with cosine distance ≤
    * threshold, via normalize → 1-D projection → bucket join on adjacent
    * buckets → exact cosine check. Exact output (bucketing only prunes),
    * so it is oracle-checkable; the bucket join is the 100 TB path — the
    * shuffle key is the bucket id and each row joins at most 3 buckets.
    *
    * For unit vectors: cosine_dist ≤ t ⇔ ‖a−b‖ ≤ √(2t), and the
    * projection is 1-Lipschitz, so bucket width √(2t) guarantees true
    * pairs fall in the same or adjacent bucket. The final filter admits
    * pairs whose 6-decimal ROUNDED distance is ≤ t, i.e. true distance up
    * to t + 5e-7 — the width uses that slack so the no-false-negative
    * guarantee covers everything the rounded filter can admit.
    *
    * PRUNING REGIME (measured, be honest about it): bucketing prunes
    * only when the width √(2t) is smaller than the projection's spread
    * over the corpus (≈ the inter-cluster spread for clustered data;
    * ≈ 1/√dim for isotropic noise). At a LOOSE threshold like t = 0.5
    * (a 60° cone) on 64-d Gaussian fixtures, every vector lands in one
    * of two buckets and the operator degrades gracefully to the exact
    * salted pair join — which is the correct behavior: no 1-Lipschitz
    * projection can prune a radius comparable to the data diameter, and
    * t that loose means the caller asked for most pairs anyway. At
    * near-dup-tight thresholds (t ≤ ~0.05) the width shrinks below the
    * spread and the bucket join prunes quadratically (spec: "tight
    * threshold engages bucket pruning").
    */
  /** Salt fan-out for the bucket self-join — same dial as knnGraph's
    * candidate exchange: a dense embedding region (a near-duplicate
    * blob) puts its whole pair square into ONE 1-D bucket, i.e. one
    * shuffle key = one task; salting splits each bucket's work across
    * EmbSaltFactor keys so the hot bucket's square is processed by
    * EmbSaltFactor tasks instead of one.
    */
  private[graft] val EmbSaltFactor = 8

  /** The two sides of the salted bucket join, exposed for the skew spec:
    * side a carries a hash-derived salt in [0, EmbSaltFactor) and probes
    * buckets {b−1, b, b+1}; side b is replicated across ALL salts, so
    * every (a, b) pair meets at exactly key (probe, salt_a) — pair-
    * complete, with per-bucket parallelism = EmbSaltFactor.
    */
  private[graft] def nearDupSides(
      emb: DataFrame,
      threshold: Double,
      dim: Int,
      idCol: String,
      vecCol: String): (DataFrame, DataFrame) = {
    val width = math.sqrt(2.0 * (threshold + 1e-6))
    val normed = emb.select(
      col(idCol),
      VectorFunctions.l2Normalize(col(vecCol)).as("nv"))
    val bucketed = normed.withColumn(
      "bucket", floor(projection(col("nv"), dim) / width).cast("long"))
      .persist() // self-joined: normalize + projection run once per vector
    graft.CacheTracker.register(bucketed)
    // populate BEFORE the self-join fans out: two concurrent first-scans
    // of an unpopulated cache each recompute the upstream pass (the
    // triangleStats/KnnGraphTables wave lesson)
    bucketed.count()
    val a = bucketed.select(
      col(idCol).as("id_a"), col("nv").as("va"),
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("probe"),
      pmod(xxhash64(col(idCol)), lit(EmbSaltFactor.toLong)).as("__salt"))
    val b = bucketed.select(
      col(idCol).as("id_b"), col("nv").as("vb"), col("bucket").as("probe"),
      explode(sequence(lit(0L), lit(EmbSaltFactor - 1L))).as("__salt"))
    (a, b)
  }

  def embeddingNearDup(
      emb: DataFrame,
      threshold: Double,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (a, b) = nearDupSides(emb, threshold, dim, idCol, vecCol)
    // On unit vectors cosine distance reduces to 1 − dot: one array pass
    // instead of three (norms are 1 by construction; a zero vector stays
    // zero under l2Normalize, giving 1 − 0 = 1.0 — same zero-norm semantics
    // as the full formula). Measured 3× cheaper on the pair hot path.
    a.join(b, Seq("probe", "__salt"))
      .where(col("id_a") < col("id_b"))
      .select(
        col("id_a"), col("id_b"),
        VectorFunctions.roundDist(lit(1.0) - VectorFunctions.dot(col("va"), col("vb")))
          .as("distance"))
      .where(col("distance") <= threshold)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash signature per document, computed in one pass per row by the
    * MinHashSignature expression — no explode, no shuffle. Approximate
    * machinery (recall-gated in ScalaTest, not the DuckDB oracle).
    */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    docs.select(
      col("doc_id"),
      VectorFunctions.minhashSignature(
        VectorFunctions.wordShingles(col("text"), n), numHashes).as("signature"))

  /** MinHash + banded LSH near-dup pairs: signatures → band hashes →
    * bucket join → exact Jaccard verification of candidates ≥ threshold.
    * The band join is the scale path: candidates share a full band hash,
    * so the shuffle key space is (band, bandHash).
    */
  def minhashLshPairs(
      docs: DataFrame, n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // representative expansion over identical signatures — the same
    // skew cap as minhashLshPairsPortable (scaladoc there): the banded
    // self-join sees one row per DISTINCT signature per band; member
    // pairs are expanded afterwards. Candidate set identical.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("signature"))
    val withGid = minhashSignatures(docs, n, numHashes)
      .withColumn("gid", min(col("doc_id")).over(w))
      // both the band join and the expansion read this narrow frame;
      // without the cache the MinHash signature pass (the dominant
      // cost) runs once per concurrent first scan
      .persist()
    graft.CacheTracker.register(withGid)
    withGid.count() // populate before the four concurrent consumers
    val banded = withGid.where(col("doc_id") === col("gid"))
      .select(
        col("gid"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          bnd => xxhash64(array_join(
            transform(
              slice(col("signature"), bnd * lit(rowsPerBand) + 1, lit(rowsPerBand)),
              h => h.cast("string")),
            "_"))))
          .as(Seq("band", "band_hash")))
    val gpairs = banded.as("x")
      .join(banded.as("y"), Seq("band", "band_hash"))
      .where(col("x.gid") < col("y.gid"))
      .select(col("x.gid").as("ga"), col("y.gid").as("gb"))
      .distinct()
    val mem = withGid.select(col("gid"), col("doc_id"))
    val cand = gpairs
      .join(mem.select(col("gid").as("ga"), col("doc_id").as("ia")), Seq("ga"))
      .join(mem.select(col("gid").as("gb"), col("doc_id").as("ib")), Seq("gb"))
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"))
      .unionByName(mem.select(col("gid"), col("doc_id").as("doc_a"))
        .join(mem.select(col("gid"), col("doc_id").as("doc_b")), Seq("gid"))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")))
    // exact verification: join each side's shingle SET onto the pair and
    // compute Jaccard in one expression per pair — the shingle table is
    // never exploded or shuffled for verification. NO forced broadcast:
    // candidates are usually few and AQE converts these to broadcasts at
    // runtime when they are, but a permissive (bands, threshold) setting
    // can make the candidate set outgrow any broadcast bound, and a
    // forced hint would then OOM instead of degrading to a shuffle join
    // (same planner-owns-the-choice rationale as editDistancePairs).
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val sets = docs.select(
      col("doc_id"), VectorFunctions.wordShingles(col("text"), n).as("ss"))
    val withA = sets
      .join(cand, sets("doc_id") === cand("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("ss").as("ssa"))
    val withB = sets.select(col("doc_id").as("doc_b"), col("ss").as("ssb"))
      .join(withA, Seq("doc_b"))
    withB
      .select(col("doc_a"), col("doc_b"),
        round(bridge.column(graft.functions.ArrayJaccard(
          bridge.expression(col("ssa")), bridge.expression(col("ssb")))), 6)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Seed constants for the portable MinHash's affine permutations —
    * a pure function of the seed alone, derived from md5 so any engine
    * can restate them (in practice they are embedded as LITERALS in
    * the DuckDB twin, generated from these same functions). The
    * multiplier is 16-bit ODD: odd ⇒ ·a mod 2³² is a bijection (a
    * valid permutation), 16-bit ⇒ a·h + b stays below 2⁴⁹ — safe in
    * signed-64 arithmetic in BOTH engines (DuckDB BIGINT overflow
    * ERRORS rather than wrapping, so the bound is load-bearing).
    */
  def mhA(s: Int): Long = (mhConst(s"mh_a:$s", 4) | 1L)
  def mhB(s: Int): Long = mhConst(s"mh_b:$s", 8)
  private def mhConst(tag: String, hexLen: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tag.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(hexLen)
    java.lang.Long.parseLong(hex, 16)
  }

  /** md5-portable MinHash+LSH twin of [[minhashLshPairs]], engine-exact
    * in any engine with md5 (the Sketches/Dsir hash idiom): ONE strong
    * base hash per shingle (first-8-hex of md5, a 32-bit integer), one
    * AFFINE PERMUTATION per seed — sig(s) = min over shingles of
    * (a_s·h + b_s) mod 2³² — the same one-hash-many-permutations
    * construction as the xxhash64 fast path's MinHashSignature (the
    * first per-seed-md5 cut hashed shingles 16× and was the slowest
    * key in the whole bench at 5.6 s; this form is one md5 + integer
    * ops). Band key = the joined signature slice ITSELF (no second
    * hash), candidates = (band, band_key) equi-join, verification =
    * exact Jaccard ≥ threshold. Identical banded/bucketed scale shape
    * to the fast path — same shuffle keys, same no-all-pairs guarantee.
    */
  def minhashLshPairsPortable(
      docs: DataFrame, n: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rpb = numHashes / bands
    // one-pass WordShingles expression (the shingleSets discipline):
    // the transform(sequence)+slice+array_join HOF chain is interpreted
    // per gram and was this key's real wall (~7 CPU-s at sf0.1, serial
    // in the one-task scan stage); the expression emits the identical
    // distinct shingle strings, so every md5 downstream is unchanged
    val sh = docs.select(col("doc_id"),
      graft.functions.VectorFunctions.wordShingles(col("text"), n).as("ss"))
      // both the signature pass and the pair verification read the
      // shingle sets; cache the narrow frame so the split+slice pass
      // runs once
      .persist()
    graft.CacheTracker.register(sh)
    // signature = 16 min-aggregates over the EXPLODED shingle hashes
    // instead of 1+numHashes higher-order `transform`s per doc: HOF
    // lambdas run interpreted with per-element boxing (no whole-stage
    // codegen), and the old shape evaluated them serially inside the
    // one-task scan stage — measured ~7 CPU-s at sf0.1 for ~100k
    // shingle×hash evaluations. The explode + hash-aggregate form is
    // codegen end-to-end with map-side partials (the shuffle carries
    // one 16-long row per doc), and min-over-exploded-rows ≡
    // array_min-over-transform value for value (nulls skipped the same
    // way; ss is never empty by construction).
    val hs = sh
      .select(col("doc_id"), explode(col("ss")).as("sx"))
      .select(col("doc_id"),
        conv(substring(md5(col("sx")), 1, 8), 16, 10).cast("long").as("h"))
    val minAggs = (0 until numHashes).map { s =>
      min(pmod(col("h") * lit(mhA(s)) + lit(mhB(s)), lit(4294967296L)))
        .as(s"m$s")
    }
    val sig = hs.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(s => col(s"m$s")): _*).as("sig"))
    // REPRESENTATIVE EXPANSION (r19, guide §2.5 skew): duplicate texts
    // share the whole 16-minhash signature, so a size-g identical-
    // signature group used to put g rows into every one of its `bands`
    // buckets — the banded self-join's hot-bucket fan-out went
    // quadratic in g (one popular band key = one straggler task at
    // scale). Band-join ONE representative per distinct signature
    // (gid = min doc_id), then expand surviving group pairs to member
    // pairs: a member pair shares a band iff its representatives do,
    // and identical-signature pairs share every band — the candidate
    // set is EXACTLY the old one; verification is unchanged.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sig"))
    val withGid = sig
      .withColumn("gid", min(col("doc_id")).over(w))
      .persist() // the 16-md5-per-shingle pass runs once
    graft.CacheTracker.register(withGid)
    withGid.count() // populate before the self-join's concurrent scans
    val banded = withGid.where(col("doc_id") === col("gid"))
      .select(
        col("gid"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => array_join(transform(
            slice(col("sig"), b * lit(rpb) + lit(1), lit(rpb)),
            h => h.cast("string")), "_")))
          .as(Seq("band", "band_key")))
    val gpairs = banded.as("x")
      .join(banded.as("y"), Seq("band", "band_key"))
      .where(col("x.gid") < col("y.gid"))
      .select(col("x.gid").as("ga"), col("y.gid").as("gb"))
      .distinct()
    val mem = withGid.select(col("gid"), col("doc_id"))
    val candInter = gpairs
      .join(mem.select(col("gid").as("ga"), col("doc_id").as("ia")), Seq("ga"))
      .join(mem.select(col("gid").as("gb"), col("doc_id").as("ib")), Seq("gb"))
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"))
    val candIntra = mem.select(col("gid"), col("doc_id").as("doc_a"))
      .join(mem.select(col("gid"), col("doc_id").as("doc_b")), Seq("gid"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val cand = candInter.unionByName(candIntra)
    val withA = sh
      .join(cand, sh("doc_id") === cand("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("ss").as("ssa"))
    val withB = sh.select(col("doc_id").as("doc_b"), col("ss").as("ssb"))
      .join(withA, Seq("doc_b"))
    val common = size(array_intersect(col("ssa"), col("ssb")))
    withB
      .select(col("doc_a"), col("doc_b"),
        round(common.cast("double") /
          (size(col("ssa")) + size(col("ssb")) - common), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** md5-portable SimHash signature as four 16-bit chunks (c0..c3,
    * low bits first): per-token 64-bit hash = md5 first 16 hex split
    * into two 32-bit halves, per-bit ±1 votes over the DISTINCT token
    * set, chunk = the packed sign bits. Emitting the chunks instead of
    * one packed 64-bit value keeps every engine inside signed-BIGINT
    * arithmetic (bit 63 would wrap a signed 64-bit pack differently
    * across engines). One groupBy with 64 map-side-partial sums — no
    * explode amplification, codegen-friendly.
    */
  def simhashChunksPortable(docs: DataFrame): DataFrame = {
    val th = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long").as("lo"))
    val aggs = (0 until 64).map { b =>
      val src = if (b < 32) col("lo") else col("hi")
      val bit = shiftrightunsigned(src, b % 32).bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"v$b")
    }
    val votes = th.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val chunkCols = (0 until 4).map { c =>
      (0 until 16).map { j =>
        when(col(s"v${16 * c + j}") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"c$c")
    }
    votes.select((col("doc_id") +: chunkCols): _*)
  }

  /** md5-portable SimHash near-dup pairs: the same 16-bit-chunk
    * pigeonhole banding as [[simhashPairs]] (exact for maxHamming ≤ 3)
    * over [[simhashChunksPortable]] signatures — the join is an
    * equi-join on (chunk index, chunk value), never a cross product,
    * and the Hamming distance is the bit_count sum over the four
    * chunk XORs.
    */
  def simhashPairsPortable(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding is only exact for maxHamming <= 3")
    // chunks ride as four flat columns (not an array): the Hamming
    // distance is then four codegen bit_count terms instead of an
    // interpreted zip_with + aggregate HOF pair (r18), value-identical.
    //
    // REPRESENTATIVE EXPANSION (r19, guide §2.5 skew): duplicate texts
    // produce IDENTICAL signatures, and a size-g identical-signature
    // group used to put g rows into every one of its four
    // (chunk_idx, chunk_val) buckets — the pigeonhole self-join's
    // hot-bucket fan-out went quadratic in g (~1M candidate rows at
    // sf0.1; one popular chunk value = one straggler task at scale).
    // Group identical signatures first (gid = min doc_id), self-join
    // ONE representative per distinct signature, then expand the
    // surviving group pairs to member pairs. Exact: Hamming depends
    // only on the signature, intra-group pairs are Hamming 0, and an
    // inter-group member pair shares a chunk iff its representatives
    // do. The expansion is output-proportional work; the join fan-out
    // is capped by distinct-signature counts.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c0"), col("c1"), col("c2"), col("c3"))
    val withGid = simhashChunksPortable(docs)
      .withColumn("gid", min(col("doc_id")).over(w))
      .persist() // feeds reps, the expansion joins and the intra pairs
    graft.CacheTracker.register(withGid)
    withGid.count() // populate before concurrent consumers
    val banded = withGid.where(col("doc_id") === col("gid"))
      .select(col("gid"), col("c0"), col("c1"), col("c2"), col("c3"),
        posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
          .as(Seq("chunk_idx", "chunk_val")))
    val a = banded.select(col("gid").as("ga"),
      col("c0").as("a0"), col("c1").as("a1"),
      col("c2").as("a2"), col("c3").as("a3"),
      col("chunk_idx"), col("chunk_val"))
    val b = banded.select(col("gid").as("gb"),
      col("c0").as("b0"), col("c1").as("b1"),
      col("c2").as("b2"), col("c3").as("b3"),
      col("chunk_idx"), col("chunk_val"))
    val gpairs = a.join(b.hint("shuffle_hash"), Seq("chunk_idx", "chunk_val"))
      .where(col("ga") < col("gb"))
      .select(col("ga"), col("gb"),
        (0 until 4).map(i =>
          bit_count(col(s"a$i").bitwiseXOR(col(s"b$i"))).cast("long"))
          .reduce(_ + _).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    val mem = withGid.select(col("gid"), col("doc_id"))
    // inter-group: each member pair appears exactly once (a doc belongs
    // to one group, group pairs are distinct) — no re-distinct needed
    val inter = gpairs
      .join(mem.select(col("gid").as("ga"), col("doc_id").as("ia")), Seq("ga"))
      .join(mem.select(col("gid").as("gb"), col("doc_id").as("ib")), Seq("gb"))
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("hamming"))
    // intra-group: identical signatures, Hamming 0 — these pairs ARE
    // the output rows the old hot buckets were enumerating
    val intra = mem.select(col("gid"), col("doc_id").as("doc_a"))
      .join(mem.select(col("gid"), col("doc_id").as("doc_b")), Seq("gid"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    inter.unionByName(intra)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-duplicate pairs: all (a, b) whose 64-bit signatures are
    * within `maxHamming` bits, found via a banded equi-join on 16-bit
    * signature chunks — by pigeonhole, a pair within k < 4 bits must agree
    * exactly on at least one of the 4 chunks, so the join is an equi-join
    * on (chunk index, chunk value) and never a cross product. Exact w.r.t.
    * the signatures for maxHamming ≤ 3.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding is only exact for maxHamming <= 3")
    // representative expansion over identical 64-bit signatures — the
    // same skew cap as simhashPairsPortable (scaladoc there): the
    // pigeonhole self-join sees one row per DISTINCT signature per
    // chunk, member pairs are expanded afterwards. Output identical.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("simhash"))
    val withGid = simhash(docs)
      .withColumn("gid", min(col("doc_id")).over(w))
      .persist() // feeds reps, the expansion joins and the intra pairs
    graft.CacheTracker.register(withGid)
    withGid.count() // populate before concurrent consumers
    val banded = withGid.where(col("doc_id") === col("gid"))
      .select(col("gid"), col("simhash"),
        posexplode(array((0 until 4).map(c =>
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("chunk_idx", "chunk_val")))
    val a = banded.select(col("gid").as("ga"), col("simhash").as("sig_a"),
      col("chunk_idx"), col("chunk_val"))
    val b = banded.select(col("gid").as("gb"), col("simhash").as("sig_b"),
      col("chunk_idx"), col("chunk_val"))
    val gpairs = a.join(b.hint("shuffle_hash"), Seq("chunk_idx", "chunk_val"))
      .where(col("ga") < col("gb"))
      .select(col("ga"), col("gb"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    val mem = withGid.select(col("gid"), col("doc_id"))
    val inter = gpairs
      .join(mem.select(col("gid").as("ga"), col("doc_id").as("ia")), Seq("ga"))
      .join(mem.select(col("gid").as("gb"), col("doc_id").as("ib")), Seq("gb"))
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("hamming"))
    val intra = mem.select(col("gid"), col("doc_id").as("doc_a"))
      .join(mem.select(col("gid"), col("doc_id").as("doc_b")), Seq("gid"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0).as("hamming"))
    inter.unionByName(intra)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash over distinct token hashes: sign of the per-bit vote
    * sum, computed in one pass by the SimHash64 expression (the 64-HOF-
    * aggregates formulation walked the array once per bit, interpreted).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    docs.select(
      col("doc_id"),
      bridge.column(graft.functions.SimHash64(
        bridge.expression(TextAnalysis.tokens(col("text"))))).as("simhash"))
  }
}
