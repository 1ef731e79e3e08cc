package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Knn

/** Physical-plan shape assertions (SURVEY §4.2 / §7 step 6): the plans the
  * 100 TB design depends on must actually be the plans Catalyst picks.
  */
class PlanSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  lazy val emb = Tables.embeddings(spark, sfDir)
  private def q0 = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))

  test("kNN plans as TakeOrderedAndProject (bounded heap, no global sort)") {
    val p = physical(Knn.knn(emb, q0, 10, VectorFunctions.cosine))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), s"unexpected full sort:\n$p")
  }

  test("query-side filter pushes to the parquet scan") {
    val p = physical(Knn.knn(emb, q0, 10, VectorFunctions.cosine))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)]"), p)
  }

  test("column pruning reaches the scan (label not read for kNN)") {
    val p = physical(Knn.knn(emb, q0, 10, VectorFunctions.cosine))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
  }

  test("metadata join is broadcast, not shuffled") {
    val meta = emb.select(col("vec_id"), col("label"))
    val p = physical(Knn.knnWithMetadata(emb, q0, meta, 10, VectorFunctions.cosine))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), s"metadata join fell back to SMJ:\n$p")
  }

  test("delete anti-join broadcasts the deleted-id side") {
    val dels = emb.where(col("vec_id") % 7 === 0).select(col("vec_id"))
    val p = physical(Knn.delete(emb, dels))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Broadcast"), s"anti-join should broadcast the small side:\n$p")
  }

  test("top-k aggregation uses partial (map-side) aggregation") {
    val p = physical(
      graft.operators.TextAnalysis.topTokens(Tables.documents(spark, sfDir), 20))
    // partial + final HashAggregate pair = map-side combine before shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("IVF assignment is an argmin aggregate, not a ranking window") {
    val p = physical(graft.operators.Ivf.assign(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
      nCentroids = 8, metric = VectorFunctions.cosine))
    assert(!p.contains("Window"), s"assignment still shuffles through a window:\n$p")
    // partial + final HashAggregate/ObjectHashAggregate pair = map-side combine
    assert("HashAggregate".r.findAllIn(p).length + "SortAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("trained-IVF assignment argmin is a graft_topk hash aggregate, not a window") {
    // hand-built model: this is a plan-shape test, training would add jobs
    val m = graft.operators.IvfTrained.Model(
      Array((0, Array.fill(8)(0.0)), (1, Array.fill(8)(1.0))), spherical = false)
    val p = physical(graft.operators.IvfTrained.assignWithDist(emb, m))
    assert(!p.contains("Window"), s"assignment still shuffles through a window:\n$p")
    // TypedImperative topK → ObjectHashAggregate with map-side partials:
    // the exchange carries one row per vector, not nCentroids
    assert(p.contains("ObjectHashAggregate") && p.contains("graft_topk"), p)
    assert(!p.contains("SortAggregate"),
      s"argmin regressed to a sort-based aggregate:\n$p")
  }

  test("semi/anti set-count queries are single plans with no driver actions") {
    // building the DataFrame must launch ZERO jobs (the r2 shape ran
    // eager .count() actions inside the builder). Warm the memoized table
    // reads first — parquet schema discovery launches its own small jobs
    // and is not what this test is about.
    graft.operators.Relational.semiAntiJoins(spark, sfDir)
    graft.operators.Relational.customerSetOps(spark, sfDir)
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val semiAnti = graft.operators.Relational.semiAntiJoins(spark, sfDir)
    val setOps = graft.operators.Relational.customerSetOps(spark, sfDir)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, s"query builders launched ${after - before} Spark job(s)")
    assert(physical(semiAnti).contains("Union"), physical(semiAnti))
    assert(physical(setOps).contains("Union"), physical(setOps))
  }

  test("distance expressions sit inside whole-stage codegen") {
    val df = emb.select(
      VectorFunctions.roundDist(
        VectorFunctions.cosine(col("embedding"), col("embedding"))).as("d"))
    // compact plan marks codegen stages with "*(n)"
    assert(physical(df).contains("*(1)"), physical(df))
  }

  test("dedup pair builders launch no Spark jobs at construction") {
    // the size gate reads planner stats, not a count() — constructing a
    // pair frame must stay action-free (plan inspection, speculative
    // composition, and lazy pipelines all construct without executing)
    val docs = Tables.documents(spark, sfDir)
    graft.operators.Dedup.ngramJaccardPairs(docs, 3, 0.3) // warm table memo
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    graft.operators.Dedup.ngramJaccardPairs(docs, 3, 0.3)
    graft.operators.Dedup.editDistancePairs(docs, 3, maxDist = 60, minShared = 5)
    graft.operators.Dedup.winnowPairs(docs, k = 12, w = 6, minShared = 30)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, s"pair builders launched ${after - before} job(s)")
  }

  test("scale-path dedup plan carries the prefix predicate + positional filter") {
    val docs = Tables.documents(spark, sfDir)
    spark.conf.set(graft.operators.Dedup.PrefixJoinMinDocsKey, "1")
    try {
      val p = physical(graft.operators.Dedup.ngramJaccardPairs(docs, 3, 0.3))
      // the per-doc prefix cut under the rarest-first rank window
      assert(p.contains("__pos"), s"no prefix rank in plan:\n$p")
      assert(p.contains("row_number"), p)
      // the ppjoin positional filter inside the self-join condition
      assert(p.contains("least(") && p.contains("CEIL("),
        s"no positional filter in join condition:\n$p")
      // the verify step recomputes exact overlap from the full sets
      assert(p.contains("array_intersect"), p)
    } finally spark.conf.unset(graft.operators.Dedup.PrefixJoinMinDocsKey)
  }

  test("embeddingNearDup joins on (bucket, salt), spreading a hot bucket") {
    val p = physical(graft.operators.Dedup.embeddingNearDup(
      emb, threshold = 0.5, dim = 64))
    assert(p.contains("__salt"), s"bucket join is unsalted:\n$p")
    // one graft_dot per pair on pre-normalized vectors (1 - dot distance)
    assert(p.contains("graft_dot"), p)
  }

  test("semanticDedup argmin is a graft_topk hash aggregate, never a SortAggregate") {
    val p = physical(graft.operators.SemanticDedup.semanticDedup(
      emb, eps = 0.65, nCentroids = 16))
    // a min(struct(...)) argmin would plan as SortAggregate and sort the
    // whole N x nCentroids crossJoin stream (~180 GB at the 500k soak)
    assert(p.contains("ObjectHashAggregate") && p.contains("graft_topk"), p)
    assert(!p.contains("SortAggregate"),
      s"argmin regressed to a sort-based aggregate:\n$p")
    // pair join salted; normalize-once via the codegen expression
    assert(p.contains("__salt") && p.contains("graft_l2normalize"), p)
  }

  test("bm25TopTerms ranks via WindowGroupLimit (map-side per-doc top-k)") {
    val p = physical(graft.operators.Ranking.bm25TopTerms(
      Tables.documents(spark, sfDir), 3))
    assert(p.contains("WindowGroupLimit"), s"no rank-limit pushdown:\n$p")
    // the one corpus shuffle: partial (doc, token) aggregate before it
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("hybrid legs are bounded top-k and the lexical sum is integral") {
    val p = physical(graft.operators.Hybrid.rrfHybridSearch(
      Tables.documents(spark, sfDir), emb))
    // both legs capped before ranks: two bounded graft_topk(…, 50, …)
    // aggregates with map-side partials (the batch path's shape — no
    // global-Window single-partition rank anywhere)
    assert("partial_graft_topk\\([^)]*, 50,".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Window ["), s"global rank window reappeared:\n$p")
    // the order-free integer BM25 sum (quantized microunits)
    assert(p.contains("as bigint)") && p.contains("1000000.0"),
      s"lexical sum is not integer-quantized:\n$p")
    // corpus explode pruned against broadcast query terms BEFORE any agg:
    // the (doc_id, token) aggregate must sit ABOVE a broadcast token join
    val aggIdx = p.indexOf("HashAggregate(keys=[doc_id")
    assert(aggIdx >= 0, p)
    assert(p.indexOf("BroadcastHashJoin [token", aggIdx) >= 0,
      s"tf aggregate is not fed by the pruned (query-term) postings:\n$p")
  }

  test("passageDedup argmin is a hash aggregate on the packed long, not a struct sort") {
    val p = physical(graft.operators.Dedup.passageDedup(
      Tables.documents(spark, sfDir), passageTokens = 3))
    // the first-seen argmin must be min(BIGINT) — map-side combinable
    // HashAggregate — never min(struct(...)), which plans a SortAggregate
    // over the whole passage stream
    assert(!p.contains("SortAggregate"), s"struct-min SortAggregate appeared:\n$p")
    assert("HashAggregate[^\\n]*functions=\\[min".r.findFirstIn(p).isDefined, p)
    // no pair frame: the only joins are the text-keyed keeper equi-join
    // and the per-doc left join back
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("shuffledOrder takes the distributed prefix path on a forced-large frame") {
    // force the big path (threshold 0): positions must come from the
    // range-partitioned two-pass, not a global row_number window
    val df = Tables.documents(spark, sfDir).select(col("doc_id"))
    val h = md5(concat(col("doc_id").cast("string"), lit(":42")))
    val out = graft.operators.PrefixSum.runningSum(
      df.select(col("doc_id"), h.as("__h")),
      order = Seq(col("__h"), col("doc_id")),
      value = lit(1L), out = "pos", smallRowThreshold = 0L)
    val p = physical(out)
    assert(!p.contains("Window "), s"global window on the forced-large path:\n$p")
    graft.CacheTracker.releaseAll()
  }

  test("projectedKnnRerank: bounded cuts both stages, survivor ids broadcast") {
    val p = physical(graft.operators.Projection.projectedKnnRerank(
      emb, q0, 64, 16, k = 10, candFactor = 8))
    // stage 1 (projected cut) and stage 3 (final top-k) are both
    // bounded TakeOrdered heaps; the survivor join-back must broadcast
    // so full vectors never shuffle
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"survivor join fell to SMJ:\n$p")
  }

  test("bqSq8Knn: Hamming cut + SQ8 rerank bounded, candidates broadcast") {
    val p = physical(graft.operators.BinaryQuantization.bqSq8Knn(
      emb, q0, k = 10, candFactor = 8))
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"candidate join fell to SMJ:\n$p")
  }

  test("dsir: the documents scan prunes to the columns the query reads") {
    val docs = Tables.documents(spark, sfDir)
    val p = physical(graft.operators.Dsir.importanceWeights(
      docs.where(col("source") =!= "src0"),
      docs.where(col("source") === "src0"), buckets = 64))
    // featurization needs doc_id + text, the slice filter needs source;
    // lang and n_chars must never reach the parquet scan
    assert(!p.contains("n_chars"), s"n_chars read but unused:\n$p")
    assert(!p.contains("lang"), s"lang read but unused:\n$p")
    assert(p.contains("PushedFilters") || p.contains("Filter"), p)
  }

  test("portable minhash: band equi-join, never a cartesian or nested loop") {
    val docs = Tables.documents(spark, sfDir)
    val p = physical(graft.operators.Dedup.minhashLshPairsPortable(
      docs, n = 3, numHashes = 16, bands = 4, threshold = 0.3))
    assert(!p.contains("CartesianProduct"), s"band join degenerated:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    graft.CacheTracker.releaseAll()
  }

  test("portable simhash pairs: hinted shuffle-hash chunk join, hash aggregation") {
    val docs = Tables.documents(spark, sfDir)
    val p = physical(graft.operators.Dedup.simhashPairsPortable(
      docs, maxHamming = 3))
    assert(p.contains("ShuffledHashJoin"), s"chunk join lost its hint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the 64 vote sums must stay map-side-partial hash aggregates
    assert(!p.contains("SortAggregate"), s"vote sums fell to sort agg:\n$p")
    graft.CacheTracker.releaseAll()
  }

  test("opqKnn: rotation inside codegen matvec, bounded cut, broadcast rerank") {
    val p = physical(graft.operators.Opq.opqKnn(
      emb, q0, dim = 64, kCoarse = 4, coarseIters = 1, m = 4, kSub = 8,
      pqIters = 1, nProbe = 2, k = 10, candFactor = 8))
    assert(p.contains("graft_matvec"), s"rotation not the native matvec:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), s"rerank join fell to SMJ:\n$p")
    graft.CacheTracker.releaseAll()
  }

  test("sq8 resident rerank: candidates and queries broadcast back, no SMJ") {
    val shards = graft.index.HnswSpark.compressResident(
      graft.index.HnswSpark.buildResident(
        emb, graft.index.HnswSpark.Params(dim = 64), numPartitions = 2))
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val p = physical(graft.index.HnswSpark.searchResidentRerank(
      spark, shards, emb, queries, k = 5, candFactor = 4, ef = Some(64)))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"join-backs not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rerank join fell to SMJ:\n$p")
    shards.unpersist(blocking = false)
  }

  test("dsir: selection is a bounded TakeOrdered heap, model join broadcast") {
    val docs = Tables.documents(spark, sfDir)
    val p = physical(graft.operators.Dsir.selectTop(
      docs.where(col("source") =!= "src0"),
      docs.where(col("source") === "src0"), buckets = 64, k = 50))
    // the corpus-wide cut must be a heap, never a global sort of all
    // weights; the B-row model joins broadcast onto the feature frame
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"model join fell to SMJ:\n$p")
  }

  test("exactAdcKnn: ADC cut + rerank bounded, survivors broadcast") {
    val p = physical(graft.operators.ProductQuantization.exactAdcKnn(
      emb, q0, dim = 64, m = 4, kSub = 8, iterations = 2,
      k = 10, candFactor = 8))
    // ADC shortlist and final top-k are bounded TakeOrdered heaps; the
    // k·candFactor survivor ids broadcast back onto the full-dim frame
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"survivor join fell to SMJ:\n$p")
  }

  test("residualAdcKnn: probed-cell ADC cut + rerank bounded, survivors broadcast") {
    val p = physical(graft.operators.ProductQuantization.residualAdcKnn(
      emb, q0, dim = 64, kCoarse = 4, coarseIters = 2, m = 4, kSub = 8,
      pqIters = 2, nProbe = 2, k = 10, candFactor = 8))
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"survivor join fell to SMJ:\n$p")
  }

  test("knnGraphRefresh: no corpus-sized shuffle join, bounded merge re-cut") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins._
    val base = emb.select(col("vec_id"), col("embedding"))
    val st0 = graft.operators.Ivf.knnGraphBuild(base, 5, 16, 4)
    // persist the base edges as real callers do (soak / streaming loop
    // pin each generation): unpersisted, the refresh pins the BUILD's
    // salted candidate join itself, which legitimately shuffles
    val st = st0.copy(edges = st0.edges.persist())
    st.edges.count()
    val adds = base.where(col("vec_id") < 2)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    val before = graft.CacheTracker.registered()
    val refreshed = graft.operators.Ivf.knnGraphRefresh(st, adds,
      base.select(col("vec_id")).limit(0), 5, 16, 4).get.state
    // the refresh runs as eager jobs over frames it pins (cached, their
    // lineage cut), so the plans to check are every pinned frame's
    // cached plan plus the served edges plan. Walk each TREE, not the
    // string: InMemoryTableScan renders its cached inner plan into the
    // string (the build's salted shuffle join showed through and made
    // a string scan order-flaky), but collect() stops at cache
    // boundaries (innerChildren are rendering-only); the AQE wrapper
    // holds the tree outside children and must be unwrapped first.
    def tree(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => tree(a.inputPlan)
      case other => other
    }
    // a pinned frame's own plan is a scan of its cache: walk the plan
    // the cache was built from
    def cachedTree(p: SparkPlan): SparkPlan = tree(p) match {
      case s: InMemoryTableScanExec => cachedTree(s.relation.cacheBuilder.cachedPlan)
      case other => other
    }
    val pinned = graft.CacheTracker.registered().filterNot(f => before.exists(_ eq f))
    val plans = pinned.map(f => cachedTree(f.queryExecution.executedPlan)) :+
      tree(refreshed.edges.queryExecution.executedPlan)
    val shuffleJoins = plans.flatMap(_.collect {
      case j: SortMergeJoinExec => j.joinType.toString
      case j: ShuffledHashJoinExec => j.joinType.toString
    })
    val broadcastJoins = plans.flatMap(_.collect {
      case j: BroadcastHashJoinExec => j
    })
    val p = plans.mkString("\n----\n")
    st.edges.unpersist()
    assert(pinned.nonEmpty, "the refresh pinned no frames")
    assert(shuffleJoins.isEmpty,
      s"a refresh join shuffled ($shuffleJoins):\n$p")
    // positive control: the walk genuinely descends (semi/anti/inner
    // broadcast joins of the merge + full-recompute paths are visible)
    assert(broadcastJoins.size >= 4, s"walk saw too few joins:\n$p")
    // the merge path re-cuts through the bounded topk aggregate
    assert(p.contains("graft_topk"), p)
    graft.CacheTracker.releaseAll()
  }

  test("substringDupStats has no self-join: postings meet only the df>=2 set") {
    val p = physical(graft.operators.Dedup.substringDupStats(
      Tables.documents(spark, sfDir), k = 20))
    assert(p.contains("LeftSemi"), s"coverage is not a semi-join:\n$p")
    assert(p.contains("graft_winnow"), p)
    // df is an aggregate (map-side combined), never a posting self-join
    assert(!p.contains("SortMergeJoin [fp"), s"posting self-join appeared:\n$p")
  }
}
