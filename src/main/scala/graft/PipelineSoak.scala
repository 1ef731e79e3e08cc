package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.operators.{Behavior, Decontamination, TextAnalysis, TrainingPipeline}

/** Scale soak (suite `pipeline`) for the round-6 operator families that
  * until now had only sf0.1 numbers, plus the COMPOSED corpus-assembly
  * flow:
  *
  *   `ops` mode —
  *     - vocab_table over a ~2M-distinct-token, 50M-posting corpus (the
  *       scale where a single-partition vocabulary window would die; the
  *       distributed prefix count is the thing being soaked),
  *     - chunk_documents over the same 500k×100-token corpus,
  *     - funnel + cohort retention over 10M events / 200k users,
  *     - semanticScan over 500k×64-d embeddings with 100 PLANTED exact
  *       leaks (id % 5000 == 0 copies a benchmark vector) — the flagged
  *       set must be exactly the planted population.
  *   `pipeline` mode — assembleCorpus at 500k docs with ALL round-6
  *     stages on (passage scrub + semantic quarantine + shuffle-order
  *     packing) and planted populations per stage; reports end-to-end
  *     wall (clean run, no instrumentation) then per-stage row attrition
  *     from a SECOND, separately-executed observer run (caches are
  *     released between the two, so the attrition pass recomputes the
  *     lineage and pays its own counting cost — only run 1's e2e_sec is
  *     the performance number).
  *
  * All corpora are generated DISTRIBUTED (spark.range + hash columns, no
  * driver arrays) and deterministically (xxhash64 of the id), so runs are
  * reproducible and the planted populations are closed-form.
  *
  * Usage: graft.Soak pipeline [ops|pipeline|exactann|media|all] [nDocs]
  */
object PipelineSoak {

  /** n docs of `tokensPerDoc` hash-derived tokens over ~`vocab` distinct. */
  private def synthDocs(
      spark: SparkSession, n: Long, tokensPerDoc: Int, vocab: Int): DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(0), lit(tokensPerDoc - 1)),
        j => concat(lit("t"),
          pmod(xxhash64(col("id") * 31 + j), lit(vocab))))).as("text"))

  /** 64-d centered hash vector for key `k` (deterministic, mean ~0 so
    * random cosine similarity concentrates near 0).
    */
  private def hashVec(k: org.apache.spark.sql.Column) =
    transform(sequence(lit(0), lit(63)),
      i => (pmod(xxhash64(k * 67 + i), lit(2001)) - 1000).cast("double") / 1000.0)

  def opsSoak(spark: SparkSession, n: Long): Unit = {
    // generated outside the timed windows
    val docs = CacheTracker.fill(
      synthDocs(spark, n, tokensPerDoc = 100, vocab = 2000000))

    // --- vocabulary construction at ~2M distinct tokens ---------------
    val (vstats, vocabSec) = timed {
      val v = TextAnalysis.vocabTable(docs)
      v.agg(count(lit(1)), max(col("token_id")), sum(col("n"))).first()
    }
    val nVocab = vstats.getLong(0)
    assert(vstats.getLong(1) == nVocab, "token_id must be a dense 1..V bijection")
    emit("soak" -> "vocab_table", "n_docs" -> n, "distinct_tokens" -> nVocab,
      "total_postings" -> vstats.getLong(2), "sec" -> fixed(vocabSec, 1))

    // --- RAG chunking over the 50M-token corpus -----------------------
    val (cstats, chunkSec) = timed {
      TextAnalysis.chunkDocuments(docs, width = 64, stride = 48)
        .agg(count(lit(1)), countDistinct(col("doc_id"))).first()
    }
    assert(cstats.getLong(1) == n, "every doc must chunk")
    emit("soak" -> "chunk_documents", "n_docs" -> n, "n_chunks" -> cstats.getLong(0),
      "sec" -> fixed(chunkSec, 1))
    CacheTracker.releaseAll()

    // --- funnel + cohort retention over 10M events --------------------
    val nEvents = 10000000L
    // each user is active in a 4-week window starting at a hash-chosen
    // week 0..15 — so FIRST events (cohorts) genuinely spread across
    // ~16 weeks instead of min-of-50-uniforms collapsing them into week 0
    val week = 7L * 24 * 3600
    val events = CacheTracker.fill(spark.range(nEvents).select(
      (col("id") % 200000).as("user_id"),
      timestamp_seconds(lit(1704067200L) + // 2024-01-01
        pmod(xxhash64(col("id") % 200000), lit(16)) * week +
        pmod(xxhash64(col("id") * 13 + 1), lit(4 * week))).as("ts"),
      when(pmod(xxhash64(col("id") * 7 + 2), lit(10)) < 5, "view")
        .when(pmod(xxhash64(col("id") * 7 + 2), lit(10)) < 8, "click")
        .otherwise("purchase").as("event_type"),
      lit(1.0).as("value")))
    val (funnelRows, funnelSec) = timed {
      Behavior.funnel(events, Seq("view", "click", "purchase")).collect()
    }
    assert(funnelRows.length == 3)
    val funnelCounts = funnelRows.map(_.getAs[Long]("n_users")).toSeq
    assert(funnelCounts == funnelCounts.sorted.reverse, "funnel must be monotone")
    val (cohortStats, cohortSec) = timed {
      Behavior.cohortRetention(events)
        .agg(count(lit(1)), countDistinct(col("cohort_week"))).first()
    }
    emit("soak" -> "funnel_cohort", "n_events" -> nEvents, "n_users" -> 200000,
      "funnel_users" -> funnelCounts, "funnel_sec" -> fixed(funnelSec, 1),
      "retention_cells" -> cohortStats.getLong(0), "cohorts" -> cohortStats.getLong(1),
      "cohort_sec" -> fixed(cohortSec, 1))
    CacheTracker.releaseAll()

    // --- semantic decontamination scan with planted leaks -------------
    val bench = spark.range(100).select(
      col("id").as("vec_id"), hashVec(col("id") + 10000000L).as("embedding"))
    val train = CacheTracker.fill(spark.range(n).select(
      col("id").as("vec_id"),
      when(col("id") % 5000 === 0,
        hashVec((col("id") / 5000).cast("long") % 100 + 10000000L))
        .otherwise(hashVec(col("id"))).as("embedding")))
    val (flagged, scanSec) = timed {
      Decontamination.semanticScan(train, bench, eps = 0.001).collect()
    }
    val planted = (0L until n by 5000L).toSet
    assert(flagged.map(_.getLong(0)).toSet == planted,
      s"flagged ${flagged.length} != planted ${planted.size}")
    emit("soak" -> "semantic_scan", "n_train" -> n, "n_bench" -> 100,
      "planted" -> planted.size, "flagged" -> flagged.length, "sec" -> fixed(scanSec, 1))
    CacheTracker.releaseAll()
  }

  /** 500k-doc corpus with a planted population per pipeline stage. */
  private def pipelineCorpus(spark: SparkSession, n: Long): DataFrame = {
    // near-dup cliques: ids with id%100<5 share their clique base's text
    val base = when(col("id") % 100 < 5, col("id") - (col("id") % 100))
      .otherwise(col("id"))
    val commonBlock = (0 until 8).map(i => s"p$i").mkString(" ") // shared passage
    val bodyToks = transform(sequence(lit(0), lit(31)),
      j => concat(lit("w"), pmod(xxhash64(base * 53 + j), lit(500000))))
    val benchBlock = concat_ws(" ", transform(sequence(lit(0), lit(7)),
      j => concat(lit("b"), (col("id") / 1000).cast("long") % 500 * 100 + j)))
    spark.range(n).select(
      col("id").as("doc_id"),
      element_at(array(lit("web"), lit("books"), lit("code")),
        (col("id") % 3 + 1).cast("int")).as("source"),
      when(col("id") % 37 === 3, // repetition-junk: one token 40 times
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          _ => concat(lit("j"), col("id")))))
        .when(col("id") % 997 === 11, // all-duplicate-passage doc
          concat_ws(" ", flatten(transform(sequence(lit(0), lit(3)),
            _ => split(lit(commonBlock), " ")))))
        .when(col("id") % 1000 === 7, // benchmark-contaminated block
          concat_ws(" ", concat(slice(bodyToks, 1, 10),
            split(benchBlock, " "), slice(bodyToks, 19, 14))))
        .when(col("id") % 50 === 9, // shared leading passage, unique tail
          concat_ws(" ", concat(split(lit(commonBlock), " "),
            slice(bodyToks, 9, 24), array(concat(lit("m"), col("id"))))))
        .otherwise(
          concat_ws(" ", concat(bodyToks, array(concat(lit("m"), col("id"))))))
        .as("text"))
  }

  def pipelineSoak(spark: SparkSession, n: Long): Unit = {
    val benchIds = spark.range(500).select((col("id") + 10000000L).as("doc_id"))
    val benchmark = benchIds.select(
      col("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(7)),
        j => concat(lit("b"), (col("doc_id") - 10000000L) * 100 + j))).as("text"))
    val docs = CacheTracker.fill(pipelineCorpus(spark, n))
    // embeddings over train ∪ bench ids; id % 2500 == 13 copies a bench vector
    val emb = docs.select(col("doc_id").as("vec_id")).select(
      col("vec_id"),
      when(col("vec_id") % 2500 === 13,
        hashVec((col("vec_id") / 2500).cast("long") % 500 + 10000000L))
        .otherwise(hashVec(col("vec_id"))).as("embedding"))
      .unionAll(benchIds.select(col("doc_id").as("vec_id"),
        hashVec(col("doc_id")).as("embedding")))

    def assemble(observer: (String, DataFrame) => Unit) =
      TrainingPipeline.assembleCorpus(
        docs, benchmark,
        minQuality = 0.05, maxDup3gram = 0.5,
        mixtureWeights = Map("web" -> 0.8, "books" -> 0.5, "code" -> 0.2),
        defaultFraction = 1.0,
        tokenBudget = 6000000L, seqLen = 512,
        passageScrubTokens = Some(8),
        semanticDecontam = Some((emb, 0.001)),
        shuffleSeed = Some(7L),
        stageObserver = observer)

    // run 1: clean end-to-end wall time, no instrumentation
    val (packStats, e2eSec) = timed {
      assemble((_, _) => ())
        .agg(count(lit(1)), max(col("last_seq")), sum(col("n_tokens"))).first()
    }
    CacheTracker.releaseAll()
    // run 2: per-stage attrition (counts force each boundary once)
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val packed = assemble((name, df) => stages(name) = df.count())
    val packedDocs = CacheTracker.pin(packed)
    val nPacked = packedDocs.count()
    // planted populations must be absent from the admitted set
    val admittedIds = packedDocs.select(col("doc_id"))
    val contaminatedIn = admittedIds.where(col("doc_id") % 1000 === 7).count()
    val semLeakIn = admittedIds.where(col("doc_id") % 2500 === 13).count()
    val junkIn = admittedIds.where(col("doc_id") % 37 === 3).count()
    assert(contaminatedIn == 0, s"$contaminatedIn n-gram-contaminated docs admitted")
    assert(semLeakIn == 0, s"$semLeakIn semantic-leak docs admitted")
    assert(junkIn == 0, s"$junkIn repetition-junk docs admitted")
    emit("soak" -> "assemble_corpus", "n_docs" -> n, "e2e_sec" -> fixed(e2eSec, 1),
      "stages" -> json(("input" -> n) +: stages.toSeq :+ ("packed_docs" -> nPacked): _*),
      "n_sequences" -> (packStats.getLong(1) + 1), "admitted_tokens" -> packStats.getLong(2))
    CacheTracker.releaseAll()
  }

  /** Exact-ANN serving soak: 500k CLUSTERED 64-d vectors (the workload a
    * trained quantizer exists for), one-time build (train + assign,
    * reported separately — the long-lived serving artifact), then a
    * 100-query batch served both ways: brute-force knnBatch vs
    * knnExactBatch through the quantizer. The two must be row-identical
    * (the triangle-inequality guarantee at scale); the measured ratio is
    * the pruning payoff.
    */
  def exactAnnSoak(spark: SparkSession, n: Long, nCells: Int = 64): Unit = {
    import graft.operators.{IvfTrained, Knn}
    import graft.functions.VectorFunctions
    val nClusters = nCells
    // cluster centers are hash vectors; members = center + small hash jitter
    val center = hashVec(col("id") % nClusters + 20000000L)
    val jitter = transform(sequence(lit(0), lit(63)),
      i => (pmod(xxhash64(col("id") * 101 + i), lit(2001)) - 1000)
        .cast("double") / 10000.0) // 10% of center scale
    val vecs = CacheTracker.fill(spark.range(n).select(
      col("id").as("vec_id"),
      zip_with(center, jitter, (a, b) => a + b).as("embedding")))
    val queries = CacheTracker.fill(
      vecs.where(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))

    val ((m, assigned), buildSec) = timed {
      val m = IvfTrained.train(vecs, nCentroids = nClusters, spherical = true)
      // materialize the serving artifact
      (m, CacheTracker.fill(IvfTrained.assignWithDist(vecs, m)))
    }
    val (brute, bruteSec) = timed {
      Knn.knnBatch(vecs, queries, k = 10, VectorFunctions.cosine)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted.toSeq
    }
    val (pruned, prunedSec) = timed {
      IvfTrained.knnExactBatch(vecs, queries, m, k = 10, nProbeSeed = 4,
        preAssigned = Some(assigned))
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"))).sorted.toSeq
    }
    assert(pruned == brute, "pruned exact batch diverged from brute force")
    emit("soak" -> "exact_ann_serving", "n_vectors" -> n, "n_queries" -> 100,
      "n_cells" -> nClusters, "build_sec" -> fixed(buildSec, 1),
      "brute_batch_sec" -> fixed(bruteSec, 1), "pruned_batch_sec" -> fixed(prunedSec, 1),
      "row_identical" -> true)
    CacheTracker.releaseAll()
  }

  /** Media profile soak: the corpus profile over the planted-corruption
    * mixed table at n images (the per-format decode throughput, PNG
    * included, is the media suite's).
    */
  def mediaSoak(spark: SparkSession, n: Long): Unit = {
    import graft.operators.Multimodal
    val mixed = CacheTracker.fill(Multimodal.synthesizeMixedImageTable(
      spark, spark.range(n).select(col("id").as("doc_id"))))
    val (prof, profSec) = timed {
      Multimodal.mediaProfile(spark, mixed).collect()
    }
    val corrupt = prof.map(_.getAs[Long]("n_corrupt")).sum
    assert(corrupt == (n + 16) / 17, s"corrupt $corrupt != planted ${(n + 16) / 17}")
    emit("soak" -> "media_profile", "n_images" -> n, "formats" -> prof.length,
      "planted_corrupt" -> corrupt, "sec" -> fixed(profSec, 1))
    CacheTracker.releaseAll()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "all"
    val n = if (args.length > 1) args(1).toLong else 500000L
    if (mode == "ops" || mode == "all") opsSoak(spark, n)
    if (mode == "pipeline" || mode == "all") pipelineSoak(spark, n)
    if (mode == "exactann" || mode == "all") exactAnnSoak(spark, n,
      if (args.length > 2) args(2).toInt else 64)
    if (mode == "media" || mode == "all") mediaSoak(spark, n)
  }
}
