package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The composed training-data pipeline — the end-to-end flow the individual
  * operators exist for: exact dedup → quality floor → language filter →
  * token budget. One declarative plan up to admission; Catalyst fuses the
  * filters and the only wide shuffles are the dedup fingerprint groupBy and
  * the admission range-repartition.
  *
  * Token budget: documents are admitted in deterministic (quality desc,
  * doc_id) order until the cumulative token count exceeds the budget — the
  * standard "best docs first until the budget is spent" selection.
  *
  * The running sum is the shared PrefixSum: range-partitioned two-pass at
  * scale, size-gated down to a single-partition window when the filtered
  * set is small enough that one partition is the right plan. Its internal
  * cache keeps the tokenization + dedup lineage from re-running.
  */
object TrainingPipeline {

  def select(
      spark: SparkSession,
      dir: String,
      minQuality: Double,
      lang: String,
      tokenBudget: Long): DataFrame =
    admit(scoredKeepers(spark, dir, minQuality, lang), tokenBudget)

  /** The select flow with a SEMANTIC dedup stage between the token-level
    * dedup and the budget: documents whose aligned embedding (the
    * fixtures' shared id domain) is a SemDeDup within-cluster duplicate
    * are dropped before admission — the full "exact + semantic hygiene,
    * then spend the budget on what's left" composition. Each stage is a
    * library operator; the anti-join key frame is (dropped ids), so the
    * extra stage never carries text or vectors.
    */
  def selectSemantic(
      spark: SparkSession,
      dir: String,
      minQuality: Double,
      lang: String,
      tokenBudget: Long,
      eps: Double,
      nCentroids: Int): DataFrame = {
    val dropped = SemanticDedup
      .semanticDedup(Tables.embeddings(spark, dir), eps, nCentroids)
      .where(col("kept") === 0)
      .select(col("vec_id").as("doc_id"))
    admit(
      scoredKeepers(spark, dir, minQuality, lang)
        .join(dropped, Seq("doc_id"), "left_anti"),
      tokenBudget)
  }

  /** Deterministic budget admission over a (doc_id, quality, n_tokens)
    * frame: best quality first, id tie-break, shared prefix sum.
    */
  private def admit(scored: DataFrame, tokenBudget: Long): DataFrame = {
    // runningSum caches the narrow projection internally (so the
    // tokenization + dedup lineage runs once no matter which path its
    // size gate takes) — no caller-side persist needed
    val narrow = scored
      .select(col("doc_id").cast("long"), col("quality"),
        col("n_tokens").cast("long"))
    PrefixSum.runningSum(
      narrow, Seq(col("quality").desc, col("doc_id")), col("n_tokens"),
      "cum_tokens")
      .where(col("cum_tokens") <= tokenBudget)
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("cum_tokens"))
  }

  /** Fingerprint-deduped, quality- and language-filtered docs with their
    * metrics: the shared front half of select/selectSemantic.
    */
  private def scoredKeepers(
      spark: SparkSession,
      dir: String,
      minQuality: Double,
      lang: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Dedup + scoring fused into ONE shuffle: metrics are pure functions
    // of the text, so documents with the same fingerprint have identical
    // metrics — the min-doc_id keeper (≙ Dedup.exact) can be selected
    // with a map-side-combined min_by on the fingerprint group, carrying
    // its metrics along, instead of a groupBy + semi-join back (two wide
    // stages in rounds 1-2). Metrics compute map-side before the shuffle.
    val toks = TextAnalysis.tokens(col("text"))
    val scored = docs
      .select(
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        struct(
          col("doc_id"),
          TextAnalysis.qualityCol(toks).as("quality"),
          TextAnalysis.langPred(toks).as("pred_lang"),
          size(toks).as("n_tokens")).as("m"))
      .groupBy(col("fingerprint"))
      .agg(min_by(col("m"), col("m.doc_id")).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.quality").as("quality"),
        col("m.pred_lang").as("pred_lang"), col("m.n_tokens").as("n_tokens"))
      .where(col("quality") >= minQuality && col("pred_lang") === lang)
    scored
  }

  /** The FULL corpus-assembly flow, composing every round-3 hygiene op in
    * the order a production pretraining pipeline runs them:
    *
    *   1. transitive near-dup clustering → keep one doc per cluster
    *      (subsumes exact dedup: identical texts share all shingles);
    *   2. benchmark decontamination → drop docs sharing any word n-gram
    *      with the held-out set;
    *   3. quality floor + repetition caps (Gopher-style);
    *   4. domain-mixture sampling (per-source keep fractions);
    *   5. token budget in (quality desc, doc_id) order — distributed
    *      prefix sum;
    *   6. sequence-packing manifest over the admitted docs.
    *
    * Every stage is one of the library's operators; the composition is
    * one lazy plan per stage boundary with the same scale shapes as the
    * parts. Returns the packing manifest of the admitted corpus:
    * (doc_id, n_tokens, start_offset, first_seq, last_seq).
    * Invariants gated in PipelineE2ESpec.
    *
    * Round-6 opt-in stages (defaults preserve the round-3 flow):
    *  - `passageScrubTokens = Some(w)`: span-level scrubbing between
    *    decontamination and quality — each doc's text is replaced by its
    *    passage-deduped form (Dedup.passageDedup; RefinedWeb order:
    *    quality then scores the SCRUBBED text), docs scrubbed to nothing
    *    drop;
    *  - `semanticDecontam = Some((embeddings, eps))`: embedding-space
    *    leak quarantine (Decontamination.semanticScan) alongside the
    *    n-gram scan — embeddings keyed by vec_id on the fixtures'
    *    aligned id domain;
    *  - `shuffleSeed = Some(s)`: the final manifest packs in the
    *    deterministic md5(doc_id:s) shuffle order (Sampling.shuffledOrder
    *    semantics) instead of doc_id order — training order, not crawl
    *    order.
    *  - `curriculumBands = Some(b)` (round 11): the manifest packs in
    *    CURRICULUM order — quality bands descending (band = ⌊quality·b⌋
    *    from the stage-3 score, no extra pass), md5-shuffled within a
    *    band (seeded by shuffleSeed when also given) — the
    *    [[curriculumOrder]] discipline applied to the flagship
    *    composition's packing stage.
    *
    * `stageObserver` (default no-op, zero cost) is handed each stage
    * boundary's (name, frame) for attrition reporting — the soak harness
    * counts them; an observer that forces actions pays that cost itself.
    */
  def assembleCorpus(
      docs: DataFrame,
      benchmark: DataFrame,
      minQuality: Double,
      maxDup3gram: Double,
      mixtureWeights: Map[String, Double],
      defaultFraction: Double,
      tokenBudget: Long,
      seqLen: Int,
      dedupNgram: Int = 3,
      dedupThreshold: Double = 0.3,
      decontamNgram: Int = 4,
      passageScrubTokens: Option[Int] = None,
      semanticDecontam: Option[(DataFrame, Double)] = None,
      shuffleSeed: Option[Long] = None,
      curriculumBands: Option[Int] = None,
      stageObserver: (String, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    // 1. one doc per near-dup cluster
    val keepers = Dedup.dedupClusters(docs, dedupNgram, dedupThreshold)
      .where(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"))
    val deduped = docs.join(keepers, Seq("doc_id"), "left_semi")
    stageObserver("dedup_clusters", deduped)
    // 2. decontamination (overlap scan output = quarantine list)
    val contaminated = Decontamination.scan(deduped, benchmark, decontamNgram)
      .select(col("doc_id"))
    val ngramClean0 = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    // the opt-in stages each read their input twice (scan side + join
    // side) — cache it when a stage is active so the dedup-cluster +
    // decontamination lineage above runs ONCE, not per consumer (the
    // same rule the stage-3 cache below applies)
    val ngramClean =
      if (semanticDecontam.isDefined)
        graft.CacheTracker.pin(ngramClean0)
      else ngramClean0
    // 2b. optional embedding-space leak quarantine
    val semClean0 = semanticDecontam match {
      case Some((emb, eps)) =>
        val benchEmb = emb.join(
          benchmark.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        // LOUD on a disjoint id domain: an empty benchmark embedding set
        // would silently report every contaminated doc as clean — the
        // winnowScanAgainst mismatch rule applied here
        require(!benchEmb.isEmpty,
          "assembleCorpus(semanticDecontam): no embedding's vec_id matches " +
            "a benchmark doc_id — the embeddings frame does not cover the " +
            "benchmark's id domain, so the semantic quarantine would no-op")
        val trainEmb = emb.join(
          ngramClean.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val flagged = Decontamination.semanticScan(trainEmb, benchEmb, eps)
          .select(col("vec_id").as("doc_id"))
        ngramClean.join(flagged, Seq("doc_id"), "left_anti")
      case None => ngramClean
    }
    val semClean =
      if (passageScrubTokens.isDefined)
        graft.CacheTracker.pin(semClean0)
      else semClean0
    stageObserver("ngram_clean", ngramClean)
    stageObserver("semantic_clean", semClean)
    // 2c. optional passage-level span scrub: quality scores the SCRUBBED
    // text; docs whose every passage was seen earlier drop
    val clean = passageScrubTokens match {
      case Some(w) =>
        val scrubbed = Dedup.passageDedup(semClean, w)
          .where(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text").as("text"))
        semClean.drop("text").join(scrubbed, Seq("doc_id"))
      case None => semClean
    }
    // 3. quality floor + repetition cap. `clean` feeds two branches
    // (the quality projection and repetitionStats), so it is cached —
    // otherwise the dedup + decontamination lineage above re-runs per
    // branch, and again for both sides of the budget semi-join below.
    val cleanCached = graft.CacheTracker.pin(clean)
    stageObserver("passage_scrubbed", cleanCached)
    val toks = TextAnalysis.tokens(col("text"))
    val qualityOk = cleanCached
      .select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.qualityCol(toks).as("quality"))
      .where(col("quality") >= minQuality)
      .join(
        TextAnalysis.repetitionStats(cleanCached)
          .where(col("dup_3gram_ratio") <= maxDup3gram)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    // 4. domain mixture — also referenced twice (budget scan + text
    // re-attach), so cached too
    val mixed = graft.CacheTracker.pin(
      Sampling.mixtureSample(
        qualityOk, "doc_id", "source", mixtureWeights, defaultFraction))
    stageObserver("quality_ok", qualityOk)
    stageObserver("mixture_sampled", mixed)
    // 5. token budget (best quality first, deterministic tie-break) —
    // the prefix sum runs on the NARROW (doc_id, quality, n_tokens)
    // projection so the range shuffle and its cached slice never carry
    // document text; the admitted ids semi-join the text back after
    val admitted = PrefixSum.runningSum(
      mixed.select(col("doc_id"), col("quality"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
      Seq(col("quality").desc, col("doc_id")), col("n_tokens"), "cum_tokens")
      .where(col("cum_tokens") <= tokenBudget)
      .select(col("doc_id"))
    // curriculum opt-in carries the quality BAND into the pack frame as
    // an order-carrier column (the packSequences __* contract) — the
    // band derives from the stage-3 quality already on `mixed`, so the
    // curriculum costs no extra scoring pass
    val budgeted = (curriculumBands match {
      case Some(b) => mixed.select(col("doc_id"), col("text"),
        least(floor(col("quality") * b).cast("long"), lit(b - 1L))
          .as("__band"))
      case None => mixed.select(col("doc_id"), col("text"))
    }).join(admitted, Seq("doc_id"), "left_semi")
    stageObserver("budget_admitted", budgeted)
    // 6. packing manifest over the admitted corpus — doc_id order, the
    // deterministic shuffle order when a seed is given, or curriculum
    // order (quality bands descending, md5 shuffle WITHIN band) when
    // curriculumBands is set
    val packOrder = (curriculumBands, shuffleSeed) match {
      case (Some(_), s) => Seq(col("__band").desc,
        Sampling.shuffleHash(col("doc_id"), s.getOrElse(42L)), col("doc_id"))
      case (None, Some(s)) =>
        Seq(Sampling.shuffleHash(col("doc_id"), s), col("doc_id"))
      case (None, None) => Seq(col("doc_id"))
    }
    Packing.packSequences(budgeted, seqLen, packOrder)
  }

  /** Static token-budget mixture PLAN — the data-mixing planning step
    * that precedes [[Sampling.mixtureSample]]: given target mixture
    * weights and a global token budget, report per source what is
    * AVAILABLE, what the target mixture DEMANDS, the keep fraction that
    * realizes it, and the shortfall where the source can't supply its
    * share (the number a pipeline operator reweights or upsamples
    * against — the DoReMi-style static reweighting input).
    *
    * Integer-exact throughout (the micro-units discipline): weights
    * quantize to micro on the driver; desired = budget·w_micro div 10⁶;
    * keep_fraction_micro = min(10⁶, desired·10⁶ div available) — all
    * BIGINT in any engine. Bounds: budget ≤ ~9·10¹² keeps budget·10⁶
    * inside a long; far above any single-plan budget.
    *
    * Scale shape: ONE map-side-combined aggregate over the corpus
    * (source-keyed token sums), then arithmetic on the bounded
    * source-count frame. Sources absent from `weights` get weight 0 —
    * surfaced with desired 0, not dropped, so the plan is an audit of
    * the whole corpus.
    */
  def mixturePlan(
      docs: DataFrame,
      weights: Map[String, Double],
      tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0 && tokenBudget <= 9000000000000L,
      s"tokenBudget $tokenBudget outside (0, 9e12]")
    require(weights.values.forall(w => w >= 0 && w <= 1), "weights in [0,1]")
    val wMicro = weights.map { case (s, w) => s -> math.round(w * 1e6) }
    val weightCol = wMicro.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (g, m)) => acc.when(col("source") === g, lit(m))
    }.otherwise(lit(0L))
    docs
      .groupBy(col("source"))
      // coalesce: a source whose texts are ALL NULL sums to NULL, and a
      // NULL available would otherwise ride through the keep-fraction
      // arithmetic as NULL on the Spark side while DuckDB's CASE
      // branches differently — state it as 0 (nothing available) in
      // BOTH engines (split() itself never yields 0 tokens: even ""
      // splits to one empty token, so NULL-text sources are the only
      // way to an empty source)
      .agg(coalesce(
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")), lit(0L))
        .as("available_tokens"))
      .select(col("source"), col("available_tokens"),
        weightCol.as("weight_micro"))
      .withColumn("desired_tokens",
        expr(s"($tokenBudget * weight_micro) div 1000000"))
      .withColumn("keep_fraction_micro",
        // a source with zero available tokens (all-empty text) can
        // satisfy nothing — keep 0, never divide: Spark's div would go
        // silently NULL here while the DuckDB twin ERRORS on x // 0,
        // a divergent edge (same guard stated in the oracle CTE)
        when(col("available_tokens") === 0, lit(0L))
          .otherwise(least(lit(1000000L),
            expr("(desired_tokens * 1000000) div available_tokens"))))
      .withColumn("shortfall_tokens",
        greatest(lit(0L), col("desired_tokens") - col("available_tokens")))
      .orderBy(col("source"))
  }

  /** Temperature-smoothed mixture plan — the multilingual/multi-source
    * balancing rule (exponent-smoothed sampling, the public method
    * behind multilingual BERT/XLM-R corpus mixing): instead of
    * hand-written weights, each source's share is
    *
    *   p_i = (n_i / N)^τ / Σ_j (n_j / N)^τ,
    *
    * with n_i the source's available tokens and τ ∈ (0, 1] the
    * temperature — τ = 1 reproduces natural proportions, τ → 0
    * approaches uniform, so low-resource sources are up-weighted
    * exactly as much as τ dictates. The smoothed shares then flow
    * through the same micro-integer plan arithmetic as
    * [[mixturePlan]] (desired tokens, keep fraction, shortfall), so
    * [[mixtureExecute]]/`streamingMixtureExecute` run the plan
    * unchanged.
    *
    * Exactness: shares are the only floats (pow + one round to micro);
    * everything downstream is integer. One bounded aggregate over the
    * source cardinality — the OVER () totals run on |sources| rows,
    * never the corpus.
    */
  def temperaturePlan(
      docs: DataFrame, tau: Double, tokenBudget: Long): DataFrame = {
    require(tau > 0 && tau <= 1, s"temperature $tau outside (0, 1]")
    require(tokenBudget > 0 && tokenBudget <= 9000000000000L,
      s"tokenBudget $tokenBudget outside (0, 9e12]")
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    docs
      .groupBy(col("source"))
      .agg(coalesce(
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")), lit(0L))
        .as("available_tokens"))
      .withColumn("total_tokens", sum(col("available_tokens")).over(w))
      .withColumn("pw",
        pow(col("available_tokens").cast("double") / col("total_tokens"),
          lit(tau)))
      .withColumn("weight_micro",
        round(col("pw") / sum(col("pw")).over(w) * 1e6).cast("long"))
      .drop("pw")
      .withColumn("desired_tokens",
        expr(s"($tokenBudget * weight_micro) div 1000000"))
      .withColumn("keep_fraction_micro",
        when(col("available_tokens") === 0, lit(0L))
          .otherwise(least(lit(1000000L),
            expr("(desired_tokens * 1000000) div available_tokens"))))
      .withColumn("shortfall_tokens",
        greatest(lit(0L), col("desired_tokens") - col("available_tokens")))
      .orderBy(col("source"))
  }

  /** EXECUTE a [[mixturePlan]]: keep each document iff its integer md5
    * draw clears the source's keep_fraction_micro — the whole predicate
    * is integer arithmetic (draw·10⁶ < fraction_micro·2³², both well
    * inside a long), so the kept set is a pure engine-portable function
    * of (doc_id, plan) and membership is append-stable per key, the
    * [[Sampling]] discipline stated in micro-units. The plan is bounded
    * at the source cardinality — a broadcast join, nothing shuffles.
    */
  def mixtureExecute(docs: DataFrame, plan: DataFrame): DataFrame = {
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    docs
      .join(broadcast(plan.select(col("source"), col("keep_fraction_micro"))),
        Seq("source"))
      .where(draw * lit(1000000L) <
        col("keep_fraction_micro") * lit(4294967296L))
      .drop("keep_fraction_micro")
  }

  /** Lift a computed plan frame into the source → keep_fraction_micro
    * map the STREAMING executor carries in its task closure
    * ([[graft.streaming.StreamingOps.streamingMixtureExecute]]) — a
    * bounded collect: the plan has one row per source by construction.
    */
  def planKeepFractions(plan: DataFrame): Map[String, Long] =
    plan.select(col("source"), col("keep_fraction_micro")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Plan → execute → AUDIT, closed loop: run [[mixturePlan]], apply it
    * with [[mixtureExecute]], and report per source what the sampler
    * actually realized against what the plan demanded — the per-source
    * deviation (in parts-per-million of desired) that tells an operator
    * whether the hash sampler's variance is inside tolerance before a
    * training run trusts the mixture. Sources the plan zeroes out audit
    * as realized 0.
    */
  def mixtureAudit(
      docs: DataFrame,
      weights: Map[String, Double],
      tokenBudget: Long): DataFrame = {
    val plan = graft.CacheTracker.pin(
      mixturePlan(docs, weights, tokenBudget)) // bounded: sources
    val realized = mixtureExecute(docs, plan)
      .groupBy(col("source"))
      .agg(sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
        .as("realized_tokens"))
    plan
      .join(realized, Seq("source"), "left")
      .select(col("source"), col("desired_tokens"),
        coalesce(col("realized_tokens"), lit(0L)).as("realized_tokens"))
      .withColumn("deviation_ppm",
        expr("(abs(realized_tokens - desired_tokens) * 1000000) div " +
          "greatest(desired_tokens, 1)"))
      .orderBy(col("source"))
  }

  /** Curriculum ordering — quality-banded training order: documents
    * band by quality (band = ⌊quality·nBands⌋ capped at nBands−1, the
    * IEEE expression stated identically in both engines), high bands
    * first, and WITHIN a band the deterministic md5 shuffle order (the
    * [[Sampling.shuffledOrder]] discipline) — so training sees
    * easy/clean documents first without ever seeing them in crawl
    * order. Output: (doc_id, band, pos), pos a global 1-based position.
    *
    * Scale shape: the position is the distributed prefix COUNT over the
    * (band desc, hash) order — [[PrefixSum.runningSum]]'s range-
    * partitioned two-pass, no global window above its size gate.
    */
  def curriculumOrder(
      docs: DataFrame,
      nBands: Int = 10,
      seed: Long = 42L): DataFrame = {
    require(nBands >= 1, s"nBands $nBands")
    val band = least(floor(col("quality") * nBands).cast("long"),
      lit(nBands - 1L))
    val scored = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), band.as("band"),
        Sampling.shuffleHash(col("doc_id"), seed).as("__h"))
    PrefixSum.runningSum(scored,
      Seq(col("band").desc, col("__h"), col("doc_id")), lit(1L), "pos")
      .select(col("doc_id"), col("band"), col("pos"))
      .orderBy(col("doc_id"))
  }
}
