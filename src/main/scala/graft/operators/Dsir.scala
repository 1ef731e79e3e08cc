package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR) — the hashed-n-gram
  * importance-weighting pass a pretraining pipeline runs to pull
  * target-distribution-like documents out of a raw web crawl (Xie et
  * al., "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023 — public paper; no reference-repo analog, this is
  * extension surface).
  *
  * The method: featurize every document as a bag of HASHED n-grams
  * (unigrams + bigrams of whitespace tokens, hashed into `buckets`
  * buckets), fit two bag-of-buckets unigram models — p̂ on the TARGET
  * corpus (the distribution you want more of) and q̂ on the RAW corpus
  * (the pool you are selecting from) — and weight each raw document by
  * its log importance ratio
  *
  *   log w(x) = Σ_b c_b(x) · (ln p̂_b − ln q̂_b),
  *
  * with Laplace (+1 over `buckets`) smoothing on both models. Selection
  * is top-k by weight — the zero-temperature limit of the paper's
  * Gumbel-top-k resampling (adding standard Gumbel noise to each log
  * weight before the top-k draws WITHOUT replacement from the softmax;
  * a portable noise column is one `md5`-uniform away, but the
  * deterministic limit is what the hash-exact oracle contract can
  * check, so that is the shipped face and the noisy draw is left to
  * the caller).
  *
  * Exactness discipline: the bucket hash is the engine-portable one
  * (first 8 md5 hex chars parsed as an integer — `Sketches`' count-min
  * row hash), bucket counts are exact longs, and the only floats are
  * the B per-bucket log ratios; each document's weight is rounded ONCE
  * at the end to 6 decimals (the `bigram_surprisal` precedent — counts
  * are small integers and ratio magnitudes O(10), so double
  * accumulation error ~1e-13 never reaches the 6th decimal).
  *
  * Scale shape (the 100 TB argument): featurization is a map-side
  * explode + one (doc_id, bucket)-keyed count (partial-aggregated;
  * key space per doc ≤ min(tokens, buckets)); each model is ONE
  * `buckets`-row aggregate; the ratio table is `buckets` rows and
  * rides a broadcast join; the per-document weight is one more
  * doc-keyed aggregate. No all-pairs anywhere, no driver state beyond
  * the B-row model — selecting from 100 TB is two linear passes.
  */
object Dsir {

  /** Engine-portable bucket of one n-gram: first 8 md5 hex chars parsed
    * base-16, mod `buckets` (non-negative — the parse yields [0, 2³²)).
    */
  def bucketOf(gram: Column, buckets: Int): Column =
    (conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % buckets)
      .as("bucket")

  /** Hashed unigram+bigram bag: (doc_id, bucket, c) with c the exact
    * multiplicity of the bucket in the document. Tokens are the
    * whitespace split ([[TextAnalysis.tokens]]); bigrams carry
    * multiplicity like [[TextAnalysis.repetitionStats]]'s n-gram list.
    */
  def features(docs: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val toks = docs
      .where(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val grams = toks.select(
      col("doc_id"),
      explode(concat(col("toks"), TextAnalysis.ngramList(col("toks"), 2)))
        .as("g"))
    grams
      .select(col("doc_id"), bucketOf(col("g"), buckets))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** The importance model: one row per bucket in [0, buckets) with the
    * smoothed log ratio ln p̂_b − ln q̂_b (target over raw). Exact long
    * counts for both corpora ride along for inspection. `buckets` rows
    * total — broadcast-sized by construction at any corpus scale.
    */
  def bucketLogRatios(
      raw: DataFrame, target: DataFrame, buckets: Int): DataFrame =
    bucketLogRatiosFrom(features(raw, buckets), features(target, buckets),
      buckets)

  /** Corpus-level bucket counts: (bucket, cnt) over ALL buckets in
    * [0, buckets), zeros included — the model's sufficient statistic.
    * Counts are plain mergeable longs, so an INCREMENTAL pipeline
    * stores this B-row table and folds new-document deltas in with
    * [[mergeCounts]] instead of ever re-featurizing history: the
    * incremental-dedup pattern applied to data selection.
    */
  def bucketCounts(docs: DataFrame, buckets: Int): DataFrame = {
    val spark = docs.sparkSession
    spark.range(0, buckets.toLong).toDF("bucket")
      .join(features(docs, buckets)
        .groupBy(col("bucket")).agg(sum(col("c")).as("c0")),
        Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("c0"), lit(0L)).as("cnt"))
  }

  /** Fold a delta's counts into stored counts — pure integer addition
    * on the B-row frames, associative and commutative, so any merge
    * tree over micro-batches yields the identical model.
    */
  def mergeCounts(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.select(col("bucket"), col("cnt"))
      .unionByName(delta.select(col("bucket"), col("cnt")))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** The (bucket, lr) model from stored count tables — exactly
    * [[bucketLogRatios]]' smoothing arithmetic, so a model refreshed
    * from merged increments is bit-identical to one refit from scratch.
    */
  def logRatiosFromCounts(
      qCounts: DataFrame, pCounts: DataFrame, buckets: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    qCounts.select(col("bucket"), col("cnt").as("qc"))
      .join(pCounts.select(col("bucket"), col("cnt").as("pc")), Seq("bucket"))
      .withColumn("qtot", sum(col("qc")).over(w))
      .withColumn("ptot", sum(col("pc")).over(w))
      .select(col("bucket"), col("qc"), col("pc"),
        (log((col("pc") + lit(1.0)) / (col("ptot") + lit(buckets.toDouble)))
          - log((col("qc") + lit(1.0)) / (col("qtot") + lit(buckets.toDouble))))
          .as("lr"))
  }

  /** [[bucketLogRatios]] from pre-computed feature frames — lets
    * [[importanceWeights]] reuse one cached raw featurization for both
    * the model fit and the scoring join.
    */
  def bucketLogRatiosFrom(
      rawFeats: DataFrame, targetFeats: DataFrame, buckets: Int): DataFrame = {
    val spark = rawFeats.sparkSession
    val qc = rawFeats
      .groupBy(col("bucket")).agg(sum(col("c")).as("qc"))
    val pc = targetFeats
      .groupBy(col("bucket")).agg(sum(col("c")).as("pc"))
    val all = spark.range(0, buckets.toLong).toDF("bucket")
      .join(qc, Seq("bucket"), "left")
      .join(pc, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("qc"), lit(0L)).as("qc"),
        coalesce(col("pc"), lit(0L)).as("pc"))
    // totals via an unpartitioned window over the B-row frame (tiny by
    // construction; never the corpus)
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    all
      .withColumn("qtot", sum(col("qc")).over(w))
      .withColumn("ptot", sum(col("pc")).over(w))
      .select(col("bucket"), col("qc"), col("pc"),
        (log((col("pc") + lit(1.0)) / (col("ptot") + lit(buckets.toDouble)))
          - log((col("qc") + lit(1.0)) / (col("qtot") + lit(buckets.toDouble))))
          .as("lr"))
  }

  /** Per-raw-document log importance weight under the target/raw hashed
    * n-gram models: (doc_id, n_feats, logw) with logw = the rounded
    * Σ c_b·lr_b and n_feats the exact feature count (unigrams +
    * bigrams). Higher logw = more target-like. Deterministic,
    * hash-exact, two linear passes over each corpus.
    */
  def importanceWeights(
      raw: DataFrame, target: DataFrame, buckets: Int): DataFrame = {
    // the raw featurization feeds BOTH the q̂ model and the per-doc
    // scoring join — cache it or the tokenize + explode + count runs
    // twice (the bigramSurprisal lesson; ≤ min(tokens, buckets) rows
    // per doc, spillable at corpus scale)
    val rawFeats = graft.CacheTracker.pin(features(raw, buckets))
    val lr = bucketLogRatiosFrom(rawFeats, features(target, buckets), buckets)
      .select(col("bucket"), col("lr"))
    rawFeats
      .join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_feats"),
        round(sum(col("c") * col("lr")), 6).as("logw"))
      .orderBy(col("doc_id"))
  }

  /** Score documents under a FIXED (bucket, lr) model — the serving /
    * streaming face: a trained model scores every newly ingested
    * document map-side (featurize + one broadcast join + one doc-keyed
    * aggregate), the quality-gate-on-ingest pattern. [[importanceWeights]]
    * is this with the model fit in the same plan.
    */
  def weightsWithModel(
      docs: DataFrame, lrModel: DataFrame, buckets: Int): DataFrame =
    features(docs, buckets)
      .join(broadcast(lrModel), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_feats"),
        round(sum(col("c") * col("lr")), 6).as("logw"))
      .orderBy(col("doc_id"))

  /** The paper's ACTUAL resample — Gumbel-top-k: draw
    * key_i = logw_i/τ + G_i with G_i standard Gumbel noise and take the
    * top k keys, which samples k documents WITHOUT replacement from
    * softmax(logw/τ) (the Gumbel-max trick). [[selectTop]] is the τ→0
    * limit. The noise is engine-portable and deterministic: the
    * uniform is the md5 draw u = (first-8-hex(md5(doc_id)) + 0.5)/2³²
    * (the KMV convention — u ∈ (0,1), never 0 or 1, so the double log
    * is always finite), G = −ln(−ln u), and the key rounds once to 6
    * decimals with doc_id tie-break — the same round-then-rank
    * discipline every distance-ranked face uses. Same TakeOrdered-heap
    * shape as selectTop.
    */
  def gumbelSample(
      raw: DataFrame, target: DataFrame, buckets: Int, k: Int,
      temperature: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(temperature > 0, s"temperature must be > 0, got $temperature")
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val keyed = importanceWeights(raw, target, buckets)
      .withColumn("gumbel_key",
        round(col("logw") / lit(temperature) - log(-log(u)), 6))
    val top = keyed
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("gumbel_key").desc, col("doc_id"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("logw"), col("gumbel_key"))
      .orderBy(col("rank"))
  }

  /** Top-k selection by importance weight — the zero-temperature
    * resample: (rank, doc_id, n_feats, logw), rank 1 = most
    * target-like, ties broken by doc_id. The k·⟨row⟩ result is
    * driver-bounded; at scale this is a TakeOrdered heap, never a full
    * sort.
    */
  def selectTop(
      raw: DataFrame, target: DataFrame, buckets: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // TakeOrdered cut FIRST (a bounded heap at scale), THEN the rank
    // window over the k surviving rows — never a corpus-wide sort
    val top = importanceWeights(raw, target, buckets)
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("logw").desc, col("doc_id"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_feats"), col("logw"))
      .orderBy(col("rank"))
  }
}
