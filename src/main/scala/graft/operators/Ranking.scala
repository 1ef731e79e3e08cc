package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 term relevance over the corpus (Robertson & Zaragoza 2009,
  * "The Probabilistic Relevance Framework: BM25 and Beyond") — the
  * standard keyword-extraction / lexical-relevance signal an LLM data
  * pipeline uses for topic tagging, retrieval-based mixing, and
  * quality-weighted sampling (no reference analog — the reference ranks
  * by vector distance only; this is its lexical complement).
  *
  * Scale shape: tokenize → explode → ONE (doc, term) aggregate with
  * map-side combine (the corpus-sized shuffle), then a vocabulary-keyed
  * document-frequency aggregate over that frame (shuffle key space =
  * vocabulary; hot stopword terms are absorbed by partial aggregation,
  * not a join fan-out), a broadcast of the two corpus scalars
  * (N, avgdl), and a per-doc top-k window partitioned by doc_id. No
  * driver-side state, no cross join larger than the scalar broadcast.
  *
  * Deterministic: tf/df/doclen are integers, avgdl is an exact integer
  * sum over count, and the score is one fixed-shape double expression
  * rounded to 6 decimals — DuckDB reproduces it bit-exactly (the oracle
  * mirrors the same parenthesization), with ties broken by token.
  */
object Ranking {

  /** Per-document top-k BM25 terms: (doc_id, token, score, rank), rank
    * 1..k by score descending, ties by token ascending. Uses the
    * standard "plus 0.5" idf = ln(1 + (N − df + 0.5)/(df + 0.5)) —
    * always positive, so stopwords rank low instead of negative-flipping.
    */
  def bm25TopTerms(
      docs: DataFrame,
      topK: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (tf, df, corpus) = tfDfCorpus(docs)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("token"),
        round(termScore(k1, b), 6).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("token"), col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** The three BM25 input frames: the cached (doc_id, token, dl, tf)
    * aggregate (the ONE corpus-sized shuffle), the vocabulary-keyed
    * document frequencies, and the (n_docs, avgdl) scalar pair.
    * (The hybrid lexical leg deliberately does NOT use this: it prunes
    * to query-term postings before any aggregate instead.)
    */
  private[graft] def tfDfCorpus(
      docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val toks = TextAnalysis.tokens(col("text"))
    // null-text rows produce no tokens in EITHER engine (split(null) →
    // no tf rows), so they must not count toward n_docs/avgdl either;
    // doc_id uniqueness is the documents-schema contract (FIXTURES.md)
    val present = docs.where(col("text").isNotNull)
    // the tf aggregate is this frame's ONE heavy consumer — the
    // Tables.fanOut contract (single-partition small scans tokenize on
    // one core otherwise; measured 2.39 → 1.43 s at sf0.1)
    val exploded = graft.Tables.fanOut(present).select(
      col("doc_id"), size(toks).cast("double").as("dl"),
      explode(toks).as("token"))
    val tf = exploded
      .groupBy(col("doc_id"), col("token"))
      .agg(first(col("dl")).as("dl"), count(lit(1)).cast("double").as("tf"))
    // df aggregate + score join both read it (concurrently); recomputing
    // tf for df would re-run the corpus-sized (doc, token) shuffle
    graft.CacheTracker.fill(tf)
    val df = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    // two corpus scalars from a MAP-ONLY projection of the docs — not
    // from tf, which would chain two more aggregates over the cache
    val corpus = present
      .select(size(TextAnalysis.tokens(col("text"))).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    (tf, df, corpus)
  }

  /** The UNROUNDED per-(doc, term) BM25 score over tf/df/dl/n_docs/avgdl
    * columns — callers round: per term for top-terms; the hybrid leg
    * quantizes per-term to microunit integers and sums exactly (float
    * sums are addition-order sensitive, integer sums are not).
    */
  private[graft] def termScore(k1: Double, b: Double) =
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      ((col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))

  /** Retrieval evaluation — recall@k, MRR@k, binary nDCG@k per query
    * plus the identity of the run: the metrics table every retrieval
    * change (a projection width, an index knob, a fusion weight) is
    * judged by. Inputs are two ranked frames with (query_id, vec_id,
    * rank): `truth` (the ideal top-k) and `run` (the system under
    * test).
    *
    * Relevance is binary membership in the truth set (the standard
    * ANN-evaluation convention); nDCG's ideal DCG is therefore the
    * closed form Σ 1/log2(i+1) over the truth size. log2 = ln/ln(2) in
    * both engines, sums rounded to 6 decimals (the bigram_surprisal ln
    * precedent).
    *
    * Scale shape: one equi-join of two (queries × k)-sized frames and a
    * query-keyed aggregate — the corpus never appears; evaluation cost
    * is independent of corpus size by construction.
    */
  def retrievalEval(truth: DataFrame, run: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val ln2 = math.log(2.0)
    // the truth frame is bounded (queries × k rows) but its LINEAGE may
    // be a full corpus scan (an exact kNN); it feeds two branches below
    val t = graft.CacheTracker.pin(
      truth.select(col("query_id"), col("vec_id"),
        col("rank").as("__trank")))
    val r = run.where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"))
    val nTruth = t.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"))
    val hits = r.join(t.drop("__trank"), Seq("query_id", "vec_id"))
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_hits"),
        min(col("rank")).as("first_hit_rank"),
        sum(lit(1.0) / (log(col("rank") + 1.0) / ln2)).as("dcg"))
    nTruth
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          least(col("n_truth"), lit(k.toLong)), 6) + 0.0).as("recall_at_k"),
        (round(coalesce(lit(1.0) / col("first_hit_rank"), lit(0.0)), 6)
          + 0.0).as("mrr_at_k"),
        (round(coalesce(col("dcg"), lit(0.0)) /
          idealDcgCol(least(col("n_truth"), lit(k.toLong)), ln2), 6) + 0.0)
          .as("ndcg_at_k"))
      .orderBy(col("query_id"))
  }

  /** Ideal binary DCG for m relevant items: Σ_{i=1..m} 1/log2(i+1),
    * stated as an `aggregate` over the 1..m sequence so the oracle can
    * restate the identical sum order.
    */
  private def idealDcgCol(m: Column, ln2: Double): Column =
    aggregate(sequence(lit(1L), m), lit(0.0),
      (acc, i) => acc + lit(1.0) / (log(i.cast("double") + 1.0) / ln2))
}
