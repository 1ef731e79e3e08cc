package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Hybrid lexical + semantic retrieval via reciprocal rank fusion
  * (Cormack, Clarke & Buettcher 2009, "Reciprocal Rank Fusion
  * outperforms Condorcet and individual Rank Learning Methods"): rank
  * the corpus twice — an Okapi BM25 leg over the query's terms and a
  * cosine-distance leg over the query's embedding — truncate each leg
  * to its top-legK, and fuse by RRF(d) = Σ_legs 1/(rrfK + rank_leg(d)).
  * The engine's two retrieval families ([[Ranking]] and [[Knn]])
  * composed into the serving shape RAG stacks actually deploy; the
  * reference has only the vector half.
  *
  * Scale shape: each leg ends in a BOUNDED top-k
  * (TakeOrderedAndProject — per-partition heaps, no global sort), so
  * the only frames past the legs are ≤ legK rows; the rank windows and
  * the full-outer fusion join run on those bounded frames (the
  * PrefixSum small-path precedent: below a bound, one partition IS the
  * right plan). Upstream, the lexical leg semi-joins the exploded
  * corpus against the broadcast query-term set BEFORE any aggregate —
  * only query-term postings ever shuffle — and the vector leg is the
  * knn_cosine plan. Both legs and the fusion are deterministic (rounded
  * scores, integer-summed lexical scores, id tie-breaks), hence
  * oracle-checked.
  */
object Hybrid {

  /** Fused top-N: (doc_id, fused, lex_rank, vec_rank); rank 0 = the doc
    * missed that leg's top-legK (its RRF contribution is 0 — standard
    * truncated-list RRF). Query = doc `queryDocId`'s text for the
    * lexical leg and embedding `queryDocId` for the vector leg (the
    * fixtures' aligned id domains).
    */
  def rrfHybridSearch(
      docs: DataFrame,
      emb: DataFrame,
      queryDocId: Long = 0L,
      legK: Int = 50,
      rrfK: Int = 60,
      topN: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // the batch path's bounded graft_topk + posexplode ranks (one k-row
    // buffer per group, no global Window even on the legK-row frame);
    // -s is order-exact for the lexical leg since s > 0 wherever a row
    // exists. Constant group = one aggregate group, map-side combined.
    val lex = topkRanks(
      lexScores(docs, queryDocId, k1, b).withColumn("__q", lit(0)),
      col("__q"), -col("s"), col("doc_id"), legK, "lex_rank").drop("__q")
    val vec = topkRanks(
      vecDistances(emb, queryDocId).withColumn("__q", lit(0)),
      col("__q"), col("d"), col("doc_id"), legK, "vec_rank").drop("__q")
    val contribution = (rank: Column) =>
      when(rank.isNull, lit(0.0)).otherwise(lit(1.0) / (lit(rrfK) + rank))
    lex.select(col("doc_id"), col("lex_rank"))
      .join(vec.select(col("doc_id"), col("vec_rank")), Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        round(contribution(col("lex_rank")) + contribution(col("vec_rank")), 6)
          .as("fused"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(topN)
  }

  /** BATCH hybrid retrieval — rrfHybridSearch for a batch of queries
    * (the knn_batch analog of the serving shape): every doc id below
    * `nQueries` is a query; output (query_id, doc_id, fused, lex_rank,
    * vec_rank, rank), rank 1..topN per query.
    *
    * Scale shape: both legs reduce through the BOUNDED graft_topk
    * aggregate keyed by query_id (map-side combined — the shuffle
    * carries ≤ legK rows per query per partition, never the scored
    * frame; knn_batch's plan), ranks come from posexplode positions,
    * and the fusion join + final top-N window run on ≤ 2·legK rows per
    * query. The lexical scoring joins only query-term postings (the
    * single-query pruning, with the term → query fan-out bounded by the
    * query batch's vocabulary).
    */
  def rrfHybridBatch(
      docs: DataFrame,
      emb: DataFrame,
      nQueries: Int = 5,
      legK: Int = 50,
      rrfK: Int = 60,
      topN: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val present = docs.where(col("text").isNotNull)
    // (query_id, token): the batch's distinct query terms
    val qterms = present.where(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), explode(toks).as("token"))
      .distinct()
    val dl = present.select(col("doc_id"), size(toks).cast("double").as("dl"))
    val corpus = dl.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    // persisted: tf feeds both the df aggregate and the score join, and
    // without the persist the corpus explode + broadcast prune subtree
    // would execute twice per batch (cheap frame: query-term postings only)
    val tf = present
      .select(col("doc_id"), explode(toks).as("token"))
      .join(broadcast(qterms.select(col("token")).distinct()), Seq("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    graft.CacheTracker.fill(tf) // before the df aggregate + score join race
    val df = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    val lexScored = tf.join(df, Seq("token"))
      .join(broadcast(qterms), Seq("token")) // fan out per querying query
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .groupBy(col("query_id"), col("doc_id"))
      .agg((round(
        sum(round(Ranking.termScore(k1, b) * lit(1e6), 0).cast("long")) / lit(1e6),
        6) + 0.0).as("s"))
    // bounded leg reductions: graft_topk ascending ⇒ negate the lexical
    // score (s > 0 wherever a row exists, so -s is order-exact)
    val lexRanks = topkRanks(lexScored, col("query_id"), -col("s"),
      col("doc_id"), legK, "lex_rank")
    val q = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val vecScored = emb.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        VectorFunctions.roundDist(
          VectorFunctions.cosine(col("embedding"), col("qv"))).as("d"))
    val vecRanks = topkRanks(vecScored, col("query_id"), col("d"),
      col("doc_id"), legK, "vec_rank")
    val contribution = (rank: Column) =>
      when(rank.isNull, lit(0.0)).otherwise(lit(1.0) / (lit(rrfK) + rank))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("fused").desc, col("doc_id"))
    lexRanks.join(vecRanks, Seq("query_id", "doc_id"), "full_outer")
      .select(
        col("query_id"), col("doc_id"),
        round(contribution(col("lex_rank")) + contribution(col("vec_rank")), 6)
          .as("fused"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topN)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-group bounded top-k ranks via the graft_topk aggregate:
    * (group, id, rankName), rank 1..legK ascending by (order, id) — the
    * shuffle carries k-row buffers per group, never the scored frame.
    */
  private def topkRanks(
      scored: DataFrame, group: Column, order: Column, id: Column,
      legK: Int, rankName: String): DataFrame =
    scored
      .groupBy(group)
      .agg(VectorFunctions.topK(order, id, legK).as("topk"))
      .select(group, posexplode(col("topk")).as(Seq("pos", "r")))
      .select(group, col("r.vec_id").as("doc_id"),
        (col("pos") + 1).cast("long").as(rankName))

  /** Per-doc BM25 relevance against the query doc's DISTINCT terms:
    * (doc_id, s).
    *
    * Determinism: a float sum is addition-order sensitive, and groupBy
    * partial-merge order is not fixed — so per-term scores are
    * QUANTIZED to microunits (round(term · 1e6) as BIGINT; per-term
    * doubles are bit-identical across engines, so the quantization is
    * too) and summed EXACTLY as integers; the quantization error
    * ≤ 5e-7 per term is the documented trade for an order-free,
    * engine-portable 6-decimal hash.
    *
    * Scale: the corpus-sized explode is SEMI-JOINED against the
    * broadcast query-term set BEFORE any aggregate, so the only
    * shuffled frames are query-term postings (tf and df) — never the
    * full (doc, token) table; dl/avgdl come from a map-only per-doc
    * projection plus one scalar aggregate.
    */
  private def lexScores(
      docs: DataFrame, queryDocId: Long, k1: Double, b: Double): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    // null-text rows produce no tf rows in either engine, so they must
    // not count toward n_docs/avgdl either (Ranking.tfDfCorpus rule)
    val present = docs.where(col("text").isNotNull)
    val qterms = present.where(col("doc_id") === queryDocId)
      .select(explode(toks).as("token"))
      .distinct()
    val dl = present.select(col("doc_id"), size(toks).cast("double").as("dl"))
    val corpus = dl.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    // persisted: consumed by both the df aggregate and the score join —
    // one corpus explode, not two (the frame is query-term postings only)
    val tf = present
      .select(col("doc_id"), explode(toks).as("token"))
      .join(broadcast(qterms), Seq("token")) // prune BEFORE the shuffle
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    graft.CacheTracker.fill(tf) // before the df aggregate + score join race
    val df = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(df, Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .groupBy(col("doc_id"))
      .agg((round(
        sum(round(Ranking.termScore(k1, b) * lit(1e6), 0).cast("long")) / lit(1e6),
        6) + 0.0).as("s"))
  }

  /** Cosine distance of every vector to the query embedding:
    * (doc_id, d) — the knn_cosine scan shape.
    */
  private def vecDistances(emb: DataFrame, queryDocId: Long): DataFrame = {
    val q = emb.where(col("vec_id") === queryDocId)
      .select(col("embedding").as("qv"))
    emb.crossJoin(broadcast(q))
      .select(
        col("vec_id").as("doc_id"),
        VectorFunctions.roundDist(
          VectorFunctions.cosine(col("embedding"), col("qv"))).as("d"))
  }

}
