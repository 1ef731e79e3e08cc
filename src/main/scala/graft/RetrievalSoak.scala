package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.operators.{Hybrid, Ranking}

/** Retrieval-suite scale soak (suite `retrieval`) — the measured
  * 100×-fixture point for [[Ranking]] (Okapi BM25) and [[Hybrid]] (RRF
  * lexical+vector), mirroring the dedup and semantic suites: generate a
  * distributed corpus of synthetic token documents + Gaussian embeddings,
  * run corpus-wide BM25 term ranking and a ≥100-query hybrid batch end to
  * end, and print one JSON line — so the "only query-term postings ever
  * shuffle, and past the legs everything is ≤ legK rows per query" claim
  * rests on measured row counts, not just the plan shape.
  *
  * Usage: graft.Soak retrieval [nDocs] [nQueries] [vocab] [tokensPerDoc]
  * Defaults: 500000 100 10000 50
  *
  * Corpus (distributed, deterministic): doc i's text is tokensPerDoc
  * tokens "w<xxhash64(i, j) % vocab>" — every token's document frequency
  * concentrates around nDocs·tokensPerDoc/vocab, so the lexical leg's
  * pruned posting volume is analytically predictable (reported as
  * tf_rows and compared against that expectation by the reader);
  * embeddings are the Box-Muller policy shared with the semantic suite.
  *
  * Reported observables:
  *  - tf_rows: query-term postings after the broadcast prune — the ONLY
  *    corpus-derived frame the lexical leg ever shuffles (the full
  *    (doc, token) explode is nDocs × tokensPerDoc and must never appear
  *    past the semi-join);
  *  - lex/vec_rank_rows: per-leg rank-frame cardinalities measured on a
  *    wide-topN (2·legK, untruncated) run — ≤ legK × nQueries by the
  *    bounded-leg contract, and a violation actually trips the require
  *    (the default topN=10 output would cap the count and hide it);
  *  - fused_rows: nQueries × topN;
  *  - bm25_sec / hybrid_sec wall time and peak per-stage shuffle-write MB.
  */
object RetrievalSoak {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 500000
    val nQueries = if (args.length > 1) args(1).toInt else 100
    val vocab = if (args.length > 2) args(2).toInt else 10000
    val tokensPerDoc = if (args.length > 3) args(3).toInt else 50
    val dim = 64
    val legK = 50

    val (fields, c) = census(spark) {
      // deterministic distributed corpus: space-joined hashed tokens
      val docs = CacheTracker.fill(spark.range(0, nDocs, 1, cpus(spark))
        .select(
          col("id").as("doc_id"),
          expr(s"array_join(transform(sequence(0, ${tokensPerDoc - 1}), j -> " +
            s"concat('w', abs(xxhash64(id, j)) % $vocab)), ' ')").as("text")))
      val emb = CacheTracker.fill(spark.range(0, nDocs, 1, cpus(spark))
        .select(col("id").as("vec_id"),
          vector(dim, gaussianElem("vec_id", 1, 2)).as("embedding")))
      def window[A](f: => A): (A, Double) = {
        val r = timed(f)
        releaseAllBut(docs, emb)
        r
      }

      // corpus-wide BM25 term ranking (the bm25_terms query at 100× scale)
      val (bm25Rows, bm25Sec) = window(Ranking.bm25TopTerms(docs, topK = 3).count())

      // the lexical leg's pruned posting volume, measured the way the
      // batch builds it (distinct query-term vocabulary × corpus explode
      // semi-join) — the one corpus-derived frame the leg shuffles
      val toks = graft.operators.TextAnalysis.tokens(col("text"))
      val qvocab = docs.where(col("doc_id") < nQueries)
        .select(explode(toks).as("token")).distinct()
      val ((tfRows, qvocabSize), _) = window((docs
        .select(col("doc_id"), explode(toks).as("token"))
        .join(broadcast(qvocab), Seq("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)))
        .count(), qvocab.count()))

      // ≥100-query hybrid batch end to end
      val (fusedRows, hybridSec) = window(CacheTracker.fill(Hybrid.rrfHybridBatch(
        docs, emb, nQueries = nQueries, legK = legK, topN = 10)).count())
      // leg cardinalities (bounded-leg contract observables), measured on
      // an UNTRUNCATED run (topN effectively unbounded — a 2·legK cap
      // would itself truncate, and the lowest-fused rows it drops are
      // exactly a marginal violation's tail ranks, re-hiding the
      // regression): if the graft_topk reduction ever stopped bounding,
      // these counts exceed legK × nQueries and the require trips. The
      // second hybrid execution is a deliberate soak-only cost (~half the
      // hybrid phase) so the TIMED run stays the real serving shape
      val wide = CacheTracker.pin(Hybrid.rrfHybridBatch(
        docs, emb, nQueries = nQueries, legK = legK, topN = Int.MaxValue / 4))
      val lexRankRows = wide.agg(
        sum(when(col("lex_rank") > 0, 1L).otherwise(0L))).head().getLong(0)
      val vecRankRows = wide.agg(
        sum(when(col("vec_rank") > 0, 1L).otherwise(0L))).head().getLong(0)
      require(lexRankRows <= legK.toLong * nQueries &&
          vecRankRows <= legK.toLong * nQueries,
        s"bounded-leg contract violated: lex=$lexRankRows vec=$vecRankRows " +
          s"exceed ${legK.toLong * nQueries}")
      CacheTracker.releaseAll()
      Seq("bm25_rows" -> bm25Rows, "bm25_sec" -> rounded(bm25Sec, 2),
        "qvocab_terms" -> qvocabSize, "tf_rows" -> tfRows,
        "fused_rows" -> fusedRows,
        "lex_rank_rows" -> lexRankRows,
        "vec_rank_rows" -> vecRankRows,
        "hybrid_sec" -> rounded(hybridSec, 2))
    }
    emit(Seq("n_docs" -> nDocs, "n_queries" -> nQueries, "vocab" -> vocab,
      "tokens_per_doc" -> tokensPerDoc, "leg_k" -> legK) ++ fields :+
      ("peak_shuffle_write_mb" -> c.peakStageShuffleWrite.get / 1048576): _*)
  }
}
