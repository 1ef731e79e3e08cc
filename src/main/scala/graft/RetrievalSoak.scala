package graft

import org.apache.spark.sql.functions._

import graft.operators.{Hybrid, Ranking}

/** Retrieval-suite scale soak — the measured 100×-fixture point for
  * [[Ranking]] (Okapi BM25) and [[Hybrid]] (RRF lexical+vector), mirroring
  * DedupSoak/SemanticSoak for the newest operator family: generate a
  * distributed corpus of synthetic token documents + Gaussian embeddings,
  * run corpus-wide BM25 term ranking and a ≥100-query hybrid batch end to
  * end, and print one JSON line — so the "only query-term postings ever
  * shuffle, and past the legs everything is ≤ legK rows per query" claim
  * rests on measured row counts, not just the plan shape.
  *
  * Usage: graft.RetrievalSoak [nDocs] [nQueries] [vocab] [tokensPerDoc]
  * Defaults: 500000 100 10000 50
  *
  * Corpus (distributed, deterministic): doc i's text is tokensPerDoc
  * tokens "w<xxhash64(i, j) % vocab>" — every token's document frequency
  * concentrates around nDocs·tokensPerDoc/vocab, so the lexical leg's
  * pruned posting volume is analytically predictable (reported as
  * tf_rows and compared against that expectation by the reader);
  * embeddings are the Box-Muller policy shared with SemanticSoak.
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
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 500000
    val nQueries = if (args.length > 1) args(1).toInt else 100
    val vocab = if (args.length > 2) args(2).toInt else 10000
    val tokensPerDoc = if (args.length > 3) args(3).toInt else 50
    val dim = 64
    val legK = 50
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local(cpus)

    val peakShuffle = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          peakShuffle.updateAndGet(m => math.max(m, w))
        }
      })

    // deterministic distributed corpus: space-joined hashed tokens
    val docs = spark.range(0, nDocs, 1, cpus)
      .select(
        col("id").as("doc_id"),
        expr(s"array_join(transform(sequence(0, ${tokensPerDoc - 1}), j -> " +
          s"concat('w', abs(xxhash64(id, j)) % $vocab)), ' ')").as("text"))
      .persist()
    docs.count() // materialize outside the timed windows

    val u = (src: String, salt: Int) =>
      s"((abs(xxhash64($src, j, $salt)) % 1000000000) + 0.5) / 1000000000.0"
    val gauss = (src: String, s1: Int, s2: Int) =>
      s"sqrt(-2.0 * ln(${u(src, s1)})) * cos(6.283185307179586 * ${u(src, s2)})"
    val emb = spark.range(0, nDocs, 1, cpus)
      .select(
        col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), j -> ${gauss("vec_id", 1, 2)})")
          .as("embedding"))
      .persist()
    emb.count()

    // corpus-wide BM25 term ranking (the bm25_terms query at 100× scale)
    val tb0 = System.nanoTime()
    val bm25Rows = Ranking.bm25TopTerms(docs, topK = 3).count()
    val bm25Sec = (System.nanoTime() - tb0) / 1e9
    CacheTracker.releaseAll()

    // the lexical leg's pruned posting volume, measured the way the
    // batch builds it (distinct query-term vocabulary × corpus explode
    // semi-join) — the one corpus-derived frame the leg shuffles
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val qvocab = docs.where(col("doc_id") < nQueries)
      .select(explode(toks).as("token")).distinct()
    val tfRows = docs
      .select(col("doc_id"), explode(toks).as("token"))
      .join(broadcast(qvocab), Seq("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)))
      .count()
    val qvocabSize = qvocab.count()
    CacheTracker.releaseAll()

    // ≥100-query hybrid batch end to end
    val th0 = System.nanoTime()
    val fused = Hybrid.rrfHybridBatch(
      docs, emb, nQueries = nQueries, legK = legK, topN = 10).persist()
    val fusedRows = fused.count()
    val hybridSec = (System.nanoTime() - th0) / 1e9
    fused.unpersist(blocking = false)
    CacheTracker.releaseAll()
    // leg cardinalities (bounded-leg contract observables), measured on
    // an UNTRUNCATED run (topN effectively unbounded — a 2·legK cap
    // would itself truncate, and the lowest-fused rows it drops are
    // exactly a marginal violation's tail ranks, re-hiding the
    // regression): if the graft_topk reduction ever stopped bounding,
    // these counts exceed legK × nQueries and the require trips. The
    // second hybrid execution is a deliberate soak-only cost (~half the
    // hybrid phase) so the TIMED run stays the real serving shape
    val wide = Hybrid.rrfHybridBatch(
      docs, emb, nQueries = nQueries, legK = legK,
      topN = Int.MaxValue / 4).persist()
    val lexRankRows = wide.agg(
      sum(when(col("lex_rank") > 0, 1L).otherwise(0L))).head().getLong(0)
    val vecRankRows = wide.agg(
      sum(when(col("vec_rank") > 0, 1L).otherwise(0L))).head().getLong(0)
    require(lexRankRows <= legK.toLong * nQueries &&
        vecRankRows <= legK.toLong * nQueries,
      s"bounded-leg contract violated: lex=$lexRankRows vec=$vecRankRows " +
        s"exceed ${legK.toLong * nQueries}")
    wide.unpersist(blocking = false)
    CacheTracker.releaseAll()
    docs.unpersist(blocking = false)
    emb.unpersist(blocking = false)

    println(
      s"""{"n_docs":$nDocs,"n_queries":$nQueries,"vocab":$vocab,""" +
      s""""tokens_per_doc":$tokensPerDoc,"leg_k":$legK,""" +
      s""""bm25_rows":$bm25Rows,"bm25_sec":${math.round(bm25Sec * 100) / 100.0},""" +
      s""""qvocab_terms":$qvocabSize,"tf_rows":$tfRows,""" +
      s""""fused_rows":$fusedRows,""" +
      s""""lex_rank_rows":$lexRankRows,""" +
      s""""vec_rank_rows":$vecRankRows,""" +
      s""""hybrid_sec":${math.round(hybridSec * 100) / 100.0},""" +
      s""""peak_shuffle_write_mb":${peakShuffle.get() / 1048576}}""")
    spark.stop()
  }
}
