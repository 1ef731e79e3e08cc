package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, UnigramLm}

/** Unigram-LM distributed-path soak (r10): a synthetic corpus with ≥500k
  * DISTINCT words forces [[UnigramLm.trainPieceCounts]] past the 200k
  * `localVocabMax` gate onto the distributed soft-EM iterations —
  * measuring the cost shape the local/distributed parity spec cannot
  * (it proves equality, not cost). Also soaks
  * [[UnigramLm.encodeCorpus]], the corpus-scale Viterbi application.
  *
  * Corpus (distributed, deterministic, no driver-side array): word(i) =
  * base-16 rendering of i, one distinct word per i, ~50 words per
  * document. PLANTED piece: every i % 10 == 0 word is prefixed "qz" —
  * q and z occur nowhere else, so "qz" is a high-mass boundary-anchored
  * bigram the trained inventory must retain among its top multi-char
  * pieces, a correctness assert the scale run carries for free.
  *
  * Prints one JSON line: n_words, n_docs, vocab_size, train_sec,
  * sec_per_em_pass, planted_kept, pieces, encode_sec, encoded_rows.
  */
object UnigramSoak {
  def main(args: Array[String]): Unit = {
    val nWords = if (args.length > 0) args(0).toInt else 500000
    val vocabSize = if (args.length > 1) args(1).toInt else 2000
    val emIters = 2
    val pruneRounds = 2
    val wordsPerDoc = 50
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local(cpus)
    import spark.implicits._

    val docs = spark.range(0, nWords, 1, cpus)
      .select((col("id") / wordsPerDoc).cast("long").as("doc_id"),
        when(col("id") % 10 === 0,
          concat(lit("qz"), conv(col("id").cast("string"), 10, 16)))
          .otherwise(conv(col("id").cast("string"), 10, 16)).as("word"))
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", collect_list(col("word"))).as("text"))
      .persist()
    val nDocs = docs.count() // materialize: time training, not generation

    val t0 = System.nanoTime()
    val pieces = UnigramLm.trainPieceCounts(
      docs, vocabSize, emIters = emIters, pruneRounds = pruneRounds)
    val trainSec = (System.nanoTime() - t0) / 1e9
    // EM passes: pruneRounds × emIters + the final counting pass
    val emPasses = pruneRounds * emIters + 1
    require(pieces.nonEmpty, "no pieces learned")
    val multiTop = pieces.toSeq
      .filter { case (p, _) => Bpe.symbols(p).length > 1 }
      .sortBy { case (p, c) => (-c, p) }.take(50).map(_._1)
    val plantedKept = multiTop.exists(p => p.contains("qz"))
    require(plantedKept, s"planted piece qz missing from top multi pieces: ${multiTop.take(10)}")
    CacheTracker.releaseAll()

    val t1 = System.nanoTime()
    val encodedRows = UnigramLm.encodeCorpus(docs, pieces).count()
    val encodeSec = (System.nanoTime() - t1) / 1e9
    CacheTracker.releaseAll()
    docs.unpersist()

    println(
      f"""{"n_words":$nWords,"n_docs":$nDocs,"vocab_size":$vocabSize,""" +
        f""""train_sec":$trainSec%.1f,"sec_per_em_pass":${trainSec / emPasses}%.1f,""" +
        f""""planted_kept":$plantedKept,"pieces":${pieces.size},""" +
        f""""encode_sec":$encodeSec%.1f,"encoded_rows":$encodedRows}""")
    spark.stop()
  }
}
