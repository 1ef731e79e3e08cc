package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.operators.{Bpe, UnigramLm, WordPiece}

/** Distributed-path soaks of the three subword trainers (suites `bpe`,
  * `wordpiece`, `unigram`): a synthetic corpus with ≥500k DISTINCT words
  * forces each trainer past the 200k `localVocabMax` gate onto its
  * distributed vocabulary iterations — measuring the cost shape the
  * local/distributed parity specs cannot (they prove equality, not
  * cost) — then soaks the trainer's corpus-scale encode.
  *
  * Corpus (distributed, deterministic, no driver-side array): word(i) =
  * base-16 rendering of i (alphabet 0-9a-f), one distinct word per i,
  * packed 50 words per document. PLANTED: every i % 10 == 0 word is
  * prefixed "qz" — the letters q and z occur nowhere else, so each
  * trainer carries a correctness assert on the planted pair for free.
  */
object TokenizerSoak {

  private def hexCorpus(spark: SparkSession, nWords: Int): DataFrame = {
    val wordsPerDoc = 50
    CacheTracker.fill(spark.range(0, nWords, 1, cpus(spark))
      .select((col("id") / wordsPerDoc).cast("long").as("doc_id"),
        when(col("id") % 10 === 0,
          concat(lit("qz"), conv(col("id").cast("string"), 10, 16)))
          .otherwise(conv(col("id").cast("string"), 10, 16)).as("word"))
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", collect_list(col("word"))).as("text")))
  }

  /** BPE (r8): the ("q","z") pair count is exactly nWords/10 ≈ 50k, while
    * any organic digit pair appears ≤ ~nWords·(len−1)/16² ≈ 8k and any
    * (digit, </w>) pair ≤ ~nWords/16 ≈ 31k — the soak REQUIRES ("q","z")
    * to be the first learned merge (rank 1). Also soaks
    * [[Bpe.encodeCorpus]] through the learned merges.
    *
    * Usage: graft.Soak bpe [nWords] [k]. Prints one JSON line: n_words,
    * n_docs, k, merges_sec, sec_per_merge, planted_first, encode_sec,
    * encoded_rows.
    */
  def bpe(spark: SparkSession, args: Array[String]): Unit = {
    val nWords = if (args.length > 0) args(0).toInt else 500000
    val k = if (args.length > 1) args(1).toInt else 5
    val docs = hexCorpus(spark, nWords)
    val nDocs = docs.count()

    val (merges, mergesSec) = timed(Bpe.bpeMerges(docs, k).collect())
    require(merges.nonEmpty, "no merges learned")
    val first = (merges(0).getAs[String]("left"), merges(0).getAs[String]("right"))
    val plantedFirst = first == ("q", "z")
    require(plantedFirst, s"planted merge (q,z) not first: got $first")
    releaseAllBut(docs)

    val mergeList = merges.map(r =>
      (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    val (encodedRows, encodeSec) = timed(Bpe.encodeCorpus(docs, mergeList).count())
    CacheTracker.releaseAll()
    emit("n_words" -> nWords, "n_docs" -> nDocs, "k" -> merges.length,
      "merges_sec" -> fixed(mergesSec, 1),
      "sec_per_merge" -> fixed(mergesSec / merges.length, 1),
      "planted_first" -> plantedFirst, "encode_sec" -> fixed(encodeSec, 1),
      "encoded_rows" -> encodedRows)
  }

  /** WordPiece: the planted check is sharper than for BPE: (q, ##z) is
    * not the most FREQUENT eligible pair (digit pairs and the n/16-sized
    * (digit, ##digit) pairs dwarf its n/10 count) but q and ##z occur
    * ONLY together, so its likelihood score count/(c_q·c_##z) = 10/n
    * beats every organic pair by ~two orders — the soak requires it at
    * rank 1, which exercises exactly the scoring that distinguishes this
    * trainer from frequency-greedy BPE at scale. Also times the greedy
    * fixed-vocab corpus encode (the map-over-vocabulary + join-back
    * application path) with the learned vocab.
    *
    * Usage: graft.Soak wordpiece [nWords] [k]. Prints one JSON line:
    * n_words, k, merges_sec, sec_per_merge, planted_first, encode_sec,
    * encoded_rows.
    */
  def wordpiece(spark: SparkSession, args: Array[String]): Unit = {
    val nWords = if (args.length > 0) args(0).toInt else 500000
    val k = if (args.length > 1) args(1).toInt else 5
    val docs = hexCorpus(spark, nWords)

    val (merges, mergesSec) = timed(WordPiece.wordpieceMerges(docs, k).collect())
    val plantedFirst =
      merges.nonEmpty && merges.head.getString(1) == "q" &&
        merges.head.getString(2) == "##z"
    require(plantedFirst,
      s"planted (q, ##z) not rank 1: ${merges.take(3).mkString(", ")}")

    val vocab = WordPiece.learnedVocab(docs,
      merges.map(r => (r.getString(1), r.getString(2))).toSeq)
    val (encoded, encodeSec) =
      timed(WordPiece.encodeCorpusWithVocab(docs, vocab).count())
    CacheTracker.releaseAll()
    emit("n_words" -> nWords, "k" -> k,
      "merges_sec" -> fixed(mergesSec, 1),
      "sec_per_merge" -> fixed(mergesSec / k, 1),
      "planted_first" -> plantedFirst,
      "encode_sec" -> fixed(encodeSec, 1), "encoded_rows" -> encoded)
  }

  /** Unigram-LM (r10): the distributed soft-EM iterations of
    * [[UnigramLm.trainPieceCounts]], then the corpus-scale Viterbi
    * application [[UnigramLm.encodeCorpus]]. "qz" is a high-mass
    * boundary-anchored bigram the trained inventory must retain among its
    * top multi-char pieces.
    *
    * Usage: graft.Soak unigram [nWords] [vocabSize]. Prints one JSON
    * line: n_words, n_docs, vocab_size, train_sec, sec_per_em_pass,
    * planted_kept, pieces, encode_sec, encoded_rows.
    */
  def unigram(spark: SparkSession, args: Array[String]): Unit = {
    val nWords = if (args.length > 0) args(0).toInt else 500000
    val vocabSize = if (args.length > 1) args(1).toInt else 2000
    val emIters = 2
    val pruneRounds = 2
    val docs = hexCorpus(spark, nWords)
    val nDocs = docs.count()

    val (pieces, trainSec) = timed(UnigramLm.trainPieceCounts(
      docs, vocabSize, emIters = emIters, pruneRounds = pruneRounds))
    // EM passes: pruneRounds × emIters + the final counting pass
    val emPasses = pruneRounds * emIters + 1
    require(pieces.nonEmpty, "no pieces learned")
    val multiTop = pieces.toSeq
      .filter { case (p, _) => Bpe.symbols(p).length > 1 }
      .sortBy { case (p, c) => (-c, p) }.take(50).map(_._1)
    val plantedKept = multiTop.exists(p => p.contains("qz"))
    require(plantedKept, s"planted piece qz missing from top multi pieces: ${multiTop.take(10)}")
    releaseAllBut(docs)

    val (encodedRows, encodeSec) = timed(UnigramLm.encodeCorpus(docs, pieces).count())
    CacheTracker.releaseAll()
    emit("n_words" -> nWords, "n_docs" -> nDocs, "vocab_size" -> vocabSize,
      "train_sec" -> fixed(trainSec, 1),
      "sec_per_em_pass" -> fixed(trainSec / emPasses, 1),
      "planted_kept" -> plantedKept, "pieces" -> pieces.size,
      "encode_sec" -> fixed(encodeSec, 1), "encoded_rows" -> encodedRows)
  }
}
