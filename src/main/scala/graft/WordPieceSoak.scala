package graft

import org.apache.spark.sql.functions._

import graft.operators.WordPiece

/** WordPiece distributed-path soak — BpeSoak's corpus (≥500k DISTINCT
  * base-16 words, "qz"-prefixed every 10th) pushed past the
  * `localVocabMax` gate onto the distributed likelihood iterations.
  * The planted check is sharper here than for BPE: (q, ##z) is not the
  * most FREQUENT eligible pair (digit pairs and the n/16-sized
  * (digit, ##digit) pairs dwarf its n/10 count) but q and ##z occur
  * ONLY together, so its likelihood score count/(c_q·c_##z) = 10/n
  * beats every organic pair by ~two orders — the soak requires it at
  * rank 1, which exercises exactly the scoring that distinguishes this
  * trainer from frequency-greedy BPE at scale.
  *
  * Also times the greedy fixed-vocab corpus encode (the map-over-
  * vocabulary + join-back application path) with the learned vocab.
  *
  * Prints one JSON line: n_words, k, merges_sec, sec_per_merge,
  * planted_first, encode_sec, encoded_rows.
  */
object WordPieceSoak {
  def main(args: Array[String]): Unit = {
    val nWords = if (args.length > 0) args(0).toInt else 500000
    val k = if (args.length > 1) args(1).toInt else 5
    val wordsPerDoc = 50
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local(cpus)

    val docs = spark.range(0, nWords, 1, cpus)
      .select((col("id") / wordsPerDoc).cast("long").as("doc_id"),
        when(col("id") % 10 === 0,
          concat(lit("qz"), conv(col("id").cast("string"), 10, 16)))
          .otherwise(conv(col("id").cast("string"), 10, 16)).as("word"))
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", collect_list(col("word"))).as("text"))
      .persist()
    docs.count()

    val t0 = System.nanoTime()
    val merges = WordPiece.wordpieceMerges(docs, k).collect()
    val mergesSec = (System.nanoTime() - t0) / 1e9
    val plantedFirst =
      merges.nonEmpty && merges.head.getString(1) == "q" &&
        merges.head.getString(2) == "##z"
    require(plantedFirst,
      s"planted (q, ##z) not rank 1: ${merges.take(3).mkString(", ")}")

    val vocab = WordPiece.learnedVocab(docs,
      merges.map(r => (r.getString(1), r.getString(2))).toSeq)
    val t1 = System.nanoTime()
    val encoded = WordPiece.encodeCorpusWithVocab(docs, vocab).count()
    val encodeSec = (System.nanoTime() - t1) / 1e9

    println(
      s"""{"n_words":$nWords,"k":$k,""" +
        s""""merges_sec":${f"$mergesSec%.1f"},""" +
        s""""sec_per_merge":${f"${mergesSec / k}%.1f"},""" +
        s""""planted_first":$plantedFirst,""" +
        s""""encode_sec":${f"$encodeSec%.1f"},"encoded_rows":$encoded}""")
    spark.stop()
  }
}
