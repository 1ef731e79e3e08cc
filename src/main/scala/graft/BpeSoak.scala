package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** BPE distributed-path soak (r8): a synthetic corpus with ≥500k DISTINCT
  * words forces [[Bpe.bpeMerges]] past the 200k `localVocabMax` gate onto
  * the distributed vocabulary iterations — measuring the cost shape the
  * local/distributed parity spec cannot (it proves equality, not cost).
  * Also soaks [[Bpe.encodeCorpus]], the corpus-scale application, through
  * the learned merges.
  *
  * Corpus (distributed, deterministic, no driver-side array): word(i) =
  * base-16 rendering of i (alphabet 0-9a-f), one distinct word per i,
  * packed ~50 words per document. PLANTED merge: every i % 10 == 0 word
  * is prefixed "qz" — the letters q and z occur nowhere else, so the
  * ("q","z") pair count is exactly nWords/10 ≈ 50k, while any organic
  * digit pair appears ≤ ~nWords·(len−1)/16² ≈ 8k and any (digit, </w>)
  * pair ≤ ~nWords/16 ≈ 31k — the soak REQUIRES ("q","z") to be the
  * first learned merge (rank 1), a correctness assert the scale run
  * carries for free.
  *
  * Prints one JSON line: n_words, n_docs, k, merges_sec, sec_per_merge,
  * planted_first, encode_sec, encoded_rows.
  */
object BpeSoak {
  def main(args: Array[String]): Unit = {
    val nWords = if (args.length > 0) args(0).toInt else 500000
    val k = if (args.length > 1) args(1).toInt else 5
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
    val nDocs = docs.count() // materialize: time BPE, not generation

    val t0 = System.nanoTime()
    val merges = Bpe.bpeMerges(docs, k).collect()
    val mergesSec = (System.nanoTime() - t0) / 1e9
    require(merges.nonEmpty, "no merges learned")
    val first = (merges(0).getAs[String]("left"), merges(0).getAs[String]("right"))
    val plantedFirst = first == ("q", "z")
    require(plantedFirst, s"planted merge (q,z) not first: got $first")
    CacheTracker.releaseAll()

    val mergeList = merges.map(r =>
      (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    val t1 = System.nanoTime()
    val encodedRows = Bpe.encodeCorpus(docs, mergeList).count()
    val encodeSec = (System.nanoTime() - t1) / 1e9
    CacheTracker.releaseAll()
    docs.unpersist()

    println(
      f"""{"n_words":$nWords,"n_docs":$nDocs,"k":${merges.length},""" +
        f""""merges_sec":$mergesSec%.1f,"sec_per_merge":${mergesSec / merges.length}%.1f,""" +
        f""""planted_first":$plantedFirst,"encode_sec":$encodeSec%.1f,""" +
        f""""encoded_rows":$encodedRows}""")
    spark.stop()
  }
}
