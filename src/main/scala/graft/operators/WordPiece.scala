package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WordPiece subword learning and encoding (Schuster & Nakajima 2012;
  * the BERT tokenizer, Devlin et al. 2019 — public) — the THIRD
  * tokenizer branch next to frequency-merged BPE ([[Bpe]]) and the
  * Unigram-LM ([[UnigramLm]]). Two things distinguish it:
  *
  *  - TRAINING scores a candidate merge by LIKELIHOOD GAIN, not raw
  *    frequency: score(l, r) = count(lr) / (count(l)·count(r)) — the
  *    pair whose fusion most improves a unigram language model over the
  *    symbol stream. Frequency-greedy BPE merges "th"+"e" because both
  *    are common; WordPiece merges the pair that co-occurs MORE than
  *    its parts predict.
  *  - ENCODING is greedy longest-match-first against the final vocab
  *    (continuation pieces carry the "##" prefix; a word with any
  *    unmatchable position encodes as ONE [UNK] token), not a merge
  *    replay.
  *
  * Scale shape is [[Bpe.bpeMerges]]'s: iterations run over the word
  * VOCABULARY, never the corpus (the corpus is touched once for the
  * weighted word count); each round is a pair-count + symbol-count over
  * the vocabulary table and ONE argmax row to the driver; the same
  * size-gated dual path runs the loop driver-local under
  * `spark.graft.wordpiece.localVocabMax` (default 200k distinct words).
  * Determinism: scores are the same double expression on exact long
  * counts in both paths, ties break on (left, right) — parity-spec'd
  * against an independent reference. Rows-only by design for the
  * LEARNED faces; the FIXED-vocab encode is deterministic and
  * oracle-checked (`wordpiece_encode_fixed`).
  */
object WordPiece {

  val Unk = "[UNK]"
  val ContPrefix = "##"

  /** Training symbols: first code point bare, the rest ##-prefixed
    * (code-point aware like [[Bpe.symbols]] — non-BMP stays whole).
    */
  private[graft] def symbols(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    var first = true
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val s = new String(Character.toChars(cp))
      out += (if (first) s else ContPrefix + s)
      first = false
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Fusing l + r keeps l's continuation status and swallows r's "##". */
  private[graft] def joined(l: String, r: String): String =
    l + r.stripPrefix(ContPrefix)

  private def applyMerge(
      syms: Seq[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += joined(l, r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** (rank, left, right, pair_count, score): the first `k` likelihood-
    * scored merges in order (score rounded to 6 for the output face; the
    * argmax compares the unrounded double). Fewer rows when no pair
    * repeats (count ≥ 2 eligibility, the [[Bpe]] hapax rule).
    */
  def wordpieceMerges(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 1, "k must be >= 1")
    val words = docs
      .where(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .as[(String, Long)]
    val localMax = spark.conf
      .getOption("spark.graft.wordpiece.localVocabMax")
      .map(_.toLong).getOrElse(200000L)
    val wordsCached = graft.CacheTracker.pin(words)
    if (wordsCached.count() <= localMax)
      return localWordpieceMerges(spark, wordsCached.collect().toSeq, k)
    var vocab: Dataset[(Seq[String], Long)] = wordsCached
      .map { case (w, n) => (symbols(w): Seq[String], n) }
    graft.CacheTracker.fill(vocab)
    val merges = Seq.newBuilder[(Int, String, String, Long, Double)]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val symCounts = vocab
        .flatMap { case (syms, n) => syms.iterator.map(s => (s, n)) }
        .toDF("sym", "n")
        .groupBy(col("sym")).agg(sum(col("n")).as("sc"))
      val top = vocab
        .flatMap { case (syms, n) =>
          syms.iterator.zip(syms.iterator.drop(1)).map(p => (p._1, p._2, n))
        }
        .toDF("left", "right", "n")
        .groupBy(col("left"), col("right")).agg(sum(col("n")).as("cnt"))
        .where(col("cnt") >= 2)
        .join(symCounts.select(col("sym").as("left"), col("sc").as("lc")), "left")
        .join(symCounts.select(col("sym").as("right"), col("sc").as("rc")), "right")
        .select(col("left"), col("right"), col("cnt"),
          (col("cnt").cast("double") /
            (col("lc").cast("double") * col("rc").cast("double"))).as("score"))
        .orderBy(col("score").desc, col("left"), col("right"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getAs[String]("left")
        val r = top(0).getAs[String]("right")
        merges += ((rank, l, r, top(0).getAs[Long]("cnt"),
          top(0).getAs[Double]("score")))
        val next = vocab.map { case (syms, n) => (applyMerge(syms, l, r): Seq[String], n) }
        graft.CacheTracker.fill(next)
        vocab.unpersist()
        vocab = next
        rank += 1
      }
    }
    vocab.unpersist()
    merges.result()
      .toDF("rank", "left", "right", "pair_count", "score")
      .select(col("rank"), col("left"), col("right"), col("pair_count"),
        (round(col("score"), 6) + 0.0).as("score"))
      .orderBy(col("rank"))
  }

  /** Driver-local twin of the distributed loop — same counts, same
    * double score, same (left, right) tie rule.
    */
  private def localWordpieceMerges(
      spark: org.apache.spark.sql.SparkSession,
      words: Seq[(String, Long)], k: Int): DataFrame = {
    import spark.implicits._
    var vocab: Seq[(Vector[String], Long)] =
      words.map { case (w, n) => (symbols(w), n) }
    val out = Seq.newBuilder[(Int, String, String, Long, Double)]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val pair = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      val sym = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length) {
          sym(syms(i)) += n
          if (i + 1 < syms.length) pair((syms(i), syms(i + 1))) += n
          i += 1
        }
      }
      val eligible = pair.filter(_._2 >= 2)
      if (eligible.isEmpty) done = true
      else {
        val ((l, r), c) = eligible.minBy { case ((a, b), n) =>
          (-(n.toDouble / (sym(a).toDouble * sym(b).toDouble)), a, b)
        }
        out += ((rank, l, r, c, c.toDouble / (sym(l).toDouble * sym(r).toDouble)))
        vocab = vocab.map { case (syms, n) => (applyMerge(syms, l, r), n) }
        rank += 1
      }
    }
    out.result()
      .toDF("rank", "left", "right", "pair_count", "score")
      .select(col("rank"), col("left"), col("right"), col("pair_count"),
        (round(col("score"), 6) + 0.0).as("score"))
      .orderBy(col("rank"))
  }

  /** Greedy longest-match-first encode against a piece vocabulary —
    * the WordPiece application rule: at each position take the LONGEST
    * matching piece (bare at position 0, ##-prefixed after); any
    * unmatchable position voids the whole word to one [UNK].
    */
  def encodeWordGreedy(word: String, vocab: Set[String]): Seq[String] = {
    val cps = Bpe.symbols(word) // bare code points
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < cps.length) {
      var j = cps.length
      var found: String = null
      while (j > i && found == null) {
        val cand = (if (i == 0) "" else ContPrefix) + cps.slice(i, j).mkString
        if (vocab.contains(cand)) found = cand else j -= 1
      }
      if (found == null) return Seq(Unk)
      out += found
      i = j
    }
    out.result()
  }

  /** Corpus encode with a FIXED piece vocabulary — deterministic string
    * work (so oracle-checkable, the `bpe_encode_fixed` precedent), and
    * the per-distinct-word / join-back / frequency-ranked-id shape of
    * [[Bpe.encodeCorpus]]. Output (doc_id, pos, spos, subword,
    * subword_id).
    */
  /** Shared first stage: the greedy-encoded distinct-word vocabulary
    * (word, wn, subwords) — the [[Bpe.encodeCorpus]] shape.
    */
  private def encodedWordVocab(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = graft.CacheTracker.registerBroadcast(
      spark.sparkContext.broadcast(vocab.toSet))
    val words = docs.where(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
    // read twice: id build + corpus join
    graft.CacheTracker.pin(words.as[(String, Long)]
      .map { case (w, n) => (w, n, encodeWordGreedy(w, bc.value)) }
      .toDF("word", "wn", "subwords"))
  }

  private def subwordVocabOf(encoded: DataFrame): DataFrame =
    PrefixSum.runningSum(
      encoded.select(explode(col("subwords")).as("subword"), col("wn"))
        .groupBy(col("subword")).agg(sum(col("wn")).as("n")),
      Seq(col("n").desc, col("subword")), lit(1L), "subword_id")
      .select(col("subword"), col("subword_id"))

  /** The dense frequency-ranked piece-id table collected to a driver
    * map — what a STREAMING encoder ships in its task closure (OOV → 0,
    * the [[Bpe.subwordIds]] contract). Bounded: ≤ |vocab| + 1 ([UNK])
    * distinct pieces can ever be emitted.
    */
  def subwordIds(docs: DataFrame, vocab: Seq[String]): Map[String, Long] =
    subwordVocabOf(encodedWordVocab(docs, vocab)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def encodeCorpusWithVocab(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    val encoded = encodedWordVocab(docs, vocab)
    val subVocab = subwordVocabOf(encoded)
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
      .join(encoded.select(col("word"), col("subwords")), Seq("word"))
      .select(col("doc_id"), col("pos"),
        posexplode(col("subwords")).as(Seq("spos", "subword")))
      .join(subVocab, Seq("subword"))
      .select(col("doc_id"), col("pos"), col("spos"), col("subword"),
        col("subword_id"))
      .orderBy(col("doc_id"), col("pos"), col("spos"))
  }

  /** The learned vocabulary: every alphabet symbol present in the corpus
    * (bare + continuation forms) plus one fused piece per merge —
    * bounded at |alphabet forms| + k rows by construction.
    */
  def learnedVocab(docs: DataFrame, merges: Seq[(String, String)]): Seq[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val alphabet = docs.where(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .distinct()
      .as[String]
      .flatMap(w => symbols(w))
      .distinct()
      .collect()
    (alphabet ++ merges.map { case (l, r) => joined(l, r) }).distinct.toSeq
  }

  /** Learn k merges, then greedy-encode the corpus with the resulting
    * vocabulary — the end-to-end face (merge collect bounded at k).
    */
  def learnAndEncode(docs: DataFrame, k: Int): DataFrame = {
    val merges = wordpieceMerges(docs, k).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    encodeCorpusWithVocab(docs, learnedVocab(docs, merges))
  }
}
