package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Byte-Pair-Encoding merge learning (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units" —
  * public) — the subword-tokenizer LEARNING step, completing the
  * tokenizer family: [[TextAnalysis.vocabTable]] counts the word
  * vocabulary, [[TextAnalysis.tokenizeCorpus]] applies ids, this learns
  * the merges between them.
  *
  * Scale shape — the standard BPE trick: iterations run over the WORD
  * VOCABULARY (word, count), never the corpus. The corpus is touched
  * exactly once (the word count — one map-side-combined groupBy); each
  * of the k iterations is then a pair-count + merge-apply over the
  * vocabulary table, which is orders of magnitude smaller (and the
  * per-pair counts are weighted by word frequency, which is exactly
  * equivalent to counting over the corpus). The per-iteration argmax
  * pulls ONE row to the driver (`orderBy.limit(1)` — count desc, then
  * lexicographic pair for cross-engine determinism). Each iteration's
  * vocabulary is persisted and the predecessor released, so lineage
  * stays one step deep instead of k.
  *
  * Determinism: word counts are exact, ties break on (left, right), so
  * the merge list is a pure function of the corpus — spec-gated against
  * an independent single-machine reference implementation; there is no
  * DuckDB twin because k data-dependent iterations are not expressible
  * as one SQL query (rows-only by design, ContractSpec-documented).
  */
object Bpe {

  /** End-of-word marker, kept distinct from any character symbol. */
  val EndOfWord = "</w>"

  /** Initial symbol sequence for a word: one symbol per Unicode CODE
    * POINT, not per UTF-16 code unit — a non-BMP character (emoji, rare
    * CJK) stays one whole symbol instead of splitting into unpaired
    * surrogate halves, so every emitted merge symbol is a valid Unicode
    * string. Shared by both merge-learning paths and [[encodeWord]] (and
    * mirrored by the spec's independent reference) so the convention
    * stays uniform.
    */
  private[graft] def symbols(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** (rank, left, right, pair_count): the first `k` merges in order.
    * May return fewer than k rows if the vocabulary runs out of
    * repeated pairs (every remaining pair count is 1 — merging those
    * would memorize hapax words).
    *
    * SIZE-GATED dual path (the repo's standard pattern, parity-spec'd):
    * below `spark.graft.bpe.localVocabMax` (default 200k) distinct
    * words, the weighted vocabulary collects to the driver and the k
    * iterations run as a local loop — k data-dependent rounds of
    * vocabulary-sized work cost k× per-job overhead as Spark jobs, pure
    * waste at fixture scale. Past the gate (a 100 TB corpus has tens of
    * millions of distinct words) the iterations run distributed over
    * the vocabulary Dataset. Identical merges either way: both paths
    * are exact counts with (count desc, left, right) tie-breaks.
    */
  def bpeMerges(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 1, "k must be >= 1")
    // corpus touched once: the weighted word vocabulary
    val words = docs
      .where(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .as[(String, Long)]
    val localMax = spark.conf
      .getOption("spark.graft.bpe.localVocabMax").map(_.toLong).getOrElse(200000L)
    val wordsCached = graft.CacheTracker.pin(words)
    if (wordsCached.count() <= localMax)
      return localBpeMerges(spark, wordsCached.collect().toSeq, k)
    // symbolize: word -> its character symbols + the end marker. The
    // step-by-step unpersists below keep storage flat on the happy path;
    // a mid-loop job failure leaves the in-flight iteration's cache to
    // releaseAll()
    var vocab: Dataset[(Seq[String], Long)] = wordsCached
      .map { case (w, n) => (symbols(w) :+ EndOfWord: Seq[String], n) }
    graft.CacheTracker.fill(vocab)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val top = vocab
        .flatMap { case (syms, n) =>
          syms.iterator.zip(syms.iterator.drop(1)).map(p => (p._1, p._2, n))
        }
        .toDF("left", "right", "n")
        .groupBy(col("left"), col("right")).agg(sum(col("n")).as("cnt"))
        .where(col("cnt") >= 2) // a pair seen once memorizes a hapax word
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(1) // ONE row to the driver per iteration
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getAs[String]("left")
        val r = top(0).getAs[String]("right")
        merges += ((rank, l, r, top(0).getAs[Long]("cnt")))
        val merged = l + r
        val next = vocab.map { case (syms, n) =>
          val out = Seq.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), n)
        }
        graft.CacheTracker.fill(next) // before releasing the predecessor
        vocab.unpersist()
        vocab = next
        rank += 1
      }
    }
    vocab.unpersist()
    merges.result()
      .toDF("rank", "left", "right", "pair_count")
      .orderBy(col("rank"))
  }

  /** The small-vocabulary path: the same algorithm as the distributed
    * loop, run as a driver loop over the collected weighted vocabulary.
    */
  private def localBpeMerges(
      spark: org.apache.spark.sql.SparkSession,
      words: Seq[(String, Long)], k: Int): DataFrame = {
    import spark.implicits._
    var vocab: Seq[(Vector[String], Long)] =
      words.map { case (w, n) => (symbols(w) :+ EndOfWord, n) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i + 1 < syms.length) { counts((syms(i), syms(i + 1))) += n; i += 1 }
      }
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) done = true
      else {
        val ((l, r), c) = eligible.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((rank, l, r, c))
        vocab = vocab.map { case (syms, n) =>
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              nb += (l + r); i += 2
            } else { nb += syms(i); i += 1 }
          }
          (nb.result(), n)
        }
        rank += 1
      }
    }
    out.result().toDF("rank", "left", "right", "pair_count").orderBy(col("rank"))
  }

  /** Corpus-scale BPE APPLICATION — the tokenizer family's final step:
    * encode every document's tokens through a learned merge list, with a
    * dense frequency-ranked subword id per emitted subword (the
    * [[TextAnalysis.tokenizeCorpus]] id contract applied to the subword
    * vocabulary). Output (doc_id, pos, spos, subword, subword_id):
    * token `pos` of a document becomes subwords spos = 0..m in order.
    *
    * Scale shape — the same vocabulary trick as [[bpeMerges]]: the
    * k-merge loop runs once per DISTINCT WORD (a typed map over the
    * word-vocabulary table with the ≤k merge list broadcast), never per
    * corpus token — Zipf makes the vocabulary orders of magnitude
    * smaller than the corpus. The corpus is touched by one map-only
    * posexplode and an equi-join back to the encoded vocabulary on the
    * word key (AQE broadcasts the vocabulary side when it fits);
    * subword ids come from the distributed prefix count over the
    * subword vocabulary (vocabTable's no-global-window discipline). The
    * final orderBy exists only for the deterministic-output face the
    * harness hashes, like the other ordered faces. Rows-only by design
    * (the merge list is data-dependent, so no single-SQL oracle);
    * per-token equality vs driver-side [[encodeWord]] is BpeSpec-gated.
    */
  /** The per-distinct-word encoded vocabulary (word, wn, subwords) —
    * [[encodeCorpus]] and [[subwordVocab]]'s shared first stage. The
    * merge list rides a broadcast whose lazy consumers are the returned
    * plan, so it is CacheTracker-registered like the unigram twin.
    */
  private def encodedWordVocab(
      docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = graft.CacheTracker.registerBroadcast(
      spark.sparkContext.broadcast(merges.toIndexedSeq))
    val words = docs.where(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
    // read twice: subword-vocabulary build + corpus join
    graft.CacheTracker.pin(words.as[(String, Long)]
      .map { case (w, n) => (w, n, encodeWord(w, bc.value)) }
      .toDF("word", "wn", "subwords"))
  }

  // subword corpus frequency = Σ containing-word counts — identical to
  // counting over the encoded corpus, without touching it again
  private def subwordVocabOf(encoded: DataFrame): DataFrame =
    PrefixSum.runningSum(
      encoded.select(explode(col("subwords")).as("subword"), col("wn"))
        .groupBy(col("subword")).agg(sum(col("wn")).as("n")),
      Seq(col("n").desc, col("subword")), lit(1L), "subword_id")
      .select(col("subword"), col("subword_id"))

  /** The trained subword vocabulary with [[encodeCorpus]]'s dense
    * frequency-ranked ids, as a standalone table: (subword, subword_id).
    * BOUNDED BY CONSTRUCTION — every merge mints at most one new subword
    * type, so |rows| ≤ |alphabet| + 1 (end-of-word) + k.
    */
  def subwordVocab(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    subwordVocabOf(encodedWordVocab(docs, merges))

  /** [[subwordVocab]] collected to a driver map — the bounded id table a
    * STREAMING encoder ships in its task closure so live micro-batches
    * emit the same dense ids as the batch corpus encode (OOV → 0, the
    * shared contract with [[UnigramLm.tokenEncoder]]).
    */
  def subwordIds(
      docs: DataFrame, merges: Seq[(String, String)]): Map[String, Long] =
    subwordVocab(docs, merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def encodeCorpus(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val encoded = encodedWordVocab(docs, merges)
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

  /** [[bpeMerges]] then [[encodeCorpus]] — learn k merges from the corpus
    * and encode the corpus with them (the end-to-end tokenizer face; the
    * merge-list collect is bounded at k rows by construction).
    */
  def learnAndEncode(docs: DataFrame, k: Int): DataFrame = {
    val merges = bpeMerges(docs, k).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    encodeCorpus(docs, merges)
  }

  /** Apply a learned merge list to one word — the encoding side's unit:
    * [[encodeCorpus]] maps this over the distinct-word vocabulary; specs
    * and driver-side checks call it directly.
    */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Vector[String] = symbols(word) :+ EndOfWord
    for ((l, r) <- merges) {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }
}
