package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data-pipeline extension surface
  * (SURVEY §2.5 north-star ops; the reference itself has no text ops — its
  * `documents` analog is the schemaless metadata store,
  * reference api/rest/server.py:75).
  *
  * Everything here is built from codegen'd built-ins (`split`, `explode`,
  * higher-order functions) and is expressible in DuckDB SQL for the oracle.
  * Tokenization is a plain single-space split — the fixture text is
  * space-joined tokens (TESTDATA.md), and a literal split is the one
  * tokenizer guaranteed to agree byte-for-byte across engines.
  */
object TextAnalysis {

  /** Stopword lists for the language-ID heuristic. Tiny on purpose: the
    * score is "fraction of tokens that are stopwords of language L".
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "et", "un", "une", "de", "est", "que"),
    "es" -> Seq("el", "la", "y", "un", "una", "de", "es", "que"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "von", "zu"))

  def tokens(text: Column): Column = split(text, " ")

  /** Overlapping token-window chunking — the RAG/context-window ingestion
    * transform: chunk i covers tokens [i·stride, i·stride + width), chunks
    * run until the last one containing the final token (last chunk
    * index = min(⌈max(n − width, 0) / stride⌉, ⌊(n − 1) / stride⌋):
    * the CEIL term covers an unaligned tail — the bug a randomized
    * slice-formula property caught in the floor variant — and the
    * ⌊(n − 1)/stride⌋ cap keeps every chunk start strictly inside the
    * document, so the sampled-window regime stride > width never emits
    * an empty trailing chunk. stride ≤ width ⇒ every token is covered
    * and consecutive chunks overlap by width − stride tokens,
    * spec-gated). Map-only: one projection + posexplode, no shuffle at
    * any scale; integer-exact arithmetic → DuckDB-oracle-checked.
    * Output: (doc_id, chunk_idx, n_tokens, chunk) per non-null-text doc.
    */
  def chunkDocuments(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    require(width >= 1 && stride >= 1, "width and stride must be >= 1")
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            least(
              floor((greatest(size(col("toks")) - width, lit(0)) + stride - 1) / stride),
              floor((size(col("toks")) - 1) / stride)).cast("int")),
          i => slice(col("toks"), (i * stride + 1).cast("int"), lit(width))))
          .as(Seq("chunk_idx", "ctoks")))
      .select(
        col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** BPE-ish subword regex: letter runs, digit runs, and single
    * non-alphanumeric glyphs — a simplified GPT-style pre-tokenizer kept
    * to character classes so Java regex and RE2 (DuckDB) agree exactly.
    */
  val BpeIshPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Per-document token statistics: whitespace tokens, uniques, lengths, a
    * chars/4 BPE estimate (the common LLM sizing heuristic), and the
    * regex-based subword count.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_unique_tokens"),
      length(col("text")).as("n_chars"),
      ceil(length(col("text")) / 4.0).cast("long").as("est_bpe_tokens"),
      regexp_count(col("text"), lit(BpeIshPattern)).cast("long").as("n_regex_tokens"))
  }

  /** Corpus-wide top-k tokens by frequency (explode → count → top-k).
    * Scale: partial aggregation (map-side combine) happens before the
    * shuffle; the shuffle key space is the vocabulary, not the corpus.
    */
  def topTokens(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** VOCABULARY construction — the tokenizer-training precursor: every
    * distinct token gets a dense 1-based id in (frequency desc, token)
    * order, the id assignment BPE/WordPiece vocab builds start from.
    * The ranking is the distributed prefix COUNT over the ordered
    * vocabulary ([[PrefixSum.runningSum]] of 1s — range repartition +
    * two narrow passes), NOT a global row_number window: a 100 TB corpus
    * has a vocabulary in the many millions, exactly the frame the
    * single-partition window would serialize. Deterministic (count ties
    * break on the token string), hence DuckDB-oracle-checked.
    * Output: (token, token_id, n).
    */
  def vocabTable(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    PrefixSum.runningSum(
      counts, Seq(col("n").desc, col("token")), lit(1L), "token_id")
      .select(col("token"), col("token_id"), col("n"))
      .orderBy(col("token_id"))
  }

  /** Apply the learned vocabulary — the encoding half of tokenizer
    * construction: every token of every document becomes its
    * frequency-ranked id from [[vocabTable]], with tokens whose corpus
    * frequency falls below `minCount` mapping to the OOV id 0. The
    * min-count cut removes an ORDER SUFFIX of the (n desc, token)
    * ranking, so the surviving ids stay a dense 1..V′ prefix — the
    * contract an embedding matrix needs. Output is the exploded
    * (doc_id, pos, token_id) encoding.
    *
    * Scale shape: the corpus side explodes map-only and equi-joins the
    * vocabulary on the token key — broadcast when the vocab is small,
    * one corpus shuffle otherwise; no window over the corpus. The final
    * orderBy(doc_id, pos) exists ONLY for the deterministic-output face
    * the oracle-hash harness compares (like the other ordered faces) —
    * it is a corpus-wide range shuffle a production pipeline should
    * drop, since the (doc_id, pos) keys already identify each row and
    * downstream consumers (packing, batching) impose their own order.
    */
  def tokenizeCorpus(docs: DataFrame, minCount: Long = 1L): DataFrame = {
    val vocab = vocabTable(docs)
      .where(col("n") >= minCount)
      .select(col("token"), col("token_id"))
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .join(vocab, Seq("token"), "left_outer")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Stopword-ratio score for one language. */
  private def langScore(toks: Column, lang: String): Column = {
    val sw = stopwords(lang)
    val hits = size(filter(toks, t => t.isInCollection(sw)))
    round(hits.cast("double") / greatest(size(toks), lit(1)), 6)
  }

  /** Predicted language as a Column: argmax of stopword-ratio scores, ties
    * broken by fixed language order (en > fr > es > de).
    */
  def langPred(toks: Column): Column = {
    val en = langScore(toks, "en"); val fr = langScore(toks, "fr")
    val es = langScore(toks, "es"); val de = langScore(toks, "de")
    when(en >= fr && en >= es && en >= de, lit("en"))
      .when(fr >= es && fr >= de, lit("fr"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  /** Language-ID confusion matrix against the declared `lang` column —
    * the calibration table that tells a pipeline operator whether the
    * cheap heuristic can be trusted per language before it gates
    * anything (a (lang, pred_lang) cell far off the diagonal = either a
    * mislabeled feed or a detector blind spot). One source-keyed
    * aggregate; the matrix is |langs|² rows.
    */
  def langConfusion(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), langPred(tokens(col("text"))).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  /** Language-ID heuristic: per-language scores + argmax prediction.
    * Deterministic and oracle-expressible.
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      langScore(toks, "en").as("score_en"),
      langScore(toks, "fr").as("score_fr"),
      langScore(toks, "es").as("score_es"),
      langScore(toks, "de").as("score_de"),
      langPred(toks).as("pred_lang"))
  }

  /** Document quality score: a deterministic blend of length, lexical
    * diversity, and stopword ratio — the standard cheap pre-filter for
    * LLM training corpora. Returns components + composite so downstream
    * filters can re-weight.
    */
  /** Composite quality as a Column (unrounded components, rounded blend —
    * the contract the oracle SQL mirrors).
    */
  def qualityCol(toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / greatest(size(toks), lit(1))
    val swRatio = size(filter(toks, t => t.isInCollection(stopwords("en"))))
      .cast("double") / greatest(size(toks), lit(1))
    round((least(nTok / 100.0, lit(1.0)) + diversity + swRatio) / 3.0, 6)
  }

  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / greatest(size(toks), lit(1))
    val enSw = stopwords("en")
    val swRatio = size(filter(toks, t => t.isInCollection(enSw))).cast("double") /
      greatest(size(toks), lit(1))
    val lenScore = least(nTok / 100.0, lit(1.0))
    docs.select(
      col("doc_id"),
      round(lenScore, 6).as("len_score"),
      round(diversity, 6).as("diversity"),
      round(swRatio, 6).as("stopword_ratio"),
      round((lenScore + diversity + swRatio) / 3.0, 6).as("quality"))
  }

  /** Content fingerprint: md5 of the normalized text. md5 is bit-identical
    * across Spark and DuckDB, so this is the oracle-checkable fingerprint
    * primitive that exact dedup builds on.
    */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fingerprint"))

  /** Word n-gram list WITH multiplicity (unlike the distinct shingle set
    * dedup uses) — the denominator of repetition ratios. Empty for docs
    * shorter than n tokens.
    */
  private[operators] def ngramList(toks: Column, n: Int): Column =
    // guard unchanged (short OR null token arrays → EMPTY array, the
    // HOF form's semantics); the ≥ n branch is the one-pass WordNgrams
    // expression instead of an interpreted per-gram transform lambda —
    // byte-identical grams (UTF8String concat ≡ string concat)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(graft.functions.VectorFunctions.wordNgrams(toks, n))

  /** Gopher-style repetition signals — the quality filters a pretraining
    * pipeline runs alongside length/diversity: duplicate 2-gram and 3-gram
    * fractions (per-row array expressions, no shuffle) and the most
    * frequent token's share (explode → two map-side-combined aggregates;
    * the shuffle key space is (doc, token), never the corpus). All
    * deterministic, oracle-checked.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    def dupRatio(n: Int): Column = {
      val g = ngramList(toks, n)
      when(size(g) === 0, lit(0.0))
        .otherwise(round(
          lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 6))
    }
    val perDoc = docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      dupRatio(2).as("dup_2gram_ratio"),
      dupRatio(3).as("dup_3gram_ratio"))
    val topTok = docs
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_count"))
    perDoc
      .join(topTok, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("dup_2gram_ratio"),
        col("dup_3gram_ratio"),
        round(col("top_count").cast("double") / greatest(col("n_tokens"), lit(1)), 6)
          .as("top_token_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Canonical text normalization (lowercase, strip non-alphanumerics,
    * collapse whitespace) + fingerprint of the canonical form — the
    * pre-dedup cleanup pass. Pure codegen'd built-ins; regex kept to
    * character classes so Java regex and DuckDB's RE2 agree exactly.
    */
  def normalized(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    docs.select(
      col("doc_id"),
      norm.as("norm_text"),
      md5(norm).as("norm_fingerprint"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS scheme) —
    * the ROLLING-HASH document fingerprint that complements the exact md5
    * fingerprint: robust to local edits, with the winnowing guarantee
    * that any shared substring of length ≥ k + w − 1 yields at least one
    * shared fingerprint (spec-gated).
    *
    * Per document: polynomial rolling hash of every character k-gram
    * (base 257 mod 1e9+7 — PLAIN integer arithmetic, so Spark and DuckDB
    * produce bit-identical values and the operator is oracle-checkable,
    * unlike xxhash-based sketches), then the distinct minima of every
    * w-window of consecutive hashes, sorted. One pure array-expression
    * pass per row — no shuffle, no UDF; a 100 TB fingerprint pass is a
    * map over the corpus. Documents shorter than k characters have no
    * k-gram and are omitted. Returns (doc_id, fps ARRAY<BIGINT>).
    */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    // compiled one-pass expression, not the transform/aggregate HOF
    // chain: nested lambdas are interpreted per element, and Catalyst
    // inlines whole projections into optimizer-inserted predicates (the
    // size(...) > 0 filter InferFiltersFromGenerate pushes below an
    // explode re-evaluated the full hash array per window element —
    // measured: seconds → minutes). Same hazard class WordShingles /
    // SimHash64 exist to avoid; value semantics are bit-identical to the
    // HOF form and the DuckDB twin (WinnowFingerprint scaladoc).
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    docs
      .where(length(col("text")) >= k)
      .select(col("doc_id"),
        bridge.column(graft.functions.WinnowFingerprint(
          bridge.expression(col("text")), k, w)).as("fps"))
  }

  /** Corpus-bigram surprisal — the cheap LM-style quality signal a
    * pretraining pipeline runs beside length/diversity/repetition: score
    * each document by the average negative log conditional probability
    * of its bigrams under the CORPUS bigram model,
    * avg over bigram occurrences of −ln(C(w1 w2) / C(w1 ·)), where
    * C(w1 ·) is w1's count as a bigram head. Low = predictable/templated
    * text, high = improbable token transitions (both tails get filtered
    * in practice). Deterministic and oracle-checked.
    *
    * Scale shape: bigram counts are a map-side-combined aggregate whose
    * key space is the observed bigram vocabulary; the per-doc score
    * joins each bigram occurrence to its two counts — inverted-index
    * equi-joins, never corpus × corpus. Documents with fewer than two
    * tokens have no bigrams and are omitted.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    // cached: the exploded occurrence table feeds BOTH the count
    // aggregates and the scoring join — without the cache the tokenize +
    // n-gram explode runs three times. The token array is BOUND TO A
    // COLUMN before ngramList: lambdas get no subexpression elimination
    // (the r4 knn_graph lesson), so inlining tokens() would re-run
    // split(text) at every element_at site — O(tokens²) per row.
    val bi = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(ngramList(col("toks"), 2)).as("bg"))
    // the count aggregate and the scoring join are scheduled concurrently
    // and would each first-scan a cold cache, re-running the
    // tokenize+explode pass
    graft.CacheTracker.fill(bi)
    val cb = bi.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    val cf = cb
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy(col("w1")).agg(sum(col("cb")).as("cf"))
    bi
      .join(cb, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(cf, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log(col("cf").cast("double")) - log(col("cb").cast("double"))), 6)
          .as("surprisal"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns for the scrub pass. Deliberately conservative and kept
    * to plain character classes + bounded quantifiers + `\b` so Java regex
    * (Spark) and RE2 (DuckDB) match identically — both engines define `\b`
    * as the same ASCII word boundary (`[0-9A-Za-z_]` vs non-word), and
    * both are leftmost-first-equivalent on these shapes (no lookaround,
    * which RE2 lacks, is ever needed).
    *
    * The `\b` guards on the numeric patterns prevent partial redaction
    * inside longer tokens: without them `1.2.3.4000` redacts its first 9
    * chars to `<IP>0`, and a phone shape embedded in a longer digit run
    * (`9555-123-45678`) redacts its interior. With the guards both are
    * left intact — proved by the oracle twin AND TextAnalysisSpec.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"

  /** PII scrub — the redaction pass a training-data pipeline runs before
    * anything else sees the text: emails, IPv4 addresses, and
    * NNN-NNN-NNNN phone numbers replaced by typed placeholders, with
    * per-document match counts (counted on the ORIGINAL text, so the
    * counts are independent of redaction order). Redaction order is
    * email → ip → phone; the placeholders contain no digits or '@', so a
    * later pattern can never match inside an earlier replacement. One
    * codegen'd projection — no shuffle, no UDF; a 100 TB scrub is a pure
    * map over the corpus.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")
    docs.select(
      col("doc_id"),
      scrubbed.as("scrubbed_text"),
      regexp_count(col("text"), lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Pattern)).cast("long").as("n_ips"),
      regexp_count(col("text"), lit(PhonePattern)).cast("long").as("n_phones"))
  }
}
