package graft
package entry

import org.apache.spark.sql.functions._

import graft.operators.{Hybrid, Ranking, TextAnalysis}

/** Text keys: token statistics, BM25 and hybrid retrieval, language ID,
  * normalization and PII scrubbing, and the BPE / WordPiece / Unigram
  * tokenizers with their fixed models.
  */
object TextKeys {
  import Key.key

  /** Fixed BPE merge list for `bpe_encode_fixed` — hardcoded (NOT
    * learned), mirrored verbatim in the oracle's recursive CTE. Ordered
    * application with cascades: "ta"+"b" consumes merge 1's output,
    * "o"+"w" only fires where merge 6 ("r"+"o") has not already taken
    * the 'o' — exactly the order-sensitivity the oracle must reproduce.
    */
  val FixedMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("ta", "b"), ("e", "</w>"), ("a", "</w>"),
    ("s", "c"), ("r", "o"), ("o", "w"), ("w", "</w>"))

  /** Fixed WordPiece vocabulary for `wordpiece_encode_fixed` — chosen
    * against the fixture's closed 31-word vocabulary to exercise every
    * greedy-encode behavior: full-word pieces ("the", "join") beating
    * their own prefixes, multi-char bare + continuation pieces
    * ("cust"+"##omer", "da"+"##ta", "quer", "##able", "##park",
    * "##dow") winning longest-match over singles, and DELIBERATE
    * continuation gaps (no "##p", no "##w") so dup/group/row/slow void
    * to [UNK]. The oracle's VALUES render from THIS val — one
    * declaration, no drift.
    */
  val FixedWordPieceVocab: Seq[String] =
    "abcdfghjklmopqrstvw".map(_.toString) ++
      "abcdeghiklmnorstuvy".map(c => s"##$c") ++
      Seq("the", "join", "cust", "##omer", "da", "##ta", "##able",
        "##park", "##dow", "quer")

  /** Fixed Unigram-LM (piece, score) model for `unigram_encode_fixed` —
    * the shape a shipped SentencePiece model has. Scores are INTEGERS so
    * every Viterbi sum is exact float arithmetic in any engine (the
    * cross-engine-hashability condition; see
    * UnigramLm.encodeCorpusWithModel). Coverage floor = min − 10 = −17
    * for single code points outside the model.
    */
  val FixedUnigramModel: Seq[(String, Double)] = Seq(
    "ta" -> -2.0, "sc" -> -2.0, "val" -> -3.0, "ue" -> -3.0,
    "ab" -> -3.0, "le" -> -3.0, "er" -> -3.0, "in" -> -3.0,
    "row" -> -4.0, "do" -> -4.0,
    "a" -> -3.0, "e" -> -4.0, "t" -> -4.0,
    "s" -> -5.0, "o" -> -5.0, "r" -> -5.0, "l" -> -5.0, "n" -> -5.0,
    "i" -> -5.0, "d" -> -5.0,
    "w" -> -6.0, "b" -> -6.0, "c" -> -6.0, "u" -> -6.0, "m" -> -6.0,
    "g" -> -6.0, "h" -> -6.0, "k" -> -6.0, "f" -> -6.0, "p" -> -6.0,
    "q" -> -6.0, "y" -> -6.0,
    "j" -> -7.0, "x" -> -7.0, "v" -> -7.0)

  // the oracle's MAP / VALUES renderings of FixedUnigramModel — derived
  // from the ONE Scala declaration so the two sides cannot drift
  private lazy val FixedModelSqlKeys: String =
    FixedUnigramModel.map(p => s"'${p._1}'").mkString("[", ",", "]")
  private lazy val FixedModelSqlScores: String =
    "CAST([" + FixedUnigramModel.map(_._2.toLong).mkString(",") +
      "] AS DOUBLE[])"
  private lazy val FixedModelSqlValues: String =
    FixedUnigramModel
      .map { case (p, s) => s"('$p', CAST(${s.toLong} AS DOUBLE))" }
      .mkString(", ")

  /** The fixed-model encoders' corpus views: the distinct non-empty
    * words, their occurrence counts `wcount(word, cnt)`, and the
    * per-position token split `tok(doc_id, pos, word)` — shared by
    * bpe_encode_fixed, wordpiece_encode_fixed and [[UnigramFixedCtes]]. */
  private lazy val fixedWords: String =
    """words AS (
      |  SELECT DISTINCT tok AS word FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |    WHERE text IS NOT NULL)
      |  WHERE len(tok) > 0)""".stripMargin
  private lazy val fixedWordCounts: String =
    """wcount AS (
      |  SELECT tok AS word, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |    WHERE text IS NOT NULL)
      |  WHERE len(tok) > 0 GROUP BY tok)""".stripMargin
  private lazy val fixedTokenSplit: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |      FROM documents WHERE text IS NOT NULL),
      |e AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks
      |      FROM t),
      |tok AS (SELECT doc_id, CAST(p - 1 AS INTEGER) AS pos, toks[p] AS word
      |        FROM e WHERE len(toks[p]) > 0)""".stripMargin

  /** The fixed-model Viterbi CTE chain (recursive DP per distinct word →
    * per-occurrence pieces with ids), ending in CTEs `tok`, `wpieces`,
    * `mids`, `model` — shared by unigram_encode_fixed and
    * unigram_doc_quality so the segmentation the quality score sums is
    * exactly the segmentation the encode key checks. Callers prepend
    * `WITH RECURSIVE `.
    */
  private lazy val UnigramFixedCtes: String =
    s"""$fixedWords,
       |dp AS (
       |  SELECT word, 0 AS i,
       |    [struct_pack(s := CAST(0.0 AS DOUBLE), n := 0, prev := -1,
       |       via := CAST(NULL AS TEXT))] AS tab
       |  FROM words
       |  UNION ALL
       |  SELECT word, i + 1 AS i,
       |    list_append(tab, (
       |      SELECT struct_pack(
       |        s := -best.negs, n := best.n, prev := best.prev,
       |        via := best.via)
       |      FROM (
       |        SELECT list_sort(list_filter(list_transform(
       |          generate_series(greatest(0, d.i - 5), d.i),
       |          j -> struct_pack(
       |            negs := -((d.tab[j + 1]).s + coalesce(
       |              map_extract(MAP($FixedModelSqlKeys,
       |                $FixedModelSqlScores),
       |                substr(d.word, j + 1, d.i + 1 - j))[1],
       |              CASE WHEN d.i + 1 - j = 1
       |                   THEN CAST(-17.0 AS DOUBLE) END)),
       |            n := (d.tab[j + 1]).n + 1,
       |            via := substr(d.word, j + 1, d.i + 1 - j),
       |            prev := j)),
       |          c -> c.negs IS NOT NULL))[1] AS best)
       |    )) AS tab
       |  FROM dp d WHERE d.i < len(d.word)),
       |dpf AS (SELECT word, tab FROM dp WHERE i = len(word)),
       |bt AS (
       |  SELECT word, len(word) AS i, tab FROM dpf
       |  UNION ALL
       |  SELECT word, (tab[i + 1]).prev AS i, tab FROM bt WHERE i > 0),
       |wpieces AS (
       |  SELECT word, (tab[i + 1]).n - 1 AS spos, (tab[i + 1]).via AS piece
       |  FROM bt WHERE i > 0),
       |model(piece, score) AS (VALUES $FixedModelSqlValues),
       |mids AS (
       |  SELECT piece, row_number() OVER (ORDER BY score DESC, piece)
       |    AS piece_id
       |  FROM model),
       |$fixedTokenSplit""".stripMargin

  /** Per-document tokens `t`, term frequencies `tf`, document
    * frequencies `df` and the corpus size and mean length `n` — the BM25
    * inputs shared by bm25_terms, hybrid_search and hybrid_batch. */
  private lazy val bm25Ctes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |x AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM t),
      |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
      |       FROM x GROUP BY doc_id, token),
      |df AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token),
      |n AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
      |      FROM (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY doc_id))""".stripMargin

  /** The four stopword-share language scores over `toks` and their argmax
    * (ties to the earlier language) — shared by lang_id and lang_confusion. */
  private lazy val langScores: String = Seq("en", "fr", "es", "de")
    .map(l => s"${Sql.langScoreSql(l)} AS score_$l").mkString(",\n  ")
  private lazy val predLang: String =
    """CASE
      |    WHEN score_en >= score_fr AND score_en >= score_es AND score_en >= score_de THEN 'en'
      |    WHEN score_fr >= score_es AND score_fr >= score_de THEN 'fr'
      |    WHEN score_es >= score_de THEN 'es'
      |    ELSE 'de' END AS pred_lang""".stripMargin

  val keys: Seq[Key] = Seq(
    key("token_stats")((s, d) =>
      TextAnalysis.tokenStats(Tables.documents(s, d))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .withColumn("n_unique_tokens", col("n_unique_tokens").cast("long"))
        .withColumn("n_chars", col("n_chars").cast("long"))
        .orderBy(col("doc_id")))
      .oracle("""SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  len(list_distinct(string_split(text, ' ')))::BIGINT AS n_unique_tokens,
        |  length(text)::BIGINT AS n_chars,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_regex_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin),
    key("top_tokens")((s, d) => TextAnalysis.topTokens(Tables.documents(s, d), 20))
      .oracle("""SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin),
    // Okapi BM25 per-doc top terms — lexical relevance / keyword signal
    key("bm25_terms")((s, d) => Ranking.bm25TopTerms(Tables.documents(s, d), 3))
      // constants are the shortest-round-trip decimal forms of the Scala
      // doubles (k1=1.2, b=0.75 ⇒ k1+1=2.2, 1−b=0.25), so both engines
      // evaluate the identically-parenthesized expression on identical
      // IEEE inputs
      .oracle(s"""WITH $bm25Ctes,
        |sc AS (SELECT tf.doc_id, tf.token,
        |  round(ln(1.0 + (n.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / n.avgdl))), 6) + 0.0 AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, score, rank FROM (
        |  SELECT doc_id, token, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, token) AS rank
        |  FROM sc)
        |WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin),
    // hybrid retrieval: BM25 leg + cosine leg fused by reciprocal rank
    // fusion (both legs bounded top-k; fixture id domains align)
    key("hybrid_search")((s, d) =>
      Hybrid.rrfHybridSearch(Tables.documents(s, d), Tables.embeddings(s, d)))
      // both legs truncate at 50 then rank; per-term lexical scores are
      // quantized to microunit BIGINTs and summed EXACTLY (float sums are
      // addition-order sensitive; integer sums are order-free in both
      // engines), then divided back and rounded
      .oracle(s"""WITH $bm25Ctes,
         |qt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS token
         |       FROM documents WHERE doc_id = 0),
         |lex AS (SELECT tf.doc_id,
         |    round(sum(CAST(round((ln(1.0 + (n.n_docs - df.df + 0.5) / (df.df + 0.5)) *
         |      ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / n.avgdl)))) * 1000000.0, 0)
         |      AS BIGINT)) / 1000000.0, 6) + 0.0 AS s
         |  FROM tf JOIN qt USING (token) JOIN df USING (token) CROSS JOIN n
         |  GROUP BY tf.doc_id),
         |lexr AS (SELECT doc_id, lex_rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS lex_rank FROM lex)
         |  WHERE lex_rank <= 50),
         |${Sql.withQ.stripPrefix("WITH ")},
         |vd AS (SELECT e.vec_id AS doc_id,
         |    round(${Sql.dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS d
         |  FROM ${Sql.E} e, q),
         |vecr AS (SELECT doc_id, vec_rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY d, doc_id) AS vec_rank FROM vd)
         |  WHERE vec_rank <= 50)
         |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |  round(CASE WHEN l.lex_rank IS NULL THEN 0.0 ELSE 1.0 / (60 + l.lex_rank) END +
         |        CASE WHEN v.vec_rank IS NULL THEN 0.0 ELSE 1.0 / (60 + v.vec_rank) END, 6) AS fused,
         |  COALESCE(l.lex_rank, 0) AS lex_rank,
         |  COALESCE(v.vec_rank, 0) AS vec_rank
         |FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id
         |ORDER BY fused DESC, doc_id
         |LIMIT 10""".stripMargin),
    // the batch serving shape: RRF for the 5 lowest doc ids at once,
    // both legs reduced by the bounded graft_topk aggregate
    key("hybrid_batch")((s, d) =>
      Hybrid.rrfHybridBatch(Tables.documents(s, d), Tables.embeddings(s, d)))
      // the batch form: queries = the 5 lowest doc ids; per-query ranks
      // and a per-query top-10 window; same quantized lexical sums
      .oracle(s"""WITH $bm25Ctes,
         |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(string_split(text, ' ')) AS token
         |       FROM documents WHERE doc_id < 5),
         |lex AS (SELECT qt.query_id, tf.doc_id,
         |    round(sum(CAST(round((ln(1.0 + (n.n_docs - df.df + 0.5) / (df.df + 0.5)) *
         |      ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / n.avgdl)))) * 1000000.0, 0)
         |      AS BIGINT)) / 1000000.0, 6) + 0.0 AS s
         |  FROM tf JOIN qt USING (token) JOIN df USING (token) CROSS JOIN n
         |  GROUP BY qt.query_id, tf.doc_id),
         |lexr AS (SELECT query_id, doc_id, lex_rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY s DESC, doc_id) AS lex_rank FROM lex)
         |  WHERE lex_rank <= 50),
         |qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |       FROM ${Sql.E} WHERE vec_id < 5),
         |vd AS (SELECT q.query_id, e.vec_id AS doc_id,
         |    round(${Sql.dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS d
         |  FROM ${Sql.E} e CROSS JOIN qv q),
         |vecr AS (SELECT query_id, doc_id, vec_rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY d, doc_id) AS vec_rank FROM vd)
         |  WHERE vec_rank <= 50),
         |fused AS (
         |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |    round(CASE WHEN l.lex_rank IS NULL THEN 0.0 ELSE 1.0 / (60 + l.lex_rank) END +
         |          CASE WHEN v.vec_rank IS NULL THEN 0.0 ELSE 1.0 / (60 + v.vec_rank) END, 6) AS fused,
         |    COALESCE(l.lex_rank, 0) AS lex_rank,
         |    COALESCE(v.vec_rank, 0) AS vec_rank
         |  FROM lexr l FULL JOIN vecr v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
         |SELECT query_id, doc_id, fused, lex_rank, vec_rank, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY fused DESC, doc_id) AS rank
         |  FROM fused)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),
    key("lang_id")((s, d) => TextAnalysis.langId(Tables.documents(s, d)).orderBy(col("doc_id")))
      .oracle(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  $langScores
         |FROM t)
         |SELECT doc_id, score_en, score_fr, score_es, score_de,
         |  $predLang
         |FROM s
         |ORDER BY doc_id""".stripMargin),
    // detector calibration: declared lang × predicted lang counts
    key("lang_confusion")((s, d) =>
      TextAnalysis.langConfusion(Tables.documents(s, d)))
      .oracle(s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |  $langScores
         |FROM t),
         |p AS (SELECT lang,
         |  $predLang
         |FROM s)
         |SELECT lang, pred_lang, count(*) AS n
         |FROM p
         |GROUP BY lang, pred_lang
         |ORDER BY lang, pred_lang""".stripMargin),
    // Gopher-style repetition quality signals (dup n-gram fractions +
    // top-token share)
    key("repetition_stats")((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d)))
      .oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, len(toks) AS n_tokens,
        |  CASE WHEN len(toks) < 2 THEN NULL
        |       ELSE list_transform(generate_series(1, len(toks) - 1),
        |              i -> array_to_string(toks[i:i+1], ' ')) END AS g2,
        |  CASE WHEN len(toks) < 3 THEN NULL
        |       ELSE list_transform(generate_series(1, len(toks) - 2),
        |              i -> array_to_string(toks[i:i+2], ' ')) END AS g3
        |  FROM t),
        |r AS (SELECT doc_id, n_tokens,
        |  CASE WHEN g2 IS NULL THEN 0.0
        |       ELSE round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 6) END
        |    AS dup_2gram_ratio,
        |  CASE WHEN g3 IS NULL THEN 0.0
        |       ELSE round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 6) END
        |    AS dup_3gram_ratio
        |  FROM g),
        |tt AS (SELECT doc_id, max(c) AS top_count FROM (
        |  SELECT doc_id, token, count(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS token FROM t)
        |  GROUP BY doc_id, token)
        |  GROUP BY doc_id)
        |SELECT r.doc_id, r.dup_2gram_ratio, r.dup_3gram_ratio,
        |  round(tt.top_count::DOUBLE / greatest(r.n_tokens, 1), 6) AS top_token_ratio
        |FROM r JOIN tt USING (doc_id)
        |ORDER BY r.doc_id""".stripMargin),
    // canonical normalization + fingerprint (pre-dedup cleanup)
    key("normalize_text")((s, d) =>
      TextAnalysis.normalized(Tables.documents(s, d)).orderBy(col("doc_id")))
      .oracle("""SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g'))) AS norm_fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin),
    // PII scrub over fixture text + a deterministic PII-laden suffix (the
    // fixture corpus itself contains no PII, so the suffix plants a real
    // email / phone / IP per document PLUS the two boundary traps — an
    // over-long dotted quad and an over-long digit run — so the oracle
    // hash-proves both the redactions AND the \b-guarded NON-redactions
    // agree between Java regex (Spark) and RE2 (DuckDB))
    key("pii_scrub")((s, d) =>
      TextAnalysis.piiScrub(
        Tables.documents(s, d).select(
          col("doc_id"),
          concat(
            col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-1234 from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7 build 1.2.3.4000 serial 9555-123-45678")).as("text")))
        .orderBy(col("doc_id")))
      .oracle {
        // the same deterministic PII suffix the Spark side appends; patterns
        // are the shared TextAnalysis vals so the two engines cannot drift
        s"""WITH p AS (
           |  SELECT doc_id,
           |    text || ' contact user' || doc_id || '@example.com or 555-' ||
           |    lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-1234 from 10.0.' ||
           |    (doc_id % 256) || '.7 build 1.2.3.4000 serial 9555-123-45678' AS text
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
           |    '${TextAnalysis.Ipv4Pattern}', '<IP>', 'g'),
           |    '${TextAnalysis.PhonePattern}', '<PHONE>', 'g') AS scrubbed_text,
           |  len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}'))::BIGINT AS n_emails,
           |  len(regexp_extract_all(text, '${TextAnalysis.Ipv4Pattern}'))::BIGINT AS n_ips,
           |  len(regexp_extract_all(text, '${TextAnalysis.PhonePattern}'))::BIGINT AS n_phones
           |FROM p
           |ORDER BY doc_id""".stripMargin
      },
    // corpus-bigram surprisal (LM-style quality signal)
    key("bigram_surprisal")((s, d) =>
      TextAnalysis.bigramSurprisal(Tables.documents(s, d)))
      .oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bi AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+1], ' '))) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |cb AS (SELECT bg, count(*) AS cb FROM bi GROUP BY bg),
        |cf AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cb) AS BIGINT) AS cf
        |       FROM cb GROUP BY 1)
        |SELECT bi.doc_id, count(*) AS n_bigrams,
        |  round(avg(ln(cf.cf) - ln(cb.cb)), 6) AS surprisal
        |FROM bi
        |JOIN cb USING (bg)
        |JOIN cf ON split_part(bi.bg, ' ', 1) = cf.w1
        |GROUP BY bi.doc_id
        |ORDER BY doc_id""".stripMargin),
    // vocabulary construction: dense frequency-ranked token ids via the
    // distributed prefix count (no vocabulary-sized global window)
    key("vocab_table")((s, d) =>
      TextAnalysis.vocabTable(Tables.documents(s, d)))
      .oracle("""WITH c AS (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token)
        |SELECT token,
        |  row_number() OVER (ORDER BY n DESC, token) AS token_id, n
        |FROM c
        |ORDER BY token_id""".stripMargin),
    // BPE merge learning (Sennrich 2016): iterations over the WORD
    // VOCABULARY, never the corpus; deterministic (exact counts, lexical
    // tie-break) but k data-dependent iterations are not one SQL query →
    // rows-only, equality vs an independent reference impl in BpeSpec
    key("bpe_merges")((s, d) =>
      graft.operators.Bpe.bpeMerges(Tables.documents(s, d), k = 20)),
    // BPE application at corpus scale: learn 20 merges, then encode every
    // token through them — merge loop per DISTINCT word (broadcast merge
    // list), corpus touched by one explode + equi-join; dense
    // frequency-ranked subword ids via the distributed prefix count.
    // Rows-only like bpe_merges (data-dependent merge list ≠ one SQL);
    // per-token parity vs driver-side encodeWord is BpeSpec-gated
    key("bpe_encode")((s, d) =>
      graft.operators.Bpe.learnAndEncode(Tables.documents(s, d), k = 20)),
    // Unigram-LM tokenizer (Kudo 2018, the SentencePiece algorithm):
    // seed → soft-EM (forward–backward expected counts, quantized per
    // word to fixed-point longs so aggregation is partition-invariant)
    // → prune, all over the WORD VOCABULARY (corpus touched once).
    // Data-dependent inventory ≠ one SQL → rows-only; training is
    // equality-gated vs an independent reference impl in UnigramLmSpec
    key("unigram_pieces")((s, d) =>
      graft.operators.UnigramLm.trainPieces(Tables.documents(s, d),
        vocabSize = 200)),
    // Unigram-LM application at corpus scale: Viterbi once per DISTINCT
    // word (broadcast piece table), corpus touched by one posexplode +
    // equi-join; rows-only like unigram_pieces (same data-dependent
    // inventory); per-word Viterbi parity is UnigramLmSpec-gated
    key("unigram_encode")((s, d) =>
      graft.operators.UnigramLm.learnAndEncode(Tables.documents(s, d),
        vocabSize = 200)),
    // FIXED-inventory encode faces (r11): the learned-inventory keys
    // above are rows-only because training is not one SQL query — but
    // ENCODING with a fixed inventory is deterministic string/integer
    // work, so these two run the same corpus encode with a hardcoded
    // merge list / (piece, integer-score) model and hash-match a DuckDB
    // twin that re-derives the per-distinct-word segmentation via a
    // recursive CTE (the dedup_clusters precedent)
    key("bpe_encode_fixed")((s, d) =>
      graft.operators.Bpe.encodeCorpus(Tables.documents(s, d), FixedMerges))
      // same vocab CTE as vocab_table, ranked AFTER the n >= 2 cut (the
      // cut removes an order suffix, so the ids equal the uncut prefix)
      // per-distinct-word BPE merge application as a recursive state
      // machine (mi = merge index, rem = input symbols, out = emitted):
      // one symbol consumed per recursion row, rem-empty advances to the
      // next merge, final segmentation = rem at mi = |merges| + 1. The
      // merge VALUES list mirrors FixedMerges verbatim.
      .oracle(s"""WITH RECURSIVE
        |$fixedWords,
        |merges(mi, l, r) AS (
        |  VALUES (1,'t','a'),(2,'ta','b'),(3,'e','</w>'),(4,'a','</w>'),
        |         (5,'s','c'),(6,'r','o'),(7,'o','w'),(8,'w','</w>')),
        |seg AS (
        |  SELECT word, 1 AS mi,
        |         list_append(regexp_extract_all(word, '.'), '</w>') AS rem,
        |         CAST([] AS TEXT[]) AS out
        |  FROM words
        |  UNION ALL
        |  SELECT s.word,
        |    CASE WHEN len(s.rem) = 0 THEN s.mi + 1 ELSE s.mi END AS mi,
        |    CASE WHEN len(s.rem) = 0 THEN s.out
        |         WHEN len(s.rem) >= 2 AND s.rem[1] = m.l AND s.rem[2] = m.r
        |           THEN s.rem[3:]
        |         ELSE s.rem[2:] END AS rem,
        |    CASE WHEN len(s.rem) = 0 THEN CAST([] AS TEXT[])
        |         WHEN len(s.rem) >= 2 AND s.rem[1] = m.l AND s.rem[2] = m.r
        |           THEN list_append(s.out, m.l || m.r)
        |         ELSE list_append(s.out, s.rem[1]) END AS out
        |  FROM seg s JOIN merges m ON m.mi = s.mi),
        |final AS (SELECT word, rem AS subwords FROM seg WHERE mi = 9),
        |$fixedWordCounts,
        |subfreq AS (
        |  SELECT sub, sum(cnt) AS n FROM (
        |    SELECT f.word, unnest(f.subwords) AS sub FROM final f) s
        |  JOIN wcount w ON s.word = w.word
        |  GROUP BY sub),
        |ids AS (
        |  SELECT sub, row_number() OVER (ORDER BY n DESC, sub) AS subword_id
        |  FROM subfreq),
        |$fixedTokenSplit,
        |ex AS (SELECT tok.doc_id, tok.pos, f.subwords
        |       FROM tok JOIN final f ON tok.word = f.word),
        |sub AS (SELECT doc_id, pos,
        |          unnest(generate_series(1, len(subwords))) AS sp, subwords
        |        FROM ex)
        |SELECT s.doc_id, s.pos, CAST(s.sp - 1 AS INTEGER) AS spos,
        |  s.subwords[s.sp] AS subword, i.subword_id
        |FROM sub s JOIN ids i ON s.subwords[s.sp] = i.sub
        |ORDER BY doc_id, pos, spos""".stripMargin),
    key("unigram_encode_fixed")((s, d) =>
      graft.operators.UnigramLm.encodeCorpusWithModel(
        Tables.documents(s, d), FixedUnigramModel))
      // per-distinct-word Viterbi as a recursive DP: each row carries the
      // full DP table as a list of (s, n, prev, via) structs; candidates
      // are built by list_transform over the ≤6 admissible starts, scored
      // from the inline model MAP (integer scores: exact double sums both
      // engines), and the (−s, n, via) struct sort IS the tie rule.
      // Backtrack is a second recursion over prev. Model VALUES mirror
      // FixedUnigramModel; floor = −17 for off-model singles.
      .oracle((s"""WITH RECURSIVE $UnigramFixedCtes
        |SELECT tok.doc_id, tok.pos, CAST(wp.spos AS INTEGER) AS spos,
        |  wp.piece, coalesce(m.piece_id, 0) AS piece_id
        |FROM tok JOIN wpieces wp ON tok.word = wp.word
        |LEFT JOIN mids m ON wp.piece = m.piece
        |ORDER BY doc_id, pos, spos""").stripMargin),
    // perplexity-filter face: per-document total/mean Viterbi log-prob
    // under the SAME fixed model, in exact micro-nat integers
    key("unigram_doc_quality")((s, d) =>
      graft.operators.UnigramLm.docQualityWithModel(
        Tables.documents(s, d), FixedUnigramModel))
      // the SAME segmentation CTEs, summed per document in micro-nat
      // integers (floor = min score - 10 = -17 nats for off-model singles)
      .oracle((s"""WITH RECURSIVE $UnigramFixedCtes,
        |enc AS (
        |  SELECT tok.doc_id, wp.piece,
        |    coalesce(m.piece_id, 0) AS piece_id
        |  FROM tok JOIN wpieces wp ON tok.word = wp.word
        |  LEFT JOIN mids m ON wp.piece = m.piece),
        |scored AS (
        |  SELECT enc.doc_id,
        |    coalesce(CAST(model.score * 1000000 AS BIGINT), -17000000) AS sm,
        |    CASE WHEN enc.piece_id = 0 THEN 1 ELSE 0 END AS unk
        |  FROM enc LEFT JOIN model ON enc.piece = model.piece)
        |SELECT doc_id, count(*) AS n_pieces,
        |  CAST(sum(unk) AS BIGINT) AS n_unk,
        |  CAST(sum(sm) AS BIGINT) AS total_logp_micro,
        |  (-CAST(sum(sm) AS BIGINT)) // count(*) AS mean_neg_logp_micro
        |FROM scored
        |GROUP BY doc_id
        |ORDER BY doc_id""").stripMargin),
    // third tokenizer branch, fixed-vocab face: greedy longest-match
    // WordPiece encode ([UNK] on any unmatchable position) — pure
    // string work, so oracle-checked like the other _fixed faces
    key("wordpiece_encode_fixed")((s, d) =>
      graft.operators.WordPiece.encodeCorpusWithVocab(
        Tables.documents(s, d), FixedWordPieceVocab))
      // greedy longest-match WordPiece: best piece per (word, position)
      // precomputed OUTSIDE the recursion (windows allowed there), then a
      // recursive walk follows pos += matched length; words whose walk
      // never reaches the end void to [UNK] — the whole-word rule. The
      // vocab VALUES render from FixedWordPieceVocab.
      .oracle {
        val vals = FixedWordPieceVocab.map { p =>
          val cont = p.startsWith("##")
          val m = if (cont) p.drop(2) else p
          s"('$p','$m',$cont)"
        }.mkString(",")
        s"""WITH RECURSIVE
           |words AS (SELECT DISTINCT tok AS word FROM (
           |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
           |  WHERE text IS NOT NULL)
           |  WHERE len(tok) > 0),
           |vocab(piece, m, cont) AS (VALUES $vals),
           |pos AS (SELECT word, unnest(generate_series(1, len(word))) AS p FROM words),
           |best AS (SELECT word, p, piece, mlen FROM (
           |  SELECT ps.word, ps.p, v.piece, len(v.m) AS mlen,
           |    row_number() OVER (PARTITION BY ps.word, ps.p
           |      ORDER BY len(v.m) DESC, v.piece) AS rn
           |  FROM pos ps JOIN vocab v
           |    ON substr(ps.word, ps.p, len(v.m)) = v.m AND v.cont = (ps.p > 1))
           |  WHERE rn = 1),
           |walk(word, p, spos, piece, mlen) AS (
           |  SELECT b.word, 1, 0, b.piece, b.mlen FROM best b WHERE b.p = 1
           |  UNION ALL
           |  SELECT w.word, w.p + w.mlen, w.spos + 1, b.piece, b.mlen
           |  FROM walk w JOIN best b ON b.word = w.word AND b.p = w.p + w.mlen),
           |done AS (SELECT DISTINCT w.word FROM walk w JOIN words ws ON ws.word = w.word
           |  WHERE w.p + w.mlen = len(ws.word) + 1),
           |segs AS (
           |  SELECT word, spos, piece FROM walk WHERE word IN (SELECT word FROM done)
           |  UNION ALL
           |  SELECT word, 0 AS spos, '[UNK]' AS piece FROM words
           |  WHERE word NOT IN (SELECT word FROM done)),
           |$fixedWordCounts,
           |subfreq AS (
           |  SELECT s.piece, sum(w.cnt) AS n
           |  FROM segs s JOIN wcount w ON s.word = w.word
           |  GROUP BY s.piece),
           |ids AS (
           |  SELECT piece, row_number() OVER (ORDER BY n DESC, piece) AS subword_id
           |  FROM subfreq),
           |$fixedTokenSplit
           |SELECT tok.doc_id, tok.pos, CAST(s.spos AS INTEGER) AS spos,
           |  s.piece AS subword, i.subword_id
           |FROM tok
           |JOIN segs s ON s.word = tok.word
           |JOIN ids i ON i.piece = s.piece
           |ORDER BY doc_id, pos, spos""".stripMargin
      },
    // learned likelihood-scored merge list — data-dependent iterations,
    // so rows-only like bpe_merges (WordPieceSpec gates equality vs an
    // independent reference on both gate paths)
    key("wordpiece_merges")((s, d) =>
      graft.operators.WordPiece.wordpieceMerges(Tables.documents(s, d), k = 20)),
    // vocabulary application: every token encoded as its frequency-ranked
    // id, corpus frequency < 2 → OOV id 0; the min-count cut removes an
    // order suffix so surviving ids stay a dense 1..V' prefix
    key("tokenize_corpus")((s, d) =>
      TextAnalysis.tokenizeCorpus(Tables.documents(s, d), minCount = 2L))
      .oracle("""WITH c AS (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |v AS (
        |  SELECT token, row_number() OVER (ORDER BY n DESC, token) AS token_id
        |  FROM c WHERE n >= 2),
        |t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |e AS (
        |  SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks
        |  FROM t)
        |SELECT e.doc_id, CAST(e.p - 1 AS INTEGER) AS pos,
        |       coalesce(v.token_id, 0) AS token_id
        |FROM e LEFT JOIN v ON e.toks[e.p] = v.token
        |ORDER BY doc_id, pos""".stripMargin),
    // overlapping token-window chunking (RAG/context ingestion): 16-token
    // windows at stride 12 → 4-token overlap; map-only, oracle-checked
    key("chunk_documents")((s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d), width = 16, stride = 12))
      .oracle("""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0,
        |      CAST(least((greatest(len(t) - 16, 0) + 11) // 12,
        |                 (len(t) - 1) // 12) AS INT))) AS i
        |  FROM toks)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(t, i * 12 + 1, i * 12 + 16)) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(t, i * 12 + 1, i * 12 + 16), ' ') AS chunk
        |FROM idx
        |ORDER BY doc_id, chunk_idx""".stripMargin),
  )
}
