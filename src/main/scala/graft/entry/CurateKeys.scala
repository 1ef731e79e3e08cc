package graft
package entry

import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, Decontamination, Dsir, Packing, Sampling, Sketches, TextAnalysis, TrainingPipeline}

/** Training-data curation keys: mixtures, quality and curriculum order,
  * DSIR, corpus statistics and sketches, sampling and splits, the
  * training pipelines, decontamination and sequence packing.
  */
object CurateKeys {
  import Sql.{swHits, langScoreSql}
  import Key.key

  /** mixture_plan inputs — one declaration, rendered into both the Spark
    * call and the oracle CASE so the plan the two engines price cannot
    * drift. Weights deliberately include an over-demanding source (the
    * shortfall path) and leave most sources at weight 0.
    */
  private val MixturePlanWeights: Map[String, Double] =
    Map("src1" -> 0.5, "src2" -> 0.2, "src3" -> 0.05)

  private val MixturePlanBudget: Long = 50000L

  private def mixturePlanCaseSql: String = {
    val cases = MixturePlanWeights.toSeq.sortBy(_._1)
      .map { case (g, w) =>
        s"WHEN source = '$g' THEN ${math.round(w * 1e6)}"
      }.mkString(" ")
    s"CASE $cases ELSE 0 END"
  }

  /** The mixture-plan CTE chain ending in `plan(source, available_tokens,
    * weight_micro, desired_tokens, keep_fraction_micro, shortfall_tokens)`
    * — shared by mixture_plan and mixture_audit so the audit replays
    * exactly the plan the plan key checks. Callers prepend `WITH `.
    */
  private def mixturePlanCtesSql: String =
    s"""avail AS (
       |  SELECT source,
       |    coalesce(CAST(sum(len(string_split(text, ' '))) AS BIGINT),
       |             CAST(0 AS BIGINT)) AS available_tokens
       |  FROM documents GROUP BY source),
       |w AS (SELECT source, available_tokens,
       |  CAST($mixturePlanCaseSql AS BIGINT) AS weight_micro FROM avail),
       |d AS (SELECT source, available_tokens, weight_micro,
       |  ($MixturePlanBudget * weight_micro) // 1000000 AS desired_tokens
       |  FROM w),
       |plan AS (
       |  SELECT source, available_tokens, weight_micro, desired_tokens,
       |    CASE WHEN available_tokens = 0 THEN CAST(0 AS BIGINT)
       |         ELSE least(CAST(1000000 AS BIGINT),
       |          (desired_tokens * 1000000) // available_tokens)
       |    END AS keep_fraction_micro,
       |    greatest(CAST(0 AS BIGINT),
       |             desired_tokens - available_tokens) AS shortfall_tokens
       |  FROM d)""".stripMargin

  /** The full training-pipeline oracle SQL, parameterized by an
    * optional extra CTE block (inserted after `t`, must end with a
    * trailing comma handled here) and an optional extra predicate on
    * the `filtered` stage — shared by training_pipeline and
    * semantic_pipeline so the quality/lang/budget formulas cannot
    * drift between the twins.
    */
  private def pipelineSql(extraCtes: String, extraFilteredPred: String): String =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |${if (extraCtes.isEmpty) "" else extraCtes + ",\n"}keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(trim(text)))),
       |q AS (
       |  SELECT doc_id,
       |    round((least(len(toks) / 100.0, 1.0)
       |           + len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)
       |           + ${swHits("en")}::DOUBLE / greatest(len(toks), 1)) / 3.0, 6)
       |      AS quality,
       |    len(toks) AS n_tokens
       |  FROM t),
       |lang AS (
       |  SELECT doc_id,
       |    CASE WHEN se >= sf AND se >= ss AND se >= sd THEN 'en'
       |         WHEN sf >= ss AND sf >= sd THEN 'fr'
       |         WHEN ss >= sd THEN 'es' ELSE 'de' END AS pred
       |  FROM (SELECT doc_id,
       |          ${langScoreSql("en")} AS se, ${langScoreSql("fr")} AS sf,
       |          ${langScoreSql("es")} AS ss, ${langScoreSql("de")} AS sd
       |        FROM t)),
       |filtered AS (
       |  SELECT q.doc_id, q.quality, q.n_tokens
       |  FROM q
       |  JOIN keepers USING (doc_id)
       |  JOIN lang USING (doc_id)
       |  WHERE q.quality >= 0.4 AND lang.pred = 'en'$extraFilteredPred),
       |admitted AS (
       |  SELECT *, sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |                                ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM filtered)
       |SELECT doc_id, quality, n_tokens::BIGINT AS n_tokens, cum::BIGINT AS cum_tokens
       |FROM admitted
       |WHERE cum <= 10000
       |ORDER BY cum_tokens""".stripMargin

  /** The three raw quality features per document (length score, type
    * diversity, English stopword share), ending in `raw` — the inputs
    * TextAnalysis.qualityScore averages, shared by quality_score,
    * curriculum_order, source_report and corpus_card. */
  private lazy val qualityRawCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |raw AS (SELECT doc_id,
       |  least(len(toks) / 100.0, 1.0) AS len_score_raw,
       |  len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS diversity_raw,
       |  ${Sql.swHits("en")}::DOUBLE / greatest(len(toks), 1) AS sw_raw
       |FROM t)""".stripMargin

  /** [[qualityRawCtes]] plus per-document quality `q`, text fingerprints
    * and token counts `f`, and fingerprint multiplicities `c` — shared by
    * source_report and corpus_card. */
  private lazy val corpusCardCtes: String =
    s"""$qualityRawCtes,
       |q AS (SELECT doc_id,
       |  round((len_score_raw + diversity_raw + sw_raw) / 3.0, 6) AS quality
       |FROM raw),
       |f AS (SELECT doc_id, source, lang, md5(lower(trim(text))) AS fp,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT fp, count(*) AS nfp FROM f GROUP BY fp)""".stripMargin

  /** The DSIR bucket model: unigram + bigram features of the raw
    * (source <> src0) and target (src0) documents hashed into 64 md5
    * buckets, `rawf(doc_id, bucket, c)`, and the add-one smoothed
    * per-bucket log ratio `model(bucket, lr)` — shared by dsir_weights,
    * dsir_select and dsir_sample. */
  private lazy val dsirModelCtes: String =
    """rawd AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE source <> 'src0'),
      |tgtd AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE source = 'src0'),
      |rawg AS (
      |  SELECT doc_id, unnest(toks) AS g FROM rawd
      |  UNION ALL
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
      |    i -> array_to_string(toks[i:i+1], ' '))) AS g
      |  FROM rawd WHERE len(toks) >= 2),
      |tgtg AS (
      |  SELECT doc_id, unnest(toks) AS g FROM tgtd
      |  UNION ALL
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
      |    i -> array_to_string(toks[i:i+1], ' '))) AS g
      |  FROM tgtd WHERE len(toks) >= 2),
      |rawf AS (SELECT doc_id,
      |  CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 64 AS bucket,
      |  count(*) AS c FROM rawg GROUP BY 1, 2),
      |tgtf AS (SELECT doc_id,
      |  CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 64 AS bucket,
      |  count(*) AS c FROM tgtg GROUP BY 1, 2),
      |qb AS (SELECT bucket, sum(c) AS qc FROM rawf GROUP BY bucket),
      |pb AS (SELECT bucket, sum(c) AS pc FROM tgtf GROUP BY bucket),
      |model AS (SELECT bucket,
      |  ln((pc + 1.0) / (sum(pc) OVER () + 64.0))
      |    - ln((qc + 1.0) / (sum(qc) OVER () + 64.0)) AS lr
      |  FROM (SELECT r.bucket,
      |          COALESCE(qb.qc, 0) AS qc, COALESCE(pb.pc, 0) AS pc
      |        FROM (SELECT unnest(range(0, 64)) AS bucket) r
      |        LEFT JOIN qb USING (bucket) LEFT JOIN pb USING (bucket)))""".stripMargin

  /** The winnow (k=12, w=6) leak scan of the training documents `tr`
    * (`FROM documents` + `trWhere`) against the src0 benchmark: training
    * docs sharing at least 30 fingerprints — the batch and incremental
    * decontamination oracles. */
  private def winnowScanSql(trWhere: String): String = {
    def hashes(src: String) =
      s"""${src}h AS (SELECT doc_id, list_transform(generate_series(1, L - 11), i ->
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(0, 11),
         |        j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
         |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
         |  FROM $src WHERE L >= 12)""".stripMargin
    s"""WITH tr AS (SELECT doc_id, text, length(text) AS L FROM documents$trWhere),
       |bm AS (SELECT doc_id, text, length(text) AS L FROM documents WHERE source = 'src0'),
       |${hashes("tr")},
       |trw AS (SELECT doc_id, list_sort(list_distinct(list_transform(
       |    generate_series(1, greatest(len(hs) - 5, 1)),
       |    i -> list_min(list_slice(hs, i, i + 5))))) AS fps FROM trh),
       |${hashes("bm")},
       |bmw AS (SELECT DISTINCT unnest(list_sort(list_distinct(list_transform(
       |    generate_series(1, greatest(len(hs) - 5, 1)),
       |    i -> list_min(list_slice(hs, i, i + 5)))))) AS fp FROM bmh),
       |te AS (SELECT doc_id, len(fps) AS n_fps, unnest(fps) AS fp FROM trw)
       |SELECT doc_id, count(*) AS n_shared,
       |  round(count(*)::DOUBLE / n_fps, 6) AS contamination_ratio
       |FROM te JOIN bmw USING (fp)
       |GROUP BY doc_id, n_fps
       |HAVING count(*) >= 30
       |ORDER BY doc_id""".stripMargin
  }

  /** The 2048-token packing manifest over the token-count prefix sum
    * whose window closes with `orderThenFrom` (its ORDER BY, the `cum`
    * alias and the FROM) — pack_sequences and pack_shuffled. */
  private def packSql(orderThenFrom: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |  CAST(sum(n_tokens) OVER ($orderThenFrom)
       |SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
       |  (cum - n_tokens) // 2048 AS first_seq,
       |  greatest((cum - 1) // 2048, (cum - n_tokens) // 2048) AS last_seq
       |FROM c
       |ORDER BY doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    // token-budget mixture PLAN: per source, available vs mixture-demanded
    // tokens + the keep fraction and shortfall, all micro-unit integers
    key("mixture_plan")((s, d) =>
      TrainingPipeline.mixturePlan(
        Tables.documents(s, d), MixturePlanWeights, MixturePlanBudget))
      // integer mixture arithmetic replayed in BIGINT (div = //)
      .oracle(s"""WITH $mixturePlanCtesSql
         |SELECT source, available_tokens, weight_micro, desired_tokens,
         |  keep_fraction_micro, shortfall_tokens
         |FROM plan
         |ORDER BY source""".stripMargin),
    // temperature-smoothed shares (the multilingual balancing rule):
    // p_i ∝ (n_i/N)^τ instead of hand weights, same integer plan
    // arithmetic downstream
    key("mixture_temperature")((s, d) =>
      TrainingPipeline.temperaturePlan(
        Tables.documents(s, d), tau = 0.5, tokenBudget = MixturePlanBudget))
      // temperature replay: the same avail CTE, shares from pow at τ=0.5
      // (totals via OVER () on the bounded source frame), then the same
      // integer plan arithmetic as mixture_plan
      .oracle(s"""WITH avail AS (
         |  SELECT source,
         |    coalesce(CAST(sum(len(string_split(text, ' '))) AS BIGINT),
         |             CAST(0 AS BIGINT)) AS available_tokens
         |  FROM documents GROUP BY source),
         |t AS (SELECT source, available_tokens,
         |  CAST(sum(available_tokens) OVER () AS BIGINT) AS total_tokens,
         |  pow(CAST(available_tokens AS DOUBLE)
         |      / CAST(sum(available_tokens) OVER () AS BIGINT), 0.5) AS pw
         |  FROM avail),
         |wm AS (SELECT source, available_tokens, total_tokens,
         |  CAST(round(pw / sum(pw) OVER () * 1000000) AS BIGINT)
         |    AS weight_micro
         |  FROM t),
         |d AS (SELECT source, available_tokens, total_tokens, weight_micro,
         |  ($MixturePlanBudget * weight_micro) // 1000000 AS desired_tokens
         |  FROM wm)
         |SELECT source, available_tokens, total_tokens, weight_micro,
         |  desired_tokens,
         |  CASE WHEN available_tokens = 0 THEN CAST(0 AS BIGINT)
         |       ELSE least(CAST(1000000 AS BIGINT),
         |        (desired_tokens * 1000000) // available_tokens)
         |  END AS keep_fraction_micro,
         |  greatest(CAST(0 AS BIGINT),
         |           desired_tokens - available_tokens) AS shortfall_tokens
         |FROM d
         |ORDER BY source""".stripMargin),
    // length-bucketed padded batches: similar-length docs share a batch,
    // per-batch real padding cost reported; bucket-partitioned window
    key("length_batches")((s, d) =>
      Packing.lengthBatches(Tables.documents(s, d),
        bucketWidth = 8, batchSize = 16))
      // bucket = integer division; seat = per-bucket row_number; width =
      // per-(bucket, batch) max joined back
      .oracle("""WITH base AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |seated AS (SELECT doc_id, n_tokens, n_tokens // 8 AS bucket,
        |  (row_number() OVER (PARTITION BY n_tokens // 8
        |     ORDER BY n_tokens, doc_id) - 1) // 16 AS batch_idx
        |  FROM base),
        |w AS (SELECT bucket, batch_idx, max(n_tokens) AS batch_width
        |  FROM seated GROUP BY 1, 2)
        |SELECT s.doc_id, s.n_tokens, s.bucket, s.batch_idx, w.batch_width,
        |  w.batch_width - s.n_tokens AS padding_tokens
        |FROM seated s
        |JOIN w ON w.bucket = s.bucket AND w.batch_idx = s.batch_idx
        |ORDER BY s.doc_id""".stripMargin),
    // plan → execute → audit, closed loop: apply the plan's integer
    // keep fractions with the portable md5 draw, report realized vs
    // desired tokens per source (deviation in ppm of desired)
    key("mixture_audit")((s, d) =>
      TrainingPipeline.mixtureAudit(
        Tables.documents(s, d), MixturePlanWeights, MixturePlanBudget))
      // the SAME plan CTEs, executed with the integer md5 draw and rolled
      // up against desired — the closed audit loop
      .oracle(s"""WITH $mixturePlanCtesSql,
         |kept AS (
         |  SELECT d.source,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents d
         |  JOIN plan p ON p.source = d.source
         |  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |        * 1000000 < p.keep_fraction_micro * 4294967296),
         |realized AS (
         |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS realized_tokens
         |  FROM kept GROUP BY source)
         |SELECT p.source, p.desired_tokens,
         |  coalesce(r.realized_tokens, 0) AS realized_tokens,
         |  (abs(coalesce(r.realized_tokens, 0) - p.desired_tokens) * 1000000)
         |    // greatest(p.desired_tokens, 1) AS deviation_ppm
         |FROM plan p
         |LEFT JOIN realized r ON r.source = p.source
         |ORDER BY p.source""".stripMargin),
    // curriculum ordering: quality bands descending, deterministic md5
    // shuffle within band, position via the distributed prefix count
    key("curriculum_order")((s, d) =>
      TrainingPipeline.curriculumOrder(
        Tables.documents(s, d), nBands = 10, seed = 42L))
      // the quality_score rounding replayed, bands by the identical IEEE
      // floor, position = row_number over (band DESC, md5 shuffle, doc_id)
      .oracle(s"""WITH $qualityRawCtes,
         |b AS (SELECT doc_id,
         |  least(CAST(floor(
         |    round((len_score_raw + diversity_raw + sw_raw) / 3.0, 6) * 10)
         |    AS BIGINT), 9) AS band
         |FROM raw)
         |SELECT doc_id, band,
         |  row_number() OVER (ORDER BY band DESC,
         |    md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS pos
         |FROM b
         |ORDER BY doc_id""".stripMargin),
    // per-source curation dashboard: volume, exact-dup exposure
    // (corpus-wide fingerprints), language spread, mean quality
    key("source_report")((s, d) =>
      CorpusStats.sourceReport(Tables.documents(s, d)))
      // the quality CTE restated (same rounding), fingerprints corpus-wide
      .oracle(s"""WITH $corpusCardCtes
         |SELECT f.source, count(*) AS n_docs,
         |  CAST(sum(f.n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN c.nfp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  count(DISTINCT f.lang) AS n_langs,
         |  round(avg(q.quality), 6) + 0.0 AS mean_quality
         |FROM f
         |JOIN c ON c.fp = f.fp
         |JOIN q ON q.doc_id = f.doc_id
         |GROUP BY f.source
         |ORDER BY f.source""".stripMargin),
    // the one-row data card: the corpus-level rollup of source_report
    key("corpus_card")((s, d) =>
      CorpusStats.corpusCard(Tables.documents(s, d)))
      .oracle(s"""WITH $corpusCardCtes
         |SELECT count(*) AS n_docs,
         |  CAST(sum(f.n_tokens) AS BIGINT) AS total_tokens,
         |  count(DISTINCT f.fp) AS n_distinct_texts,
         |  CAST(sum(CASE WHEN c.nfp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  count(DISTINCT f.source) AS n_sources,
         |  count(DISTINCT f.lang) AS n_langs,
         |  round(avg(q.quality), 6) + 0.0 AS mean_quality,
         |  round(min(q.quality), 6) + 0.0 AS min_quality,
         |  round(max(q.quality), 6) + 0.0 AS max_quality
         |FROM f
         |JOIN c ON c.fp = f.fp
         |JOIN q ON q.doc_id = f.doc_id""".stripMargin),
    key("quality_score")((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy(col("doc_id")))
      .oracle(s"""WITH $qualityRawCtes
         |SELECT doc_id,
         |  round(len_score_raw, 6) AS len_score,
         |  round(diversity_raw, 6) AS diversity,
         |  round(sw_raw, 6) AS stopword_ratio,
         |  round((len_score_raw + diversity_raw + sw_raw) / 3.0, 6) AS quality
         |FROM raw
         |ORDER BY doc_id""".stripMargin),
    // DSIR importance resampling (Xie et al. 2023): weight every raw-pool
    // document by how target-like its hashed unigram+bigram bag is
    // (target = src0, raw = everything else); select = the deterministic
    // zero-temperature top-k resample. md5-portable buckets + round-once
    // log weights keep both faces hash-exact.
    key("dsir_weights")((s, d) =>
      Dsir.importanceWeights(
        Tables.documents(s, d).where(col("source") =!= "src0"),
        Tables.documents(s, d).where(col("source") === "src0"),
        buckets = 64))
      // DSIR replay: same md5-portable buckets over unigrams+bigrams, same
      // Laplace(+1 over 64) bucket models (totals via OVER ()), same
      // round-once log weights; + 0.0 normalizes a -0.0 round like the KMV
      // twin (Spark's BigDecimal round never emits -0.0)
      .oracle(s"""WITH $dsirModelCtes
        |SELECT f.doc_id, CAST(sum(f.c) AS BIGINT) AS n_feats,
        |  round(sum(f.c * m.lr), 6) + 0.0 AS logw
        |FROM rawf f JOIN model m USING (bucket)
        |GROUP BY f.doc_id
        |ORDER BY f.doc_id""".stripMargin),
    key("dsir_select")((s, d) =>
      Dsir.selectTop(
        Tables.documents(s, d).where(col("source") =!= "src0"),
        Tables.documents(s, d).where(col("source") === "src0"),
        buckets = 64, k = 50))
      .oracle(s"""WITH $dsirModelCtes,
        |weights AS (SELECT f.doc_id, CAST(sum(f.c) AS BIGINT) AS n_feats,
        |  round(sum(f.c * m.lr), 6) + 0.0 AS logw
        |  FROM rawf f JOIN model m USING (bucket)
        |  GROUP BY f.doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY logw DESC, doc_id) AS BIGINT)
        |    AS rank, doc_id, n_feats, logw
        |FROM weights
        |ORDER BY logw DESC, doc_id
        |LIMIT 50""".stripMargin),
    // the paper's true resample: Gumbel-top-k = k draws WITHOUT
    // replacement from softmax(logw/τ); md5-portable noise keeps it
    // hash-exact
    key("dsir_sample")((s, d) =>
      Dsir.gumbelSample(
        Tables.documents(s, d).where(col("source") =!= "src0"),
        Tables.documents(s, d).where(col("source") === "src0"),
        buckets = 64, k = 50, temperature = 2.0))
      // Gumbel-top-k replay: the same weights chain, the KMV md5 uniform
      // (u = (draw + 0.5)/2³², never 0 or 1), G = −ln(−ln u), key rounded
      // once at 6 with doc_id tie-break; + 0.0 normalizes a −0.0 round
      .oracle(s"""WITH $dsirModelCtes,
        |weights AS (SELECT f.doc_id,
        |  round(sum(f.c * m.lr), 6) + 0.0 AS logw
        |  FROM rawf f JOIN model m USING (bucket)
        |  GROUP BY f.doc_id),
        |keyed AS (SELECT doc_id, logw,
        |  round(logw / 2.0 - ln(-ln(
        |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) + 0.5) / 4294967296.0)), 6) + 0.0 AS gumbel_key
        |  FROM weights)
        |SELECT CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id)
        |    AS BIGINT) AS rank, doc_id, logw, gumbel_key
        |FROM keyed
        |ORDER BY gumbel_key DESC, doc_id
        |LIMIT 50""".stripMargin),
    // corpus composition analytics: pairwise cross-source shingle overlap
    // (republished-feed detection) and per-doc first-seen novelty
    key("source_overlap")((s, d) =>
      CorpusStats.sourceOverlap(Tables.documents(s, d), n = 3))
      .oracle(s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |${Sql.shingleSets("source")},
        |sh AS (SELECT DISTINCT source, unnest(ss) AS shingle FROM sh0),
        |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        count(*) AS shared_ngrams
        |      FROM sh a JOIN sh b USING (shingle)
        |      WHERE a.source < b.source GROUP BY 1, 2)
        |SELECT source_a, source_b, shared_ngrams,
        |  round(shared_ngrams::DOUBLE / (sa.n + sb.n - shared_ngrams), 6) AS jaccard,
        |  round(shared_ngrams::DOUBLE / least(sa.n, sb.n), 6) AS containment
        |FROM p
        |JOIN sizes sa ON p.source_a = sa.source
        |JOIN sizes sb ON p.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin),
    key("ngram_novelty")((s, d) =>
      CorpusStats.ngramNovelty(Tables.documents(s, d), n = 3))
      .oracle(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |${Sql.shingleSets("doc_id")},
        |sh AS (SELECT doc_id, unnest(ss) AS shingle FROM sh0),
        |f AS (SELECT shingle, min(doc_id) AS first_seen FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.first_seen = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(sum(CASE WHEN f.first_seen = sh.doc_id THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS novelty
        |FROM sh JOIN f USING (shingle)
        |GROUP BY sh.doc_id
        |ORDER BY sh.doc_id""".stripMargin),
    // Misra-Gries-pruned EXACT heavy hitters: the sketch only prunes
    // candidates; an exact recount + threshold filter answers, so the
    // output is deterministic and oracle-checked despite the sketch
    key("heavy_hitters")((s, d) =>
      Sketches.heavyHitters(Tables.documents(s, d), k = 30))
      .oracle("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM tok)
        |SELECT token, count(*) AS cnt
        |FROM tok, tot
        |GROUP BY token, n_total
        |HAVING count(*) * 31 > n_total
        |ORDER BY cnt DESC, token""".stripMargin),
    // count-min sketch surfaced as data: md5-portable row hashes make
    // the cell table AND the min-over-rows estimates deterministic, so
    // unlike library sketches this one is oracle-checked; width 32 vs
    // the 31-token vocabulary forces real collisions (overcount > 0)
    key("cms_estimates")((s, d) =>
      Sketches.cmsTokenEstimates(Tables.documents(s, d),
        depth = 4, width = 32, topK = 25))
      // count-min replay: identical md5 row hashes (hex parse via the 0x
      // cast), identical cell table, min over depth rows per probe token
      .oracle("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |rows_j AS (SELECT unnest(range(0, 4)) AS j),
        |cells AS (SELECT j.j AS row_j,
        |  CAST(concat('0x', substr(md5(token || '|' || CAST(j.j AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS bucket,
        |  count(*) AS cell_n
        |  FROM toks CROSS JOIN rows_j j GROUP BY 1, 2),
        |exact AS (SELECT token, count(*) AS exact_n FROM toks GROUP BY token
        |  ORDER BY exact_n DESC, token LIMIT 25),
        |probes AS (SELECT e.token, e.exact_n, j.j AS row_j,
        |  CAST(concat('0x', substr(md5(e.token || '|' || CAST(j.j AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS bucket
        |  FROM exact e CROSS JOIN rows_j j)
        |SELECT p.token, CAST(max(p.exact_n) AS BIGINT) AS exact_n,
        |  CAST(min(c.cell_n) AS BIGINT) AS est_n,
        |  CAST(min(c.cell_n) - max(p.exact_n) AS BIGINT) AS overcount
        |FROM probes p JOIN cells c ON c.row_j = p.row_j AND c.bucket = p.bucket
        |GROUP BY p.token
        |ORDER BY p.token""".stripMargin),
    // KMV distinct sketch per day: md5-portable draws through the
    // bounded dedup-aware graft_kmin aggregate; the third sketch whose
    // CONTENTS replay in DuckDB (k=64 < the ~130 users/day, so the
    // (k-1)/kth estimator is genuinely estimating, not passing through)
    key("kmv_daily_users")((s, d) =>
      Sketches.kmvDailyUsers(Tables.events(s, d), k = 64))
      // KMV replay: distinct (day, draw), k smallest per day, the same
      // fewer-than-k-is-exact / (k-1)/kth estimator expression
      .oracle("""WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |draws AS (SELECT DISTINCT day,
        |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM ev),
        |ranked AS (SELECT day, h,
        |  row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM draws),
        |agg AS (SELECT day,
        |  count(*) AS n_draws,
        |  max(CASE WHEN rn = 64 THEN h END) AS kth
        |  FROM ranked WHERE rn <= 64 GROUP BY day),
        |ex AS (SELECT day, count(DISTINCT user_id) AS n_exact FROM ev GROUP BY day)
        |SELECT ex.day, ex.n_exact, CAST(agg.n_draws AS BIGINT) AS n_draws,
        |  round(CASE WHEN agg.n_draws < 64 THEN CAST(agg.n_draws AS DOUBLE)
        |        ELSE 63.0 / (CAST(agg.kth AS DOUBLE) / 4294967296.0) END, 6) + 0.0 AS kmv_est
        |FROM ex JOIN agg ON agg.day = ex.day
        |ORDER BY ex.day""".stripMargin),
    // KMV set algebra BETWEEN sources: per-source shingle sketches, then
    // union/Jaccard/intersection estimates per source pair from the
    // merged k-min — the sketched twin of the exact source_overlap
    key("kmv_source_overlap")((s, d) =>
      Sketches.kmvSourceOverlap(Tables.documents(s, d), n = 3, k = 64))
      // KMV pair replay: per-source distinct shingle draws, k smallest per
      // source, merged k smallest per pair, membership via left joins —
      // the same union/Jaccard/intersection estimator expressions
      .oracle(s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
         |${Sql.shingleSets("source")},
         |sh AS (SELECT DISTINCT source, unnest(ss) AS shingle FROM sh0),
         |dr AS (SELECT DISTINCT source,
         |  CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS draw
         |  FROM sh),
         |rk AS (SELECT source, draw,
         |  row_number() OVER (PARTITION BY source ORDER BY draw) AS rn FROM dr),
         |ka AS (SELECT source, draw FROM rk WHERE rn <= 64),
         |prs AS (SELECT a.source AS src_a, b.source AS src_b
         |  FROM (SELECT DISTINCT source FROM documents) a
         |  JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source),
         |ud AS (SELECT DISTINCT p.src_a, p.src_b, k.draw
         |  FROM prs p JOIN ka k ON k.source = p.src_a OR k.source = p.src_b),
         |mr AS (SELECT src_a, src_b, draw,
         |  row_number() OVER (PARTITION BY src_a, src_b ORDER BY draw) AS rn
         |  FROM ud),
         |x AS (SELECT src_a, src_b, draw, rn FROM mr WHERE rn <= 64),
         |xm AS (SELECT x.src_a, x.src_b, x.draw, x.rn,
         |  (ja.draw IS NOT NULL AND jb.draw IS NOT NULL) AS in_both
         |  FROM x
         |  LEFT JOIN ka ja ON ja.source = x.src_a AND ja.draw = x.draw
         |  LEFT JOIN ka jb ON jb.source = x.src_b AND jb.draw = x.draw),
         |agg AS (SELECT src_a, src_b, count(*) AS n_x,
         |  sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS n_both,
         |  max(CASE WHEN rn = 64 THEN draw END) AS kth
         |  FROM xm GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(CAST(n_both AS DOUBLE) / n_x, 6) + 0.0 AS jaccard_est,
         |  round(CASE WHEN n_x < 64 THEN CAST(n_x AS DOUBLE)
         |        ELSE 63.0 / (CAST(kth AS DOUBLE) / 4294967296.0) END, 6) + 0.0 AS union_est,
         |  round(CASE WHEN n_x < 64 THEN CAST(n_both AS DOUBLE)
         |        ELSE 63.0 * 4294967296.0 * n_both / (CAST(kth AS DOUBLE) * n_x)
         |        END, 6) + 0.0 AS inter_est
         |FROM agg
         |ORDER BY src_a, src_b""".stripMargin),
    // fixed-bin histogram quantiles: the portable quantile sketch (GK's
    // summary is engine-internal; this one is exact counts + integer
    // ceil-division crossings, so the estimates hash-match)
    key("hist_quantiles")((s, d) =>
      Sketches.histQuantiles(Tables.events(s, d), nBins = 256))
      // histogram-quantile replay: identical bin expression (same IEEE
      // association), window cumsum, min-bin-at-crossing with the same
      // integer ceil-divisions
      .oracle("""WITH s AS (SELECT event_type, min(value) AS vmin, max(value) AS vmax, count(*) AS n
        |  FROM events GROUP BY event_type),
        |b AS (SELECT e.event_type,
        |  CASE WHEN s.vmax = s.vmin THEN 0
        |       ELSE least(CAST(floor((e.value - s.vmin) / (s.vmax - s.vmin) * 256) AS INT), 255) END AS bin,
        |  count(*) AS cnt
        |  FROM events e JOIN s ON s.event_type = e.event_type GROUP BY 1, 2),
        |c AS (SELECT event_type, bin, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum FROM b)
        |SELECT s.event_type, CAST(s.n AS BIGINT) AS n,
        |  round(s.vmin + (SELECT min(bin) FROM c WHERE c.event_type = s.event_type
        |    AND c.cum >= (s.n * 1 + 1) // 2) * (s.vmax - s.vmin) / 256, 6) + 0.0 AS p50_est,
        |  round(s.vmin + (SELECT min(bin) FROM c WHERE c.event_type = s.event_type
        |    AND c.cum >= (s.n * 95 + 99) // 100) * (s.vmax - s.vmin) / 256, 6) + 0.0 AS p95_est,
        |  round(s.vmin + (SELECT min(bin) FROM c WHERE c.event_type = s.event_type
        |    AND c.cum >= (s.n * 99 + 99) // 100) * (s.vmax - s.vmin) / 256, 6) + 0.0 AS p99_est
        |FROM s ORDER BY event_type""".stripMargin),
    // deterministic hash sampling — reproducible by construction, so even
    // this "random" split is oracle-checked
    key("det_sample")((s, d) =>
      Sampling.deterministicSample(Tables.documents(s, d), "doc_id", 0.25)
        .select(col("doc_id")).orderBy(col("doc_id")))
      .oracle(s"""SELECT doc_id FROM documents
         |WHERE ${Sampling.oracleSamplePredicate("doc_id", 0.25)}
         |ORDER BY doc_id""".stripMargin),
    key("train_split")((s, d) =>
      Sampling.split(Tables.documents(s, d), "doc_id", 0.8, 0.1, 0.1)
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("split")))
      .oracle(s"""SELECT split, count(*) AS n FROM (
         |  SELECT ${Sampling.oracleSplitCase("doc_id", 0.8, 0.1, 0.1)} AS split
         |  FROM documents)
         |GROUP BY split
         |ORDER BY split""".stripMargin),
    // weighted sampling without replacement (Efraimidis–Spirakis
    // exponential race, length-weighted): k per source by the smallest
    // −ln(u)/w keys — bounded graft_topk per group, the knn_batch shape;
    // engine-portable u from the md5 draw, 6-decimal key rounding
    key("weighted_sample")((s, d) =>
      Sampling.weightedSample(
        Tables.documents(s, d), "doc_id", "source", "n_chars",
        k = 20, seed = 42L))
      .oracle(Sampling.oracleWeightedSampleSql(
        "documents", "doc_id", "source", "n_chars", k = 20, seed = 42L)),
    // domain-mixture sampling: per-source keep fractions (data mixing
    // weights), deterministic by doc_id — report the post-mix composition
    key("mixture_sample")((s, d) =>
      Sampling.mixtureSample(
        Tables.documents(s, d), "doc_id", "source",
        weights = Map("src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.25),
        defaultFraction = 0.1)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("source")))
      .oracle(s"""SELECT source, count(*) AS n FROM documents
         |WHERE ${Sampling.oracleMixturePredicate("doc_id", "source",
             Map("src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.25), 0.1)}
         |GROUP BY source
         |ORDER BY source""".stripMargin),
    // deterministic global shuffle order (training-order permutation),
    // positions via the distributed prefix count — engine-portable md5
    // sort key, so DuckDB's row_number twin states the same permutation
    key("corpus_shuffle")((s, d) =>
      Sampling.shuffledOrder(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", seed = 42L)
        .orderBy(col("doc_id")))
      .oracle(s"""SELECT doc_id, row_number() OVER (
         |  ORDER BY ${Sampling.oracleShuffleHash("doc_id", 42L)}, doc_id) AS pos
         |FROM documents
         |ORDER BY doc_id""".stripMargin),
    // composed training-data pipeline: dedup -> quality -> lang -> budget
    key("training_pipeline")((s, d) =>
      TrainingPipeline.select(s, d, minQuality = 0.4, lang = "en", tokenBudget = 10000L))
      .oracle(pipelineSql("", "")),
    // the same flow with the SemDeDup stage between token-level dedup
    // and admission (embedding id domain aligns with doc ids)
    key("semantic_pipeline")((s, d) =>
      TrainingPipeline.selectSemantic(s, d, minQuality = 0.4, lang = "en",
        tokenBudget = 10000L, eps = 0.65, nCentroids = 16))
      // training_pipeline plus the shared SemDeDup CTEs: semantically
      // duplicated ids (the fixtures' aligned id domain) drop before the
      // budget window; both pipeline twins render from ONE pipelineSql
      // body so the stage formulas cannot drift
      .oracle(pipelineSql(
      s"""${Sql.semanticAssignedCtes},
         |semdropped AS (
         |  SELECT a.vec_id AS doc_id FROM assigned a
         |  WHERE ${Sql.semanticDupExists})""".stripMargin,
      "\n    AND q.doc_id NOT IN (SELECT doc_id FROM semdropped)")),
    // benchmark decontamination: src0 documents play the held-out eval
    // set; training docs (all other sources) sharing any word 4-gram with
    // it are flagged — exact inverted-index scan, oracle-checked
    key("decontamination")((s, d) => {
      val docs = Tables.documents(s, d)
      Decontamination.scan(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        n = 4)
    })
      .oracle("""WITH tr AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE source <> 'src0'),
        |trs0 AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 3, 1)),
        |    i -> array_to_string(toks[i:i+3], ' '))) AS ss FROM tr),
        |trs AS (SELECT doc_id, len(ss) AS n_shingles, unnest(ss) AS shingle FROM trs0),
        |bm0 AS (
        |  SELECT string_split(text, ' ') AS toks
        |  FROM documents WHERE source = 'src0'),
        |bm AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 3, 1)),
        |    i -> array_to_string(toks[i:i+3], ' ')))) AS shingle FROM bm0)
        |SELECT t.doc_id, count(*) AS n_shared,
        |  round(count(*)::DOUBLE / t.n_shingles, 6) AS contamination_ratio
        |FROM trs t JOIN bm USING (shingle)
        |GROUP BY t.doc_id, t.n_shingles
        |ORDER BY t.doc_id""".stripMargin),
    // EDIT-ROBUST decontamination: winnow fingerprints instead of word
    // n-grams (catches lightly-paraphrased benchmark leakage the n-gram
    // scan misses); same src0-as-benchmark convention, oracle-checked
    key("winnow_decontamination")((s, d) => {
      val docs = Tables.documents(s, d)
      Decontamination.winnowScan(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        k = 12, w = 6, minShared = 30)
    })
      .oracle(winnowScanSql(" WHERE source <> 'src0'")),
    // SEMANTIC decontamination: the embedding-space leak scan — src0
    // docs' embeddings play the benchmark (aligned id domains), training
    // vectors within cosine eps of any benchmark vector are flagged
    key("semantic_decontamination")((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val benchIds = docs.where(col("source") === "src0")
        .select(col("doc_id").as("vec_id"))
      Decontamination.semanticScan(
        emb.join(benchIds, Seq("vec_id"), "left_anti"),
        emb.join(broadcast(benchIds), Seq("vec_id")),
        eps = 0.68)
    })
      .oracle(s"""WITH bench AS (
         |  SELECT e.embedding::DOUBLE[] AS bv FROM embeddings e
         |  JOIN documents d ON e.vec_id = d.doc_id
         |  WHERE d.source = 'src0'),
         |train AS (
         |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v FROM embeddings e
         |  WHERE e.vec_id NOT IN (
         |    SELECT doc_id FROM documents WHERE source = 'src0')),
         |dists AS (
         |  SELECT t.vec_id,
         |    round(${Sql.dist("cosine", "t.v", "b.bv")}, 6) + 0.0 AS d
         |  FROM train t CROSS JOIN bench b)
         |SELECT vec_id, min(d) AS min_dist
         |FROM dists
         |GROUP BY vec_id
         |HAVING min(d) <= 0.68
         |ORDER BY vec_id""".stripMargin),
    // INCREMENTAL decontamination: odd doc_ids play the newly-arrived
    // batch, scanned against the persisted benchmark fingerprint index
    // alone — per-doc scores depend only on (doc fps × index), so the
    // rows equal the batch scan's odd-id subset (also spec-gated with a
    // parquet round-trip of the index)
    key("winnow_decontamination_incremental")((s, d) => {
      val docs = Tables.documents(s, d)
      val index = Decontamination.winnowIndex(
        docs.where(col("source") === "src0"), k = 12, w = 6)
      Decontamination.winnowScanAgainst(
        docs.where(col("source") =!= "src0" && col("doc_id") % 2 === 1),
        index, minShared = 30, k = 12, w = 6)
    })
      // the incremental scan = the batch scan restricted to the "new" docs
      // (odd ids); the oracle states that restriction directly
      .oracle(winnowScanSql("\n  WHERE source <> 'src0' AND doc_id % 2 = 1")),
    // concatenate-and-chunk sequence packing manifest (2048-token
    // windows) — distributed prefix sum, oracle-checked against DuckDB's
    // window twin
    key("pack_sequences")((s, d) =>
      Packing.packSequences(Tables.documents(s, d), seqLen = 2048))
      .oracle(packSql("ORDER BY doc_id) AS BIGINT) AS cum FROM t")),
    // shuffled-order packing: the corpus_shuffle permutation composed
    // into the packing manifest (train on shuffled order, not crawl
    // order) — same prefix-sum machinery, different order columns
    key("pack_shuffled")((s, d) =>
      Packing.packSequences(Tables.documents(s, d), seqLen = 2048,
        order = Seq(
          md5(concat(col("doc_id").cast("string"), lit(":42"))),
          col("doc_id"))))
      .oracle(packSql(
        "\n    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS BIGINT) AS cum\n  FROM t")),
  )
}
