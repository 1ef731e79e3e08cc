package graft
package entry

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, SemanticDedup, TextAnalysis}

/** Deduplication keys: exact, incremental, n-gram Jaccard, clusters,
  * MinHash/SimHash, winnowing, substring and semantic near-duplicates.
  */
object DedupKeys {
  import Key.key

  /** Word 3-gram shingle pairs: `pairs(doc_a, doc_b, sa, sb, common)`
    * counts the shingles two documents share, for doc_a < doc_b — shared
    * by dedup_ngram_jaccard, similarity_histogram and [[clusterCtes]]. */
  private lazy val shinglePairCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |${Sql.shingleSets("doc_id")},
       |sh AS (SELECT doc_id, len(ss) AS n_shingles, unnest(ss) AS shingle FROM sh0),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.n_shingles AS sa, b.n_shingles AS sb, count(*) AS common
       |  FROM sh a JOIN sh b USING (shingle)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** The dedup_clusters recursive-CTE chain (3-gram Jaccard ≥ 0.3
    * near-dup pairs → transitive closure → min-id labels), ending in a
    * `clusters(doc_id, cluster_id)` CTE. Shared by dedup_clusters and
    * split_leakage_safe so the clustering the split is keyed on cannot
    * drift from the clustering the dedup key checks. Callers prepend
    * `WITH RECURSIVE `.
    */
  private lazy val clusterCtes: String =
    s"""$shinglePairCtes,
       |jp AS (SELECT doc_a, doc_b FROM pairs
       |       WHERE round(common::DOUBLE / (sa + sb - common), 6) >= 0.3),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
       |          UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach(doc_id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.doc_id = e.src),
       |clusters AS (SELECT doc_id, min(r) AS cluster_id
       |             FROM reach GROUP BY doc_id)""".stripMargin

  /** md5-portable SimHash CTE chain shared by simhash_signatures_
    * portable and simhash_pairs_portable so the signature the pairs
    * key joins on cannot drift from the signature the signatures key
    * checks. Per-token 64-bit hash = md5 first 16 hex split into two
    * 32-bit halves (signed-BIGINT-safe in every engine), per-bit ±1
    * votes over the DISTINCT token set, then four packed 16-bit sign
    * chunks. Ends in `sp(doc_id, c0, c1, c2, c3)`.
    */
  private lazy val simhashPortableCtes: String = {
    val sums = (0 until 64).map { b =>
      val src = if (b < 32) "lo" else "hi"
      s"sum((($src >> ${b % 32}) & 1) * 2 - 1) AS v$b"
    }.mkString(",\n    ")
    val chunks = (0 until 4).map { c =>
      val bits = (0 until 16).map { j =>
        s"(CASE WHEN v${16 * c + j} > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"CAST($bits AS BIGINT) AS c$c"
    }.mkString(",\n    ")
    s"""th AS (SELECT doc_id,
       |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
       |    CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
       |  FROM (SELECT DISTINCT doc_id, tok FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |     FROM documents))),
       |v AS (SELECT doc_id,
       |    $sums
       |  FROM th GROUP BY doc_id),
       |sp AS (SELECT doc_id,
       |    $chunks
       |  FROM v)""".stripMargin
  }

  /** New documents (doc_id >= 250) whose fingerprint the history
    * (doc_id < 250) lacks, one per fingerprint — the oracle of both
    * incremental dedup keys. */
  private lazy val incrementalDedupSql: String =
    """WITH hist AS (
      |  SELECT DISTINCT md5(lower(trim(text))) AS fingerprint
      |  FROM documents WHERE doc_id < 250),
      |batch AS (
      |  SELECT doc_id, md5(lower(trim(text))) AS fingerprint
      |  FROM documents WHERE doc_id >= 250)
      |SELECT min(doc_id) AS doc_id, fingerprint
      |FROM batch
      |WHERE fingerprint NOT IN (SELECT fingerprint FROM hist)
      |GROUP BY fingerprint
      |ORDER BY doc_id""".stripMargin

  /** Polynomial rolling hashes (base 257, mod 1e9+7) of every `k`-char
    * window of each document: `h(doc_id, hs)` over `t(doc_id, text, L)` —
    * the k-gram fingerprints of winnow_fingerprint, winnow_pairs and
    * substring_dup. */
  private def kgramHashCtes(k: Int): String =
    s"""t AS (SELECT doc_id, text, length(text) AS L FROM documents),
       |h AS (SELECT doc_id,
       |  list_transform(generate_series(1, L - ${k - 1}), i ->
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(generate_series(0, ${k - 1}),
       |          j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
       |  FROM t WHERE L >= $k)""".stripMargin

  val keys: Seq[Key] = Seq(
    key("doc_fingerprint")((s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d)).orderBy(col("doc_id")))
      .oracle("""SELECT doc_id, md5(lower(trim(text))) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin),
    // MOSS winnowing fingerprints (rolling k-gram hash + window minima) —
    // summarized per doc (count/sum/min/max hash-proves the whole set
    // without shipping rows × fingerprints through the verify parquet)
    key("winnow_fingerprint")((s, d) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, d), k = 8, w = 4)
        .select(
          col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          expr("aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x)").as("fp_sum"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"))
        .orderBy(col("doc_id")))
      .oracle(s"""WITH ${kgramHashCtes(8)},
        |w AS (SELECT doc_id, list_sort(list_distinct(list_transform(
        |    generate_series(1, greatest(len(hs) - 3, 1)),
        |    i -> list_min(list_slice(hs, i, i + 3))))) AS fps
        |  FROM h)
        |SELECT doc_id, len(fps)::BIGINT AS n_fps,
        |  CAST(list_sum(fps) AS BIGINT) AS fp_sum,
        |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
        |FROM w
        |ORDER BY doc_id""".stripMargin),
    // MOSS near-dup pairs by shared winnowing fingerprints — the
    // rolling-hash dedup flow, on the same gated pair machinery as the
    // shingle paths; integer-arithmetic hashes keep it oracle-checked
    key("winnow_pairs")((s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), k = 12, w = 6, minShared = 30))
      .oracle(s"""WITH ${kgramHashCtes(12)},
        |w AS (SELECT doc_id, list_sort(list_distinct(list_transform(
        |    generate_series(1, greatest(len(hs) - 5, 1)),
        |    i -> list_min(list_slice(hs, i, i + 5))))) AS fps
        |  FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 30
        |ORDER BY doc_a, doc_b""".stripMargin),
    // cross-doc substring duplication coverage (suffix-array-dedup
    // signal): fraction of each doc's distinct char 20-gram hashes that
    // occur in another doc — winnowing with w=1, so same oracle machinery
    key("substring_dup")((s, d) =>
      Dedup.substringDupStats(Tables.documents(s, d), k = 20))
      // winnow hash machinery with w=1 (all k-gram hashes, k=20)
      .oracle(s"""WITH ${kgramHashCtes(20)},
        |p AS (SELECT doc_id, len(list_distinct(hs))::BIGINT AS n_kgrams,
        |      unnest(list_distinct(hs)) AS fp FROM h),
        |shared AS (SELECT fp FROM p GROUP BY fp HAVING count(*) >= 2),
        |cov AS (SELECT p.doc_id, count(*)::BIGINT AS n_shared
        |        FROM p JOIN shared USING (fp) GROUP BY p.doc_id)
        |SELECT d.doc_id, d.n_kgrams,
        |  COALESCE(c.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |  round(COALESCE(c.n_shared, CAST(0 AS BIGINT)) / d.n_kgrams, 6) AS dup_fraction
        |FROM (SELECT DISTINCT doc_id, n_kgrams FROM p) d
        |LEFT JOIN cov c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // leakage-safe split: assignment keyed on the near-dup CLUSTER id, so
    // a test document can never have a train-side near-duplicate (the
    // contamination mode per-document splits cannot prevent)
    key("split_leakage_safe")((s, d) =>
      Sampling.leakageSafeSplit(
        Dedup.dedupClusters(Tables.documents(s, d), n = 3, threshold = 0.3),
        "cluster_id", 0.8, 0.1, 0.1)
        .orderBy(col("doc_id")))
      // same clustering CTEs, split keyed on the CLUSTER id — near-dup
      // clusters are atomic across the train/val/test boundary
      .oracle(s"""WITH RECURSIVE ${clusterCtes}
         |SELECT doc_id, cluster_id,
         |  ${Sampling.oracleSplitCase("cluster_id", 0.8, 0.1, 0.1)} AS split
         |FROM clusters
         |ORDER BY doc_id""".stripMargin),
    // passage-level exact dedup (RefinedWeb-style span scrubbing): keep
    // only the globally-first occurrence of each 3-token passage and
    // reassemble the scrubbed text; 3-token windows over the fixtures'
    // ~40-word vocabulary actually collide across docs, so n_kept <
    // n_passages is exercised for real
    key("passage_dedup")((s, d) =>
      Dedup.passageDedup(Tables.documents(s, d), passageTokens = 3))
      .oracle("""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0, CAST((len(t) - 1) // 3 AS INT))) AS pidx
        |  FROM toks),
        |p AS (
        |  SELECT doc_id, pidx,
        |    array_to_string(list_slice(t, pidx * 3 + 1, pidx * 3 + 3), ' ') AS passage
        |  FROM idx),
        |k AS (SELECT passage, min(doc_id * 2097152 + pidx) AS keeper
        |      FROM p GROUP BY passage),
        |kept AS (
        |  SELECT p.doc_id, p.pidx, p.passage
        |  FROM p JOIN k USING (passage)
        |  WHERE p.doc_id * 2097152 + p.pidx = k.keeper),
        |np AS (SELECT doc_id, count(*) AS n_passages FROM p GROUP BY doc_id),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(passage, ' ' ORDER BY pidx) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT np.doc_id, np.n_passages,
        |  coalesce(agg.n_kept, 0) AS n_kept,
        |  coalesce(agg.clean_text, '') AS clean_text
        |FROM np LEFT JOIN agg USING (doc_id)
        |ORDER BY np.doc_id""".stripMargin),
    key("dedup_exact")((s, d) => Dedup.exact(Tables.documents(s, d)).orderBy(col("keeper_id")))
      .oracle("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
        |       md5(lower(trim(text))) AS fingerprint
        |FROM documents
        |GROUP BY md5(lower(trim(text)))
        |ORDER BY keeper_id""".stripMargin),
    // incremental ingest: docs with id < 250 are "history", the rest are
    // the new batch; survivors = new content not seen before
    key("dedup_incremental")((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incremental(
        docs.where(col("doc_id") >= 250),
        docs.where(col("doc_id") < 250)
          .select(TextAnalysis.fingerprint(col("text")).as("fingerprint")))
    })
      .oracle(incrementalDedupSql),
    // Bloom-prefiltered incremental dedup (the runtime-filter pattern):
    // definite-negative new docs bypass the anti-join exchange via a
    // map-only might_contain probe; output EXACT (the filter only drops
    // provably-absent rows), so it hash-checks against the same oracle
    // as dedup_incremental
    key("dedup_incremental_bloom")((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalBloom(
        docs.where(col("doc_id") >= 250),
        docs.where(col("doc_id") < 250)
          .select(TextAnalysis.fingerprint(col("text")).as("fingerprint")),
        expectedItems = 100000L, fpp = 0.01)
    })
      // the Bloom pre-prune is exact by construction (definite negatives
      // only), so the oracle is the SAME plain incremental-dedup SQL —
      // that equality IS the correctness claim
      .oracle(incrementalDedupSql),
    // corpus snapshot diff (data versioning): added/removed/changed by
    // content fingerprint between two derived versions of the fixture
    key("corpus_diff")((s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.where(col("doc_id") < 400)
      val v2 = docs.where(col("doc_id") >= 100)
        .select(col("doc_id"),
          when(col("doc_id") % 50 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.operators.Versioning.snapshotDiff(v1, v2)
    })
      .oracle("""WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |v2 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 50 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id >= 100),
        |a AS (SELECT doc_id, md5(lower(trim(text))) AS fp_old FROM v1),
        |b AS (SELECT doc_id, md5(lower(trim(text))) AS fp_new FROM v2),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN fp_old <> fp_new THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, change FROM j
        |WHERE change <> 'unchanged'
        |ORDER BY doc_id""".stripMargin),
    // near-dup similarity HISTOGRAM: the distribution of pairwise
    // Jaccard above a low floor, 20 bins — the diagnostic a dedup
    // threshold is tuned against (the fixture reads bimodal: background
    // phrase-sharing mass in bin 0, the near-dup mass at 18-19, and the
    // threshold belongs in the valley); same pair machinery + one agg
    key("similarity_histogram")((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, threshold = 0.02)
        .select(least(floor(col("jaccard") * 20).cast("long"), lit(19L))
          .as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .orderBy(col("bin")))
      // the dedup_ngram pair CTEs at the 0.1 floor, binned by the same
      // IEEE floor(j*10)
      .oracle(s"""WITH $shinglePairCtes,
        |jp AS (SELECT round(common::DOUBLE / (sa + sb - common), 6) AS j
        |       FROM pairs
        |       WHERE round(common::DOUBLE / (sa + sb - common), 6) >= 0.02)
        |SELECT least(CAST(floor(j * 20) AS BIGINT), 19) AS bin, count(*) AS n
        |FROM jp
        |GROUP BY bin
        |ORDER BY bin""".stripMargin),
    // sorted-neighborhood blocking: content-independent candidate count
    // (n·(window−1) pairs from one rank-keyed self-join), exact verify
    key("dedup_sorted_neighborhood")((s, d) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, d),
        n = 3, window = 4, threshold = 0.3))
      // rank by the same (normalized text, id) key; candidates = the next
      // window−1 ranks; overlap counted by the constrained shingle join
      .oracle(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |${Sql.shingleSets("doc_id")},
        |sz AS (SELECT doc_id, len(ss) AS ns FROM sh0),
        |sh AS (SELECT doc_id, unnest(ss) AS shingle FROM sh0),
        |r AS (SELECT doc_id, row_number() OVER (
        |  ORDER BY lower(trim(text)), doc_id) AS rank FROM documents),
        |cand AS (SELECT least(a.doc_id, b.doc_id) AS doc_a,
        |  greatest(a.doc_id, b.doc_id) AS doc_b
        |  FROM r a JOIN r b ON b.rank > a.rank AND b.rank <= a.rank + 3),
        |common AS (SELECT c.doc_a, c.doc_b, count(*) AS cm
        |  FROM cand c
        |  JOIN sh x ON x.doc_id = c.doc_a
        |  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        |  GROUP BY 1, 2),
        |j AS (SELECT c.doc_a, c.doc_b,
        |  round(coalesce(cm, 0)::DOUBLE /
        |        (sa.ns + sb.ns - coalesce(cm, 0)), 6) + 0.0 AS jaccard
        |  FROM cand c
        |  LEFT JOIN common ON common.doc_a = c.doc_a AND common.doc_b = c.doc_b
        |  JOIN sz sa ON sa.doc_id = c.doc_a
        |  JOIN sz sb ON sb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, jaccard FROM j
        |WHERE jaccard >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin),
    key("dedup_ngram_jaccard")((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, threshold = 0.3))
      .oracle(s"""WITH $shinglePairCtes
         |SELECT doc_a, doc_b,
         |       round(common::DOUBLE / (sa + sb - common), 6) AS jaccard
         |FROM pairs
         |WHERE round(common::DOUBLE / (sa + sb - common), 6) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin),
    // pairs -> GROUPS: transitive near-dup clusters (connected components,
    // min-id labels); deterministic, oracle-checked vs a recursive CTE
    key("dedup_clusters")((s, d) =>
      Dedup.dedupClusters(Tables.documents(s, d), n = 3, threshold = 0.3))
      .oracle(s"""WITH RECURSIVE ${clusterCtes}
         |SELECT doc_id, cluster_id FROM clusters
         |ORDER BY doc_id""".stripMargin),
    // edit-distance near-dups (>=5 shared shingles + banded levenshtein)
    key("fuzzy_pairs")((s, d) =>
      Dedup.editDistancePairs(Tables.documents(s, d), n = 3, maxDist = 60,
        minShared = 5))
      .oracle(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
         |${Sql.shingleSets("doc_id")},
         |sh AS (SELECT doc_id, unnest(ss) AS shingle FROM sh0),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b USING (shingle)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= 5)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance
         |FROM cand
         |JOIN t ta ON ta.doc_id = cand.doc_a
         |JOIN t tb ON tb.doc_id = cand.doc_b
         |WHERE levenshtein(ta.text, tb.text) <= 60
         |ORDER BY doc_a, doc_b""".stripMargin),
    key("embedding_neardup")((s, d) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, d), threshold = 0.5, dim = 64))
      .oracle(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${Sql.E}),
         |nv AS (SELECT vec_id,
         |  CASE WHEN ${Sql.norm("v")} = 0 THEN v
         |       ELSE list_transform(v, x -> x / ${Sql.norm("v")}) END AS nv
         |FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(1.0 - ${Sql.dot("a.nv", "b.nv")}, 6) + 0.0 AS distance
         |FROM nv a JOIN nv b ON a.vec_id < b.vec_id
         |WHERE round(1.0 - ${Sql.dot("a.nv", "b.nv")}, 6) <= 0.5
         |ORDER BY id_a, id_b""".stripMargin),
    // SemDeDup semantic dedup (cluster + within-cluster lower-id prune);
    // eps chosen so the fixture corpus actually splits (61/500 dropped
    // at sf0.01) — deterministic centroids make it oracle-checkable
    key("semantic_dedup")((s, d) =>
      SemanticDedup.semanticDedup(Tables.embeddings(s, d), eps = 0.65,
        nCentroids = 16))
      // same normalized-dot machinery as embedding_neardup, plus the
      // ivf_knn-style deterministic centroid assignment; kept is INT for
      // engine-portable hashing
      .oracle(s"""WITH ${Sql.semanticAssignedCtes}
         |SELECT a.vec_id, a.cent_id,
         |  CASE WHEN ${Sql.semanticDupExists}
         |  THEN 0 ELSE 1 END AS kept
         |FROM assigned a
         |ORDER BY a.vec_id""".stripMargin),
    // MinHash+LSH / SimHash contract faces (r14): the md5-portable
    // pipelines whose WHOLE answer hash-checks in DuckDB — signatures,
    // band joins, verification and all. The xxhash64 fast paths
    // (Dedup.minhashLshPairs / simhashPairs, one-pass native
    // expressions) remain the library throughput route, recall- and
    // property-gated in DedupSpec incl. parity against these twins —
    // the dedup_incremental_bloom dual-path precedent.
    key("minhash_lsh_portable")((s, d) =>
      Dedup.minhashLshPairsPortable(Tables.documents(s, d),
        n = 3, numHashes = 16, bands = 4, threshold = 0.3))
      // md5-portable MinHash+LSH: the full pipeline restated — ONE 32-bit
      // md5 base hash per distinct 3-gram shingle, 16 affine permutations
      // (a_s·h + b_s mod 2³², constants from Dedup.mhA/mhB so the two
      // statements cannot drift), per-seed minima, 4 bands of 4 rows
      // keyed on the raw signature slice, band-bucket self-join,
      // exact-Jaccard verification (the jp-CTE idiom)
      .oracle(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |          FROM documents),
        |sh AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
        |hsh AS (SELECT doc_id, list_transform(ss,
        |    x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)) AS hs
        |  FROM sh),
        |sig AS MATERIALIZED (SELECT doc_id,
        |    [${(0 until 16).map(s =>
              s"list_min(list_transform(hs, h -> (h * ${Dedup.mhA(s)}" +
                s" + ${Dedup.mhB(s)}) % 4294967296))").mkString(",\n|     ")}
        |    ] AS sg
        |  FROM hsh),
        |banded AS MATERIALIZED (SELECT doc_id, b,
        |    array_to_string(list_transform(sg[b*4+1:b*4+4],
        |      h -> h::VARCHAR), '_') AS band_key
        |  FROM (SELECT doc_id, sg, unnest(generate_series(0, 3)) AS b
        |        FROM sig)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM banded x JOIN banded y
        |    ON x.b = y.b AND x.band_key = y.band_key
        |  WHERE x.doc_id < y.doc_id),
        |ver AS (SELECT doc_a, doc_b,
        |    round(len(list_intersect(sa.ss, sb.ss))::DOUBLE /
        |      (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss))),
        |      6) AS jaccard
        |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
        |            JOIN sh sb ON sb.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin),
    key("simhash_signatures_portable")((s, d) =>
      Dedup.simhashChunksPortable(Tables.documents(s, d))
        .orderBy(col("doc_id")))
      // md5-portable SimHash signature chunks: the shared CTE chain (64
      // per-bit vote sums over distinct-token 32-bit md5 half-hashes)
      .oracle(s"""WITH ${simhashPortableCtes}
         |SELECT doc_id, c0, c1, c2, c3 FROM sp
         |ORDER BY doc_id""".stripMargin),
    key("simhash_pairs_portable")((s, d) =>
      Dedup.simhashPairsPortable(Tables.documents(s, d), maxHamming = 3))
      // md5-portable SimHash pairs: 16-bit-chunk pigeonhole equi-join over
      // the SAME sp CTE, Hamming = bit_count sum of the four chunk XORs
      .oracle(s"""WITH ${simhashPortableCtes},
         |sig AS MATERIALIZED (SELECT doc_id, [c0, c1, c2, c3] AS chunks
         |  FROM sp),
         |banded AS (SELECT doc_id, chunks, ci, chunks[ci + 1] AS cv
         |  FROM (SELECT doc_id, chunks, unnest(generate_series(0, 3)) AS ci
         |        FROM sig)),
         |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(list_sum(list_transform(list_zip(a.chunks, b.chunks),
         |      q -> bit_count(xor(q[1], q[2])))) AS BIGINT) AS hamming
         |  FROM banded a JOIN banded b ON a.ci = b.ci AND a.cv = b.cv
         |  WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin),
  )
}
