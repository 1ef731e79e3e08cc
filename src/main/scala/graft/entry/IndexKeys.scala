package graft
package entry

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.index.{HnswIndex, HnswPqIndex, HnswSpark, HnswSq8Index}
import graft.operators.{BinaryQuantization, Ivf, IvfTrained, ProductQuantization, Quantization}

/** Approximate and compressed index keys: resident HNSW shard sets (full,
  * SQ8, PQ, refreshed), IVF, and the SQ8/BQ/PQ/IVF-PQ/OPQ scans. The
  * resident shards and the trained IVF model are memoized per (session,
  * fixture) in [[GraftSession.memo]].
  */
object IndexKeys {
  import Shared.{queryVec, queryBatch}
  import Sql.{E, dist}
  import Key.key

  // Artifacts memoized per (session, fixture) in GraftSession.memo, one
  // accessor each. A query map may be re-invoked many times in a
  // long-lived session; without the memo every invocation would cache a
  // NEW shard RDD on executors (the shards are deliberately long-lived and
  // outside CacheTracker) or re-run a training pass.

  private def buildResident(s: SparkSession, d: String): RDD[HnswIndex] =
    HnswSpark.buildResident(
      Tables.embeddings(s, d), HnswSpark.Params(dim = 64), numPartitions = 4)

  /** The long-lived resident HNSW shard set served by hnsw_knn_resident
    * and hnsw_knn_filtered. */
  private def residentFor(s: SparkSession, d: String): RDD[HnswIndex] =
    GraftSession.memo(s, s"resident $d")(buildResident(s, d))

  /** Compressed serving copies: the graph is built full-precision and the
    * float shards are unpersisted as soon as the compressed copies
    * materialize (compression counts eagerly). */
  private def compressedFor[C](s: SparkSession, d: String, codec: String)(
      compress: RDD[HnswIndex] => RDD[C]): RDD[C] =
    GraftSession.memo(s, s"$codec $d") {
      val full = buildResident(s, d)
      val compressed = compress(full)
      full.unpersist(blocking = false)
      compressed
    }

  private def sq8For(s: SparkSession, d: String): RDD[HnswSq8Index] =
    compressedFor(s, d, "sq8")(HnswSpark.compressResident)

  private def pqFor(s: SparkSession, d: String): RDD[HnswPqIndex] =
    compressedFor(s, d, "pq")(
      HnswSpark.compressResidentPq(_, m = 8, kSub = 64, iters = 4))

  /** Trained IVF quantizer model (a few KB of centroids): "train once,
    * serve many" is the operator's real lifecycle, so the three
    * ivf_trained_* keys share one model. */
  private def ivfModelFor(s: SparkSession, d: String): IvfTrained.Model =
    GraftSession.memo(s, s"ivf_trained $d")(
      IvfTrained.train(Tables.embeddings(s, d), nCentroids = 16, spherical = true))

  /** Refreshed resident shard set for `hnsw_knn_refreshed`. Built as:
    * base = 80% of the embeddings (vec_id % 5 ≠ 4), then ONE mutation
    * batch applied through [[HnswSpark.refreshResident]] — inserts of the
    * held-out 20% under new ids (1000000 + vec_id), overwrites of
    * vec_id % 10 == 1 with the NEGATED embedding, deletes of
    * vec_id % 7 == 3 (including overwrite-then-delete churn where both
    * hit, and no-op misses where the target was never in the base) — all
    * closed-form predicates a DuckDB oracle can restate. The base shard
    * set is unpersisted once the refreshed set is materialized
    * (refreshResident counts eagerly).
    */
  private def refreshedFor(s: SparkSession, d: String): RDD[HnswIndex] =
    GraftSession.memo(s, s"refreshed $d") {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 5 =!= 4)
      val shards = HnswSpark.buildResident(
        base, HnswSpark.Params(dim = 64), numPartitions = 4)
      val inserts = emb.where(col("vec_id") % 5 === 4).select(
        col("vec_id").as("seq"), lit("insert").as("op"),
        (col("vec_id") + 1000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      val overwrites = emb.where(col("vec_id") % 10 === 1).select(
        (col("vec_id") + 10000000L).as("seq"), lit("insert").as("op"),
        col("vec_id"),
        transform(col("embedding").cast("array<double>"), x => -x).as("vec"))
      val deletes = emb.where(col("vec_id") % 7 === 3).select(
        (col("vec_id") + 20000000L).as("seq"), lit("delete").as("op"),
        col("vec_id"), lit(null).cast("array<double>").as("vec"))
      val refreshed = HnswSpark.refreshResident(
        shards, inserts.unionByName(overwrites).unionByName(deletes),
        HnswSpark.Params(dim = 64))
      shards.unpersist(blocking = false) // refreshed is materialized already
      refreshed
    }

  /** Exact top-10 over the FOLDED post-mutation table — the
    * hnsw_knn_refreshed oracle. The fold restates the key's
    * closed-form mutation batch: deletes win over overwrites (later
    * seq), overwrites carry the negated embedding (negation is exact
    * in both engines), held-out rows insert under 1000000 + vec_id.
    * At exhaustive ef the refreshed resident probe is exact over the
    * live graph, so the ANN key hash-matches this.
    */
  private lazy val refreshedKnnSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM $E WHERE vec_id < 5),
       |folded AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM $E
       |  WHERE vec_id % 5 != 4 AND vec_id % 7 != 3 AND vec_id % 10 != 1
       |  UNION ALL
       |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> -x) AS v
       |  FROM $E WHERE vec_id % 10 = 1 AND vec_id % 7 != 3
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS v
       |  FROM $E WHERE vec_id % 5 = 4),
       |pairs AS (
       |  SELECT q.query_id, f.vec_id,
       |         round(${dist("cosine", "f.v", "q.qv")}, 6) + 0.0 AS distance
       |  FROM folded f, q),
       |ranked AS (
       |  SELECT query_id, vec_id, distance,
       |         row_number() OVER (
       |           PARTITION BY query_id ORDER BY distance, vec_id) AS rank
       |  FROM pairs)
       |SELECT query_id, vec_id, distance FROM ranked WHERE rank <= 10
       |ORDER BY query_id, distance, vec_id""".stripMargin

  /** Packed 1-bit sign codes over the corpus — LSB-first 32-bit words,
    * per-vector sequential-sum mean threshold; the `<<` build keeps
    * every partial value integer. Mirrors BinaryQuantization.bqEncode.
    */
  private lazy val bqWordsCtes: String =
    s"""bqe AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $E),
       |bqm AS (SELECT vec_id, v, list_sum(v) / len(v) AS mu FROM bqe),
       |bqw AS (SELECT vec_id,
       |  ${bqPack("v")} AS words
       |  FROM bqm)""".stripMargin

  /** The `bqWordsCtes` sign-word packing of the vector column `v`
    * against its mean `mu` — one body for the corpus and the queries. */
  private def bqPack(v: String): String =
    s"""list_transform(range(0, 2), w ->
       |    CAST(list_sum(list_transform(range(0, 32),
       |      j -> CASE WHEN w * 32 + j < len($v) AND $v[w * 32 + j + 1] > mu
       |           THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT))""".stripMargin

  /** The vec_id-0 query's sign words, its Hamming distance to every
    * `bqw` row and the 80-row candidate cut, ending in `cand(vec_id,
    * hamming)` — shared by bq_knn and bq_sq8_knn. */
  private lazy val bqCandCtes: String =
    s"""q AS (SELECT embedding::DOUBLE[] AS qv FROM $E WHERE vec_id = 0),
       |qm AS (SELECT qv, list_sum(qv) / len(qv) AS mu FROM q),
       |qw AS (SELECT
       |  ${bqPack("qv")} AS qwords
       |  FROM qm),
       |ham AS (SELECT bqw.vec_id,
       |  CAST(list_sum(list_transform(list_zip(bqw.words, qw.qwords),
       |    p -> bit_count(xor(p[1], p[2])))) AS BIGINT) AS hamming
       |  FROM bqw, qw),
       |cand AS (SELECT vec_id, hamming FROM ham ORDER BY hamming, vec_id LIMIT 80)""".stripMargin

  /** CTEs `sqdec(vec_id, v, vmin, vmax, vh)`: SQ8 encode + decode with the
    * exact arithmetic Quantization.sq8Encode/sq8DecodeCol use — every
    * step is deterministic IEEE, so the oracle reproduces codes exactly.
    */
  private lazy val sq8Ctes: String =
    s"""sqe AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  list_min(embedding::DOUBLE[]) AS vmin, list_max(embedding::DOUBLE[]) AS vmax FROM $E),
       |sqc AS (SELECT vec_id, v, vmin, vmax,
       |  CASE WHEN vmax = vmin THEN list_transform(v, x -> 0)
       |       ELSE list_transform(v, x -> CAST(floor((x - vmin) / (vmax - vmin) * 255.0 + 0.5) AS INT))
       |  END AS codes FROM sqe),
       |sqdec AS (SELECT vec_id, v, vmin, vmax,
       |  list_transform(codes, c -> vmin + c / 255.0 * (vmax - vmin)) AS vh FROM sqc)""".stripMargin

  val keys: Seq[Key] = Seq(
    // The engine-internal HLL/GK sketch keys (sketch_daily_users,
    // sketch_value_quantiles) were RETIRED from the contract in
    // r12: their estimates are engine-internal (datasketches/GK state
    // is not oracle-restatable by design), the operators stay fully
    // spec-gated in SketchesSpec (5%-of-exact + quantile-band), and the
    // PORTABLE oracle-checked sketches (kmv_daily_users, hist_quantiles,
    // cms_estimates) carry the same curation signals in the contract —
    // so the permanent no_oracle noise bought nothing.
    // O5-O8 approximate path: partitioned HNSW build + broadcast probe.
    // No oracle entry (approximate results can't hash-match SQL) — the
    // contract records a rows-only check; recall@10 >= 0.9 is gated in
    // HnswSparkSpec instead (SURVEY §4.2 determinism rule).
    key("hnsw_knn")((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = HnswSpark.build(emb, HnswSpark.Params(dim = 64), numPartitions = 4)
      val bc = s.sparkContext.broadcast(idx)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      // served through the custom Catalyst operator (HnswProbeExec) —
      // row-identical to HnswSpark.searchDf (HnswProbePlanSpec)
      graft.plans.GraftExtensions.install(s)
      graft.plans.HnswProbe(queries, bc, k = 10)
        .select(col("query_id"), col("vec_id"), col("distance"))
    }),
    // O5-O8 via the EXECUTOR-RESIDENT serving shape: shards built and
    // cached where their partitions live, queries broadcast, per-shard
    // top-k merged map-side. Row-identical to the broadcast path
    // (HnswResidentSpec gates it); rows-only here like hnsw_knn. The
    // shard cache deliberately outlives the query (a serving index is a
    // long-lived artifact; evict-and-rebuild would be nondeterministic) —
    // one small sub-index set per Verify/Bench run.
    key("hnsw_knn_resident")((s, d) => {
      HnswSpark.searchResident(s, residentFor(s, d), queryBatch(s, d), k = 10)
        .orderBy(col("query_id"), col("distance"), col("vec_id"))
    }),
    // A1/A3/A7 landing in the SERVING path (r11): the mutation-log batch
    // applied to loaded resident shards via refreshResident, then probed
    // at EXHAUSTIVE ef (≥ live count per shard: the beam never prunes,
    // so the ANN search degenerates to exact over the reachable graph) —
    // which makes this key ORACLE-CHECKED, unlike the other hnsw keys:
    // DuckDB folds the same closed-form mutation batch and computes the
    // exact top-k over the folded table
    key("hnsw_knn_refreshed")((s, d) => {
      HnswSpark.searchResident(s, refreshedFor(s, d), queryBatch(s, d),
        k = 10, ef = Some(60000))
        .orderBy(col("query_id"), col("distance"), col("vec_id"))
    })
      .oracle(refreshedKnnSql),
    // SQ8-compressed resident ANN (r14, the DiskANN composition,
    // Subramanya et al. 2019): the graph is built on full precision,
    // the SERVING copy stores one byte per dim + per-vector (min, max)
    // (~7× smaller vector payload, soak-measured), traversal runs on
    // decoded-on-the-fly distances, and the exact rerank joins the
    // bounded candidates back to the corpus frame. At exhaustive ef
    // with a corpus-covering candFactor the rerank restores the exact
    // top-k — hash-checked like hnsw_knn_refreshed; the operating-point
    // recall is gated in HnswSq8Spec and the 1M soak
    key("hnsw_sq8_knn")((s, d) => {
      HnswSpark.searchResidentRerank(s, sq8For(s, d), Tables.embeddings(s, d),
        queryBatch(s, d), k = 10, candFactor = 50, ef = Some(60000))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    })
      // exhaustive-ef SQ8 traversal + corpus-covering exact rerank = the
      // exact batch top-k (the hnsw_knn_refreshed argument, plus rerank
      // coverage: every reachable node enters the candidate set)
      .oracle(Sql.batchKnnSql()),
    // the PQ-coded step past SQ8 on the same axis (r14): m one-byte
    // codes per vector against shard-local books, traversal = m table
    // lookups per hop; the exhaustive-ef + corpus-covering-rerank
    // answer is exact REGARDLESS of codebook quality, so the face
    // hash-checks while the books stay local float k-means
    key("hnsw_pq_knn")((s, d) => {
      HnswSpark.searchResidentRerank(s, pqFor(s, d), Tables.embeddings(s, d),
        queryBatch(s, d), k = 10, candFactor = 50, ef = Some(60000))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    })
      // same argument one compression step further: the PQ traversal's
      // candidate set covers the corpus at exhaustive ef, rerank is exact
      .oracle(Sql.batchKnnSql()),
    // Predicate-filtered ANN on the resident path: the in-traversal
    // filtered beam search (pool admits only passing ids, beam expands
    // until it holds ef of them) — rows-only like hnsw_knn; recall vs
    // the exact filtered twin is gated per-selectivity in
    // HnswFilteredSpec. Predicate: even vec_ids (the knn_with_metadata
    // fixture's "has metadata" population).
    key("hnsw_knn_filtered")((s, d) => {
      HnswSpark.searchResidentFiltered(s, residentFor(s, d), queryBatch(s, d),
        k = 10, allow = (id: Long) => id % 2 == 0, ef = Some(100))
        .orderBy(col("query_id"), col("distance"), col("vec_id"))
    }),
    // Predicate-filtered traversal on the COMPRESSED resident paths
    // (r15): at scale the compressed index is the one serving, so a
    // predicate must not force the float path. The in-traversal
    // filtered pool (beam expands until it holds ef PASSING nodes)
    // runs on the quantized distance oracle; at exhaustive ef it
    // pools every reachable allowed node and the exact rerank
    // restores exact filtered top-k — same exactness argument as
    // hnsw_sq8_knn, so both faces hash-check against the filtered
    // batch-kNN SQL. Operating-point recall per selectivity is gated
    // in HnswSq8Spec.
    key("hnsw_sq8_knn_filtered")((s, d) => {
      HnswSpark.searchResidentRerank(s, sq8For(s, d), Tables.embeddings(s, d),
        queryBatch(s, d), k = 10, candFactor = 50, ef = Some(60000),
        allow = Some((id: Long) => id % 2 == 0))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    })
      .oracle(Sql.batchKnnSql(" WHERE e.vec_id % 2 = 0")),
    key("hnsw_pq_knn_filtered")((s, d) => {
      HnswSpark.searchResidentRerank(s, pqFor(s, d), Tables.embeddings(s, d),
        queryBatch(s, d), k = 10, candFactor = 50, ef = Some(60000),
        allow = Some((id: Long) => id % 2 == 0))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    })
      .oracle(Sql.batchKnnSql(" WHERE e.vec_id % 2 = 0")),
    // IVF ANN — deterministic centroids (lowest 16 ids), 4 probed cells;
    // fully reproducible in SQL, so oracle-checked despite being "ANN"
    key("ivf_knn")((s, d) =>
      Ivf.knn(Tables.embeddings(s, d), queryVec(s, d),
        k = 10, nCentroids = 16, nProbe = 4, metric = VectorFunctions.cosine))
      .oracle(s"""${Sql.withQ},
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
         |  FROM ${Sql.E} ORDER BY vec_id LIMIT 16),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${Sql.E}),
         |assigned AS (
         |  SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, e.v, c.cent_id,
         |           row_number() OVER (
         |             PARTITION BY e.vec_id
         |             ORDER BY round(${Sql.dist("cosine", "e.v", "c.cv")}, 6) + 0.0, c.cent_id) AS rn
         |    FROM e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |probed AS (
         |  SELECT cent_id FROM cents CROSS JOIN q
         |  ORDER BY round(${Sql.dist("cosine", "cents.cv", "q.qv")}, 6) + 0.0, cent_id
         |  LIMIT 4)
         |SELECT a.vec_id,
         |       round(${Sql.dist("cosine", "a.v", "q.qv")}, 6) + 0.0 AS distance
         |FROM assigned a JOIN probed p ON a.cent_id = p.cent_id CROSS JOIN q
         |ORDER BY distance, vec_id
         |LIMIT 10""".stripMargin),
    // TRAINED-centroid IVF (MLlib spherical k-means, seeded): the
    // production quantizer — k-means RNG is engine-internal, so rows-only
    // like hnsw_knn; recall vs exact (and vs deterministic IVF at equal
    // probe) is gated in IvfTrainedSpec
    key("ivf_trained_knn")((s, d) =>
      IvfTrained.knn(Tables.embeddings(s, d), queryVec(s, d), ivfModelFor(s, d),
        k = 10, nProbe = 4, metric = VectorFunctions.cosine)),
    // EXACT top-k served through the trained quantizer: seed-probe for a
    // kth-best bound τ, prune cells the triangle-inequality radius bound
    // proves top-k-free, rerank survivors exactly. Output is the global
    // exact top-10 BY CONSTRUCTION (model quality only affects pruning),
    // so the oracle is the plain exact k-NN — this hash-checks the whole
    // trained train→assign→probe→rerank path cross-engine
    key("ivf_trained_knn_exact")((s, d) =>
      IvfTrained.knnExact(Tables.embeddings(s, d), queryVec(s, d),
        ivfModelFor(s, d), k = 10, nProbeSeed = 4))
      // the pruned exact search is exact by the triangle inequality — the
      // twin is the plain exact scan, no quantizer restatement needed
      .oracle(Sql.knnSql("cosine")),
    // the BATCH exact-through-the-quantizer serving shape: per-query τ,
    // radius-bound cell pruning and rerank as declarative frames — no
    // driver-side per-query actions; same knnBatch output face
    key("ivf_trained_knn_batch_exact")((s, d) => {
      IvfTrained.knnExactBatch(Tables.embeddings(s, d), queryBatch(s, d),
        ivfModelFor(s, d), k = 10, nProbeSeed = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    })
      // batch exact-through-the-quantizer: exact by the same triangle
      // inequality as the single-query twin, so the oracle is the plain
      // per-query exact ranking
      .oracle(Sql.batchKnnSql()),
    // SQ8 scalar quantization: deterministic encode, so both the
    // per-vector error stats and the asymmetric-distance search are
    // oracle-checkable (unlike most quantizers)
    key("sq8_stats")((s, d) => Quantization.sq8Stats(Tables.embeddings(s, d)))
      .oracle(s"""WITH ${sq8Ctes},
         |err AS (SELECT vec_id, vmin, vmax,
         |  list_transform(list_zip(v, vh), p -> abs(p[1] - p[2])) AS errs FROM sqdec)
         |SELECT vec_id, round(vmin, 6) AS vmin, round(vmax, 6) AS vmax,
         |  round(list_sum(errs) / len(errs), 6) + 0.0 AS mean_abs_err,
         |  round(list_max(errs), 6) + 0.0 AS max_abs_err
         |FROM err
         |ORDER BY vec_id""".stripMargin),
    key("sq8_knn")((s, d) =>
      Quantization.sq8Knn(Tables.embeddings(s, d), queryVec(s, d), k = 10))
      .oracle(s"""${Sql.withQ},
         |${sq8Ctes}
         |SELECT d.vec_id,
         |  round(sqrt(list_sum(list_transform(list_zip(d.vh, q.qv),
         |    p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) + 0.0 AS distance
         |FROM sqdec d, q
         |ORDER BY distance, vec_id
         |LIMIT 10""".stripMargin),
    // 1-bit sign quantization: per-vector-mean threshold (sequential
    // double sum, identical in both engines), LSB-first 32-bit words —
    // integer packing and Hamming make the whole family oracle-exact
    key("bq_stats")((s, d) =>
      BinaryQuantization.bqStats(Tables.embeddings(s, d), dim = 64))
      // per-word popcount face of the packed sign codes — all integer
      // columns, so the hash is exact by construction
      .oracle(s"""WITH ${bqWordsCtes},
         |ex AS (SELECT vec_id, CAST(idx.w AS BIGINT) AS word_idx, words[idx.w + 1] AS word
         |  FROM bqw CROSS JOIN (SELECT unnest(range(0, 2)) AS w) idx)
         |SELECT vec_id, word_idx, word,
         |  CAST(bit_count(word) AS BIGINT) AS n_set
         |FROM ex
         |ORDER BY vec_id, word_idx""".stripMargin),
    // two-stage ANN: Hamming scan over the 32x-compressed codes keeps 80
    // candidates, exact cosine rerank over only those emits the top 10 —
    // deterministic end to end, so oracle-checked unlike the HNSW keys
    key("bq_knn")((s, d) =>
      BinaryQuantization.bqKnn(Tables.embeddings(s, d), queryVec(s, d),
        k = 10, candFactor = 8))
      // two-stage twin: Hamming candidate cut (ties by vec_id), exact
      // cosine rerank over the survivors only — deterministic integers up
      // to the final rounded distance
      .oracle(s"""WITH ${bqWordsCtes},
         |${bqCandCtes}
         |SELECT c.vec_id, c.hamming,
         |  round(${Sql.dist("cosine", "e.v", "q.qv")}, 6) + 0.0 AS distance
         |FROM cand c JOIN bqe e ON e.vec_id = c.vec_id, q
         |ORDER BY distance, c.vec_id
         |LIMIT 10""".stripMargin),
    // BQ→SQ8 two-stage (r12): Hamming prefilter to 80 survivors, SQ8
    // asymmetric euclidean rerank over ONLY their 8×-compressed codes —
    // the 1M bqrecall curve's guidance as a first-class face; no
    // full-precision vector is touched at query time
    key("bq_sq8_knn")((s, d) =>
      BinaryQuantization.bqSq8Knn(Tables.embeddings(s, d), queryVec(s, d),
        k = 10, candFactor = 8))
      // the BQ→SQ8 composition: the SAME Hamming cut, then the SQ8
      // asymmetric euclidean (decoded codes vs full query) replayed from
      // the shared sq8 CTEs — survivors only
      .oracle(s"""WITH ${bqWordsCtes},
         |${sq8Ctes},
         |${bqCandCtes}
         |SELECT c.vec_id, c.hamming,
         |  round(sqrt(list_sum(list_transform(list_zip(d.vh, q.qv),
         |    p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) + 0.0 AS distance
         |FROM cand c JOIN sqdec d ON d.vec_id = c.vec_id, q
         |ORDER BY distance, c.vec_id
         |LIMIT 10""".stripMargin),
    // batch twin: per-query Hamming candidate cut via the bounded
    // graft_topk aggregate (map-side heaps), exact rerank over only the
    // bounded candidate frame — the knnBatch shape on packed codes
    key("bq_knn_batch")((s, d) =>
      BinaryQuantization.bqKnnBatch(Tables.embeddings(s, d), queryBatch(s, d),
        k = 10, candFactor = 8))
      // batch twin: per-query Hamming cut (ties by vec_id — the same
      // order graft_topk's heap uses), exact rerank, rank per query
      .oracle(s"""WITH ${bqWordsCtes},
         |qb AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM ${Sql.E} WHERE vec_id < 5),
         |qbm AS (SELECT query_id, qv, list_sum(qv) / len(qv) AS mu FROM qb),
         |qbw AS (SELECT query_id,
         |  ${bqPack("qv")} AS qwords
         |  FROM qbm),
         |hamb AS (SELECT q.query_id, w.vec_id,
         |  CAST(list_sum(list_transform(list_zip(w.words, q.qwords),
         |    p -> bit_count(xor(p[1], p[2])))) AS BIGINT) AS hamming
         |  FROM bqw w, qbw q),
         |candb AS (SELECT query_id, vec_id, hamming FROM (
         |  SELECT query_id, vec_id, hamming,
         |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rn
         |  FROM hamb) WHERE rn <= 80),
         |rr AS (SELECT c.query_id, c.vec_id, c.hamming,
         |  round(${Sql.dist("cosine", "e.v", "q.qv")}, 6) + 0.0 AS distance
         |  FROM candb c
         |  JOIN bqe e ON e.vec_id = c.vec_id
         |  JOIN qb q ON q.query_id = c.query_id)
         |SELECT query_id, vec_id, hamming, distance, rank FROM (
         |  SELECT query_id, vec_id, hamming, distance,
         |    row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
         |  FROM rr)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),
    // integer-exact PQ (r13): per-subspace Lloyd codebooks under the
    // kmeans_fit discipline (first-k init, micro longs, truncating
    // means), ADC shortlist in exact integer micro², cosine rerank —
    // the first PQ path whose WHOLE answer (training + codes + ADC cut)
    // hash-matches a SQL replay; 16× compression with fine ranking, the
    // within-cluster resolution the 1M BQ measurement showed is missing
    key("pq_knn")((s, d) =>
      ProductQuantization.exactAdcKnn(Tables.embeddings(s, d), queryVec(s, d),
        dim = 64, m = 4, kSub = 8, iterations = 2, k = 10, candFactor = 8))
      // integer-exact PQ: one prefixed Lloyd CTE chain per subspace (the
      // kmeans_fit unrolling, composed 4×), integer ADC tables from the
      // query's micro slices, deterministic shortlist cut, cosine rerank
      .oracle(ProductQuantization.exactOracleSql(Sql.E, 64, 4, 8, 2,
      k = 10, candFactor = 8, (a, b) => Sql.dist("cosine", a, b))),
    // batch twin: codes once, per-query integer ADC tables, rank ≤ k
    key("pq_knn_batch")((s, d) =>
      ProductQuantization.exactAdcKnnBatch(Tables.embeddings(s, d),
        queryBatch(s, d),
        dim = 64, m = 4, kSub = 8, iterations = 2, k = 10, candFactor = 8))
      .oracle(ProductQuantization.exactBatchOracleSql(Sql.E, 64, 4, 8, 2,
      k = 10, candFactor = 8, (a, b) => Sql.dist("cosine", a, b))),
    // residual (IVF-)PQ (r13): coarse cells absorb the cluster
    // structure, codebooks quantize the RESIDUAL x − centroid(x) — the
    // within-cluster resolution flat PQ/BQ structurally lack (the 1M
    // curves) — probe 2 of 4 cells, per-cell integer ADC tables, exact
    // rerank; training, codes, pruning, AND distances all hash-check
    key("ivfpq_knn")((s, d) =>
      ProductQuantization.residualAdcKnn(Tables.embeddings(s, d),
        queryVec(s, d), dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2, nProbe = 2, k = 10, candFactor = 8))
      // residual PQ: the coarse Lloyd chain feeds a residual source CTE
      // (micro − final centroid); per-subspace chains train FROM it; the
      // query gets per-(cell, code) integer tables; members cut by probe
      .oracle(ProductQuantization.residualOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b))),
    // batch twin: model + codes once, per-query probe cells + per-cell
    // integer tables, rank ≤ k
    key("ivfpq_knn_batch")((s, d) =>
      ProductQuantization.residualAdcKnnBatch(Tables.embeddings(s, d),
        queryBatch(s, d), dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2, nProbe = 2, k = 10, candFactor = 8))
      .oracle(ProductQuantization.residualBatchOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b))),
    // the JOIN-SHAPED bulk scorer under the same oracle: its O(1)-plan
    // partial-table join must reproduce the leg face's rows exactly —
    // here the DuckDB replay checks that directly
    key("ivfpq_knn_bulk")((s, d) => {
      val emb0 = Tables.embeddings(s, d)
      val rm = ProductQuantization.fitResidual(emb0, dim = 64,
        kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2)
      ProductQuantization.residualAdcKnnBulk(emb0,
        ProductQuantization.encodeResidual(emb0, rm), rm,
        queryBatch(s, d), nProbe = 2, k = 10, candFactor = 8)
    })
      // the bulk face answers the SAME question — one replay checks both
      // plan shapes
      .oracle(ProductQuantization.residualBatchOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b))),
    // OPQ (r14): a seeded-sign Walsh–Hadamard rotation (orthonormal,
    // ±1/√dim entries — engine-exact ordered sums) in front of the SAME
    // residual IVF-PQ chain; rotation, training, codes, pruning and
    // rerank ALL hash-check. The data-dependent parametric OPQ (PCA
    // eigenbasis + eigenvalue allocation) is the spec-gated library
    // face Opq.opqPcaKnn, soak-measured at 1M (the pca_project class)
    key("opq_knn")((s, d) =>
      graft.operators.Opq.opqKnn(Tables.embeddings(s, d),
        queryVec(s, d), dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2, nProbe = 2, k = 10, candFactor = 8))
      // OPQ: the residual-PQ replay run against a rotation CTE — the
      // seeded-sign Hadamard matrix restated per (i, j), ascending-j sums
      .oracle(graft.operators.Opq.opqOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b))),
    key("opq_knn_batch")((s, d) =>
      graft.operators.Opq.opqKnnBatch(Tables.embeddings(s, d),
        queryBatch(s, d), dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2, nProbe = 2, k = 10, candFactor = 8))
      .oracle(graft.operators.Opq.opqBatchOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b))),
  )
}
