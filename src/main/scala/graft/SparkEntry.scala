package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.index.{HnswIndex, HnswPqIndex, HnswSpark, HnswSq8Index}
import graft.operators.{Behavior, BinaryQuantization, Coreset, CorpusStats, Decontamination, Dedup, Dsir, Embeddings, GraphOps, Hybrid, Ivf, IvfTrained, KnnGraphTables, Kmeans, Knn, Multimodal, Mutations, Packing, Pca, Profiling, ProductQuantization, Projection, Quantization, Ranking, Relational, SearchApi, Sampling, SemanticDedup, Sketches, TextAnalysis, TrainingPipeline}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in `queries` is an operator from SURVEY.md §2 (or a planned
  * extension op); every exact operator also registers equivalent DuckDB SQL
  * in `oracleSql`. Approximate operators (HNSW/LSH) are recall-gated in
  * ScalaTest instead and register rows-only checks (no oracle entry).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exact cosine kNN — the reference's `POST /search` hot path
    * (reference api/rest/server.py:159-186) as a Spark top-k plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("knn_cosine")(spark, "/root/testdata/sf0.001")

  // ---- shared query fixtures (deterministic; FIXTURES.md rules) ----------

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
  private val FixedModelSqlKeys: String =
    FixedUnigramModel.map(p => s"'${p._1}'").mkString("[", ",", "]")
  private val FixedModelSqlScores: String =
    "CAST([" + FixedUnigramModel.map(_._2.toLong).mkString(",") +
      "] AS DOUBLE[])"
  private val FixedModelSqlValues: String =
    FixedUnigramModel
      .map { case (p, s) => s"('$p', CAST(${s.toLong} AS DOUBLE))" }
      .mkString(", ")

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

  /** The fixed-model Viterbi CTE chain (recursive DP per distinct word →
    * per-occurrence pieces with ids), ending in CTEs `tok`, `wpieces`,
    * `mids`, `model` — shared by unigram_encode_fixed and
    * unigram_doc_quality so the segmentation the quality score sums is
    * exactly the segmentation the encode key checks. Callers prepend
    * `WITH RECURSIVE `.
    */
  private lazy val UnigramFixedCtes: String =
    ("""words AS (
      |  SELECT DISTINCT tok AS word FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |    WHERE text IS NOT NULL)
      |  WHERE len(tok) > 0),
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
      |              map_extract(MAP(""" + FixedModelSqlKeys + """,
      |                """ + FixedModelSqlScores + """),
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
      |model(piece, score) AS (VALUES """ + FixedModelSqlValues + """),
      |mids AS (
      |  SELECT piece, row_number() OVER (ORDER BY score DESC, piece)
      |    AS piece_id
      |  FROM model),
      |t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |      FROM documents WHERE text IS NOT NULL),
      |e AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks
      |      FROM t),
      |tok AS (SELECT doc_id, CAST(p - 1 AS INTEGER) AS pos, toks[p] AS word
      |        FROM e WHERE len(toks[p]) > 0)""").stripMargin

  /** The media_video_samples oracle, parameterized by an extra document
    * filter so the corrupt-channel profile twin can exclude the planted
    * truncations — ONE body, two keys, no drift.
    */
  private def videoSamplesSql(extraFilter: String): String =
    (s"""WITH vdocs AS (SELECT * FROM documents $extraFilter),
        |p AS (
        |  SELECT doc_id AS media_id,
        |    CAST(600 * (1 + doc_id % 2) AS INTEGER) AS mts,
        |    CAST(24 + doc_id % 120 AS BIGINT) AS ns,
        |    CAST(4 + doc_id % 4 AS BIGINT) AS k,
        |    CAST(320 + (doc_id % 8) * 160 AS INTEGER) AS w,
        |    CAST(180 + (doc_id % 8) * 90 AS INTEGER) AS h
        |  FROM vdocs),
        |sz AS (
        |  SELECT s.media_id,
        |    sum(200 + ((s.media_id + s.i) % 50) * 10) AS total_bytes,
        |    max(200 + ((s.media_id + s.i) % 50) * 10) AS max_bytes
        |  FROM (SELECT media_id, unnest(generate_series(0, ns - 1)) AS i
        |        FROM p) s
        |  GROUP BY s.media_id),
        |v AS (
        |  SELECT p.media_id, 1 AS track_idx, p.mts AS media_timescale,
        |    p.ns AS sample_count, sz.total_bytes, sz.max_bytes,
        |    (p.ns // 2) * 100 + (p.ns - p.ns // 2) * 150 AS duration_ticks,
        |    ((p.ns + p.k - 1) // p.k) AS keyframe_count,
        |    ((p.ns + 7) // 8) AS chunk_count,
        |    p.w, p.h
        |  FROM p JOIN sz ON p.media_id = sz.media_id),
        |a AS (
        |  SELECT doc_id AS media_id, 2 AS track_idx, 8000 AS media_timescale,
        |    CAST(50 + doc_id % 100 AS BIGINT) AS sample_count,
        |    CAST(50 + doc_id % 100 AS BIGINT) * 64 AS total_bytes,
        |    CAST(64 AS BIGINT) AS max_bytes,
        |    CAST(50 + doc_id % 100 AS BIGINT) * 160 AS duration_ticks,
        |    CAST(50 + doc_id % 100 AS BIGINT) AS keyframe_count,
        |    ((CAST(50 + doc_id % 100 AS BIGINT) + 15) // 16) AS chunk_count,
        |    CAST(0 AS INTEGER) AS w, CAST(0 AS INTEGER) AS h
        |  FROM vdocs WHERE doc_id % 5 = 0),
        |u AS (SELECT * FROM v UNION ALL SELECT * FROM a)
        |SELECT media_id, CAST(track_idx AS INTEGER) AS track_idx,
        |  CAST(media_timescale AS INTEGER) AS media_timescale,
        |  CAST(sample_count AS BIGINT) AS sample_count,
        |  CAST(total_bytes AS BIGINT) AS total_sample_bytes,
        |  CAST(max_bytes AS BIGINT) AS max_sample_bytes,
        |  CAST(duration_ticks AS BIGINT) AS duration_ticks,
        |  CAST(duration_ticks * 1000 // media_timescale AS BIGINT)
        |    AS duration_ms,
        |  CAST(total_bytes * 8 * media_timescale // duration_ticks AS BIGINT)
        |    AS bitrate_bps,
        |  CAST(keyframe_count AS BIGINT) AS keyframe_count,
        |  CAST(sample_count // keyframe_count AS BIGINT) AS keyframe_interval,
        |  CAST(chunk_count AS BIGINT) AS chunk_count,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height
        |FROM u
        |ORDER BY media_id, track_idx""").stripMargin

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

  /** The deterministic kNN graph (k=5, 16 cells, 4 probes) shared by
    * knn_graph / knn_graph_stats / pagerank — built and persisted ONCE
    * per (session, fixture) so the consumers (and bench reps) pay
    * candidate generation once.
    */
  private def knnGraphFor(s: SparkSession, d: String): DataFrame = {
    val g = GraftSession.memo(s, s"knn_graph $d")(
      Ivf.knnGraph(Tables.embeddings(s, d), k = 5, nCentroids = 16, nProbe = 4))
    // (Re-)fill whenever the frame is not currently cached: the session
    // owner's releaseAll() between queries unpersists the memoized
    // frame, and an unpersisted graph would (a) recompute
    // the candidate join once PER REFERENCE in multi-pass consumers
    // (triangle census, label prop) and (b) feed the label-prop gate the
    // cross-join-inflated pre-materialization stats instead of the real
    // cached size — misrouting fixture-scale graphs onto the 30-stage
    // distributed path (measured: label_propagation 9.4 s → 2.1 s at
    // sf0.1 once the gate sees the cached size again).
    graft.CacheTracker.fill(g)
  }

  /** The ids knn_graph_refreshed and knn_graph_tables_refreshed hold out
    * of the initial build (never one of the 16 centroid ids). */
  private val heldSlice = col("vec_id") >= 16 && col("vec_id") % 37 === 5

  /** Base table directory for `knn_graph_tables_refreshed`: the init (a
    * full graph build + 8 bucketed table writes) is deterministic per
    * fixture, so reps pay it ONCE — each rep then copies the directory
    * and runs refresh + readState against its private copy, so the
    * refresh machinery is still exercised per rep (r16 verdict: per-rep
    * re-init made this the suite's slowest key at 22.6 s over a
    * 2,000-row fixture).
    */
  private def graphTablesBaseFor(s: SparkSession, d: String): String =
    GraftSession.memo(s, s"graph_tables_base $d") {
      val b = java.nio.file.Files.createTempDirectory("graph-tables-base").toString
      KnnGraphTables.init(s, b, Tables.embeddings(s, d).where(!heldSlice),
        k = 5, nCentroids = 16, nProbe = 4, nBuckets = 8)
      b
    }

  private def copyDirRecursive(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val s = Paths.get(src)
    val d = Paths.get(dst)
    val it = Files.walk(s)
    try it.forEach { p: Path =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally it.close()
  }

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

  /** Single query vector: the embedding of vec_id 0 — deterministic and
    * readable identically by DuckDB from the same parquet.
    */
  private def queryVec(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") === 0)
      .select(col("embedding").as("qv"))

  /** Query batch: the five lowest vec_ids. */
  private def queryBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  private def knnByMetric(metric: String)(spark: SparkSession, dir: String): DataFrame =
    Knn.knn(
      Tables.embeddings(spark, dir),
      queryVec(spark, dir),
      k = 10,
      metric = VectorFunctions.byName(metric))

  // ---- the query surface -------------------------------------------------

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O2+O5+A2: the reference search default (metric=cosine, k=10;
    // api/rest/server.py:93-99 defaults, :33 k default)
    "knn_cosine" -> ((s, d) => knnByMetric("cosine")(s, d)),
    // O1: euclidean metric variant (graph.py:24-26)
    "knn_euclidean" -> ((s, d) => knnByMetric("euclidean")(s, d)),
    // O3: manhattan metric variant (graph.py:37-39)
    "knn_manhattan" -> ((s, d) => knnByMetric("manhattan")(s, d)),
    // O4: negated-dot metric variant (graph.py:41-43)
    "knn_dot" -> ((s, d) => knnByMetric("dot_product")(s, d)),
    // A2 metadata join (server.py:170-177) — the metadata store is SPARSE
    // (only even ids carry a JSON document) so the coalesce-to-'{}' parity
    // path is exercised on real missing rows, not just in a spec
    "knn_with_metadata" -> ((s, d) =>
      Knn.knnWithMetadata(
        Tables.embeddings(s, d),
        queryVec(s, d),
        metadata = Tables.embeddings(s, d)
          .where(col("vec_id") % 2 === 0)
          .select(col("vec_id"), to_json(struct(col("label"))).as("metadata")),
        k = 10,
        metric = VectorFunctions.cosine)),
    // batched A2 (generalizes server.py:202-230's sequential loop)
    "knn_batch" -> ((s, d) =>
      Knn.knnBatch(
        Tables.embeddings(s, d),
        queryBatch(s, d),
        k = 10,
        metric = VectorFunctions.cosine)
        .withColumn("rank", col("rank").cast("long"))),
    // extension: predicate + top-k (SURVEY §2.5)
    "filtered_knn" -> ((s, d) =>
      Knn.filteredKnn(
        Tables.embeddings(s, d),
        queryVec(s, d),
        predicate = col("label") === 3,
        k = 10,
        metric = VectorFunctions.cosine)),
    // extension: all within radius (SURVEY §2.5)
    "range_search" -> ((s, d) =>
      Knn.rangeSearch(
        Tables.embeddings(s, d),
        queryVec(s, d),
        radius = 0.75,
        metric = VectorFunctions.cosine)),
    // O9+A3: delete as anti-join (graph.py:191-207)
    "delete" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.delete(emb, emb.where(col("vec_id") % 7 === 0).select(col("vec_id")))
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),
    // O10+A5: stats aggregate (graph.py:209-234)
    "stats" -> ((s, d) => Knn.stats(Tables.embeddings(s, d))),
    // retrieval evaluation: recall@10 / MRR@10 / binary nDCG@10 of the
    // JL-16 reduced-space run against exact full-dim truth per query —
    // the metrics table a projection/index/fusion change is judged by;
    // corpus-size-independent (two k-bounded frames + one equi-join)
    "retrieval_eval" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val truth = Knn.knnBatch(emb, queries, 10, VectorFunctions.cosine)
      val run = Knn.knnBatch(
        Projection.randomProject(emb, 64, 16),
        queries.select(col("query_id"),
          Projection.projectColumn(col("qv"), 64, 16).as("qv")),
        10, VectorFunctions.cosine, vecCol = "rp")
      Ranking.retrievalEval(truth, run, 10)
    }),
    // JL random projection (Rademacher ±1 matrix from md5(i:j) — a pure
    // function of the indices, so any engine restates the same matrix):
    // 64 → 16 dims, long-form scalar face; map-only, no shuffle
    "rp_project" -> ((s, d) =>
      Projection.randomProjectTable(Tables.embeddings(s, d), dIn = 64, dOut = 16)),
    // reduce-then-search: exact cosine top-k in the PROJECTED space (the
    // serving shape where the narrow vectors carry candidate generation)
    "rp_knn" -> ((s, d) =>
      Projection.projectedKnn(
        Tables.embeddings(s, d), queryVec(s, d), dIn = 64, dOut = 16, k = 10)),
    // reduce-then-RERANK (r12): projected-space candidates (top k·8,
    // deterministic cut) -> exact full-dim cosine over only the 80
    // survivors -> top-k. The recommended serving pattern as a first-
    // class oracle key; recall line lives in the reducerecall soak
    "rp_knn_rerank" -> ((s, d) =>
      Projection.projectedKnnRerank(
        Tables.embeddings(s, d), queryVec(s, d),
        dIn = 64, dOut = 16, k = 10, candFactor = 8)),
    // distributed covariance via the bounded Gramian aggregate (one
    // ~dim²/2 buffer per partition on the shuffle, never n·dim² rows)
    "embedding_covariance" -> ((s, d) =>
      Pca.covariance(Tables.embeddings(s, d), dim = 64)),
    // PCA projection: driver-side Jacobi on the collected dim² stats,
    // map-only centered projection through the native matvec; rows-only
    // (eigensolve ≠ one SQL query), PcaSpec-gated
    "pca_project" -> ((s, d) =>
      Pca.pcaProject(Tables.embeddings(s, d), dim = 64, c = 8)),
    // whitening: components scaled by 1/sqrt(eigenvalue) — unit-variance
    // uncorrelated coordinates; rows-only like pca_project, PcaSpec gates
    // projected covariance ≈ identity
    "whiten_project" -> ((s, d) =>
      Pca.whitenProject(Tables.embeddings(s, d), dim = 64, c = 8)),
    // k-center coreset (Gonzalez farthest-point): 6 diverse covering
    // picks + the monotone coverage-radius curve; incremental min-dist
    // map, one narrow pass + 1-row argmax per round
    // integer-exact Lloyd's k-means (r12): the ORACLE-CHECKABLE trainer
    // next to the MLlib-backed IVF (first-k init, micro-unit vectors,
    // integer squared distances, truncating integer means — bit-
    // identical in any engine, unlike every RNG-seeded trainer);
    // 3 unrolled iterations, long-form centroid face + assignment face
    "kmeans_fit" -> ((s, d) =>
      Kmeans.fitFace(Tables.embeddings(s, d), k = 8, iterations = 3)),
    "kmeans_assign" -> ((s, d) =>
      Kmeans.assignFace(Tables.embeddings(s, d), k = 8, iterations = 3)),
    // trained-quantizer ANN with REAL cell pruning (2 of 8 cells) that
    // still hash-matches: deterministic trainer + integer probe ranking
    // + exact rerank — the property the MLlib-RNG path cannot have
    "kmeans_trained_knn" -> ((s, d) =>
      Kmeans.trainedKnn(Tables.embeddings(s, d), queryVec(s, d),
        k = 10, kCells = 8, iterations = 3, nProbe = 2)),
    "coreset_kcenter" -> ((s, d) =>
      Coreset.kCenter(Tables.embeddings(s, d), k = 6)),
    // per-label centroid table (long form: one scalar row per dimension)
    "label_centroids" -> ((s, d) =>
      Embeddings.labelCentroids(Tables.embeddings(s, d))),
    // contrastive-training hard negatives: per anchor, the 10 nearest
    // vectors with a DIFFERENT label — anchors broadcast, bounded
    // graft_topk cut, label join-back against the k×anchors result only
    "hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val anchors = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      Embeddings.hardNegatives(emb, anchors, k = 10)
    }),
    // batch-hard triplets: hardest positive (farthest same label) +
    // hardest negative (nearest different label) per anchor, BOTH folded
    // in one conditional-struct aggregate over a single corpus pass
    "mining_triplets" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val anchors = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      Embeddings.batchHardTriplets(emb, anchors)
    }),
    // ---- text analysis (north-star extension ops) ----
    "token_stats" -> ((s, d) =>
      TextAnalysis.tokenStats(Tables.documents(s, d))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .withColumn("n_unique_tokens", col("n_unique_tokens").cast("long"))
        .withColumn("n_chars", col("n_chars").cast("long"))
        .orderBy(col("doc_id"))),
    "top_tokens" -> ((s, d) => TextAnalysis.topTokens(Tables.documents(s, d), 20)),
    // Okapi BM25 per-doc top terms — lexical relevance / keyword signal
    "bm25_terms" -> ((s, d) => Ranking.bm25TopTerms(Tables.documents(s, d), 3)),
    // hybrid retrieval: BM25 leg + cosine leg fused by reciprocal rank
    // fusion (both legs bounded top-k; fixture id domains align)
    "hybrid_search" -> ((s, d) =>
      Hybrid.rrfHybridSearch(Tables.documents(s, d), Tables.embeddings(s, d))),
    // the batch serving shape: RRF for the 5 lowest doc ids at once,
    // both legs reduced by the bounded graft_topk aggregate
    "hybrid_batch" -> ((s, d) =>
      Hybrid.rrfHybridBatch(Tables.documents(s, d), Tables.embeddings(s, d))),
    "lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // detector calibration: declared lang × predicted lang counts
    "lang_confusion" -> ((s, d) =>
      TextAnalysis.langConfusion(Tables.documents(s, d))),
    // pivot face: per-user wide counts over the closed event-type set
    // (explicit value list = deterministic columns, no discovery scan)
    "user_event_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))),
    // token-budget mixture PLAN: per source, available vs mixture-demanded
    // tokens + the keep fraction and shortfall, all micro-unit integers
    "mixture_plan" -> ((s, d) =>
      TrainingPipeline.mixturePlan(
        Tables.documents(s, d), MixturePlanWeights, MixturePlanBudget)),
    // temperature-smoothed shares (the multilingual balancing rule):
    // p_i ∝ (n_i/N)^τ instead of hand weights, same integer plan
    // arithmetic downstream
    "mixture_temperature" -> ((s, d) =>
      TrainingPipeline.temperaturePlan(
        Tables.documents(s, d), tau = 0.5, tokenBudget = MixturePlanBudget)),
    // length-bucketed padded batches: similar-length docs share a batch,
    // per-batch real padding cost reported; bucket-partitioned window
    "length_batches" -> ((s, d) =>
      Packing.lengthBatches(Tables.documents(s, d),
        bucketWidth = 8, batchSize = 16)),
    // plan → execute → audit, closed loop: apply the plan's integer
    // keep fractions with the portable md5 draw, report realized vs
    // desired tokens per source (deviation in ppm of desired)
    "mixture_audit" -> ((s, d) =>
      TrainingPipeline.mixtureAudit(
        Tables.documents(s, d), MixturePlanWeights, MixturePlanBudget)),
    // curriculum ordering: quality bands descending, deterministic md5
    // shuffle within band, position via the distributed prefix count
    "curriculum_order" -> ((s, d) =>
      TrainingPipeline.curriculumOrder(
        Tables.documents(s, d), nBands = 10, seed = 42L)),
    // per-source curation dashboard: volume, exact-dup exposure
    // (corpus-wide fingerprints), language spread, mean quality
    "source_report" -> ((s, d) =>
      CorpusStats.sourceReport(Tables.documents(s, d))),
    // the one-row data card: the corpus-level rollup of source_report
    "corpus_card" -> ((s, d) =>
      CorpusStats.corpusCard(Tables.documents(s, d))),
    "quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "doc_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // Gopher-style repetition quality signals (dup n-gram fractions +
    // top-token share)
    "repetition_stats" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d))),
    // canonical normalization + fingerprint (pre-dedup cleanup)
    "normalize_text" -> ((s, d) =>
      TextAnalysis.normalized(Tables.documents(s, d)).orderBy(col("doc_id"))),
    // PII scrub over fixture text + a deterministic PII-laden suffix (the
    // fixture corpus itself contains no PII, so the suffix plants a real
    // email / phone / IP per document PLUS the two boundary traps — an
    // over-long dotted quad and an over-long digit run — so the oracle
    // hash-proves both the redactions AND the \b-guarded NON-redactions
    // agree between Java regex (Spark) and RE2 (DuckDB))
    "pii_scrub" -> ((s, d) =>
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
        .orderBy(col("doc_id"))),
    // MOSS winnowing fingerprints (rolling k-gram hash + window minima) —
    // summarized per doc (count/sum/min/max hash-proves the whole set
    // without shipping rows × fingerprints through the verify parquet)
    "winnow_fingerprint" -> ((s, d) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, d), k = 8, w = 4)
        .select(
          col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          expr("aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x)").as("fp_sum"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"))
        .orderBy(col("doc_id"))),
    // corpus-bigram surprisal (LM-style quality signal)
    "bigram_surprisal" -> ((s, d) =>
      TextAnalysis.bigramSurprisal(Tables.documents(s, d))),
    // MOSS near-dup pairs by shared winnowing fingerprints — the
    // rolling-hash dedup flow, on the same gated pair machinery as the
    // shingle paths; integer-arithmetic hashes keep it oracle-checked
    "winnow_pairs" -> ((s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), k = 12, w = 6, minShared = 30)),
    // cross-doc substring duplication coverage (suffix-array-dedup
    // signal): fraction of each doc's distinct char 20-gram hashes that
    // occur in another doc — winnowing with w=1, so same oracle machinery
    "substring_dup" -> ((s, d) =>
      Dedup.substringDupStats(Tables.documents(s, d), k = 20)),
    // DSIR importance resampling (Xie et al. 2023): weight every raw-pool
    // document by how target-like its hashed unigram+bigram bag is
    // (target = src0, raw = everything else); select = the deterministic
    // zero-temperature top-k resample. md5-portable buckets + round-once
    // log weights keep both faces hash-exact.
    "dsir_weights" -> ((s, d) =>
      Dsir.importanceWeights(
        Tables.documents(s, d).where(col("source") =!= "src0"),
        Tables.documents(s, d).where(col("source") === "src0"),
        buckets = 64)),
    "dsir_select" -> ((s, d) =>
      Dsir.selectTop(
        Tables.documents(s, d).where(col("source") =!= "src0"),
        Tables.documents(s, d).where(col("source") === "src0"),
        buckets = 64, k = 50)),
    // the paper's true resample: Gumbel-top-k = k draws WITHOUT
    // replacement from softmax(logw/τ); md5-portable noise keeps it
    // hash-exact
    "dsir_sample" -> ((s, d) =>
      Dsir.gumbelSample(
        Tables.documents(s, d).where(col("source") =!= "src0"),
        Tables.documents(s, d).where(col("source") === "src0"),
        buckets = 64, k = 50, temperature = 2.0)),
    // corpus composition analytics: pairwise cross-source shingle overlap
    // (republished-feed detection) and per-doc first-seen novelty
    "source_overlap" -> ((s, d) =>
      CorpusStats.sourceOverlap(Tables.documents(s, d), n = 3)),
    "ngram_novelty" -> ((s, d) =>
      CorpusStats.ngramNovelty(Tables.documents(s, d), n = 3)),
    // Misra-Gries-pruned EXACT heavy hitters: the sketch only prunes
    // candidates; an exact recount + threshold filter answers, so the
    // output is deterministic and oracle-checked despite the sketch
    "heavy_hitters" -> ((s, d) =>
      Sketches.heavyHitters(Tables.documents(s, d), k = 30)),
    // count-min sketch surfaced as data: md5-portable row hashes make
    // the cell table AND the min-over-rows estimates deterministic, so
    // unlike library sketches this one is oracle-checked; width 32 vs
    // the 31-token vocabulary forces real collisions (overcount > 0)
    "cms_estimates" -> ((s, d) =>
      Sketches.cmsTokenEstimates(Tables.documents(s, d),
        depth = 4, width = 32, topK = 25)),
    // KMV distinct sketch per day: md5-portable draws through the
    // bounded dedup-aware graft_kmin aggregate; the third sketch whose
    // CONTENTS replay in DuckDB (k=64 < the ~130 users/day, so the
    // (k-1)/kth estimator is genuinely estimating, not passing through)
    "kmv_daily_users" -> ((s, d) =>
      Sketches.kmvDailyUsers(Tables.events(s, d), k = 64)),
    // KMV set algebra BETWEEN sources: per-source shingle sketches, then
    // union/Jaccard/intersection estimates per source pair from the
    // merged k-min — the sketched twin of the exact source_overlap
    "kmv_source_overlap" -> ((s, d) =>
      Sketches.kmvSourceOverlap(Tables.documents(s, d), n = 3, k = 64)),
    // fixed-bin histogram quantiles: the portable quantile sketch (GK's
    // summary is engine-internal; this one is exact counts + integer
    // ceil-division crossings, so the estimates hash-match)
    "hist_quantiles" -> ((s, d) =>
      Sketches.histQuantiles(Tables.events(s, d), nBins = 256)),
    // ---- dedup (north-star extension ops) ----
    // deterministic hash sampling — reproducible by construction, so even
    // this "random" split is oracle-checked
    "det_sample" -> ((s, d) =>
      Sampling.deterministicSample(Tables.documents(s, d), "doc_id", 0.25)
        .select(col("doc_id")).orderBy(col("doc_id"))),
    "train_split" -> ((s, d) =>
      Sampling.split(Tables.documents(s, d), "doc_id", 0.8, 0.1, 0.1)
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("split"))),
    // leakage-safe split: assignment keyed on the near-dup CLUSTER id, so
    // a test document can never have a train-side near-duplicate (the
    // contamination mode per-document splits cannot prevent)
    "split_leakage_safe" -> ((s, d) =>
      Sampling.leakageSafeSplit(
        Dedup.dedupClusters(Tables.documents(s, d), n = 3, threshold = 0.3),
        "cluster_id", 0.8, 0.1, 0.1)
        .orderBy(col("doc_id"))),
    // weighted sampling without replacement (Efraimidis–Spirakis
    // exponential race, length-weighted): k per source by the smallest
    // −ln(u)/w keys — bounded graft_topk per group, the knn_batch shape;
    // engine-portable u from the md5 draw, 6-decimal key rounding
    "weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(
        Tables.documents(s, d), "doc_id", "source", "n_chars",
        k = 20, seed = 42L)),
    // domain-mixture sampling: per-source keep fractions (data mixing
    // weights), deterministic by doc_id — report the post-mix composition
    "mixture_sample" -> ((s, d) =>
      Sampling.mixtureSample(
        Tables.documents(s, d), "doc_id", "source",
        weights = Map("src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.25),
        defaultFraction = 0.1)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"))),
    // deterministic global shuffle order (training-order permutation),
    // positions via the distributed prefix count — engine-portable md5
    // sort key, so DuckDB's row_number twin states the same permutation
    "corpus_shuffle" -> ((s, d) =>
      Sampling.shuffledOrder(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", seed = 42L)
        .orderBy(col("doc_id"))),
    // vocabulary construction: dense frequency-ranked token ids via the
    // distributed prefix count (no vocabulary-sized global window)
    "vocab_table" -> ((s, d) =>
      TextAnalysis.vocabTable(Tables.documents(s, d))),
    // BPE merge learning (Sennrich 2016): iterations over the WORD
    // VOCABULARY, never the corpus; deterministic (exact counts, lexical
    // tie-break) but k data-dependent iterations are not one SQL query →
    // rows-only, equality vs an independent reference impl in BpeSpec
    "bpe_merges" -> ((s, d) =>
      graft.operators.Bpe.bpeMerges(Tables.documents(s, d), k = 20)),
    // BPE application at corpus scale: learn 20 merges, then encode every
    // token through them — merge loop per DISTINCT word (broadcast merge
    // list), corpus touched by one explode + equi-join; dense
    // frequency-ranked subword ids via the distributed prefix count.
    // Rows-only like bpe_merges (data-dependent merge list ≠ one SQL);
    // per-token parity vs driver-side encodeWord is BpeSpec-gated
    "bpe_encode" -> ((s, d) =>
      graft.operators.Bpe.learnAndEncode(Tables.documents(s, d), k = 20)),
    // Unigram-LM tokenizer (Kudo 2018, the SentencePiece algorithm):
    // seed → soft-EM (forward–backward expected counts, quantized per
    // word to fixed-point longs so aggregation is partition-invariant)
    // → prune, all over the WORD VOCABULARY (corpus touched once).
    // Data-dependent inventory ≠ one SQL → rows-only; training is
    // equality-gated vs an independent reference impl in UnigramLmSpec
    "unigram_pieces" -> ((s, d) =>
      graft.operators.UnigramLm.trainPieces(Tables.documents(s, d),
        vocabSize = 200)),
    // Unigram-LM application at corpus scale: Viterbi once per DISTINCT
    // word (broadcast piece table), corpus touched by one posexplode +
    // equi-join; rows-only like unigram_pieces (same data-dependent
    // inventory); per-word Viterbi parity is UnigramLmSpec-gated
    "unigram_encode" -> ((s, d) =>
      graft.operators.UnigramLm.learnAndEncode(Tables.documents(s, d),
        vocabSize = 200)),
    // FIXED-inventory encode faces (r11): the learned-inventory keys
    // above are rows-only because training is not one SQL query — but
    // ENCODING with a fixed inventory is deterministic string/integer
    // work, so these two run the same corpus encode with a hardcoded
    // merge list / (piece, integer-score) model and hash-match a DuckDB
    // twin that re-derives the per-distinct-word segmentation via a
    // recursive CTE (the dedup_clusters precedent)
    "bpe_encode_fixed" -> ((s, d) =>
      graft.operators.Bpe.encodeCorpus(Tables.documents(s, d), FixedMerges)),
    "unigram_encode_fixed" -> ((s, d) =>
      graft.operators.UnigramLm.encodeCorpusWithModel(
        Tables.documents(s, d), FixedUnigramModel)),
    // perplexity-filter face: per-document total/mean Viterbi log-prob
    // under the SAME fixed model, in exact micro-nat integers
    "unigram_doc_quality" -> ((s, d) =>
      graft.operators.UnigramLm.docQualityWithModel(
        Tables.documents(s, d), FixedUnigramModel)),
    // third tokenizer branch, fixed-vocab face: greedy longest-match
    // WordPiece encode ([UNK] on any unmatchable position) — pure
    // string work, so oracle-checked like the other _fixed faces
    "wordpiece_encode_fixed" -> ((s, d) =>
      graft.operators.WordPiece.encodeCorpusWithVocab(
        Tables.documents(s, d), FixedWordPieceVocab)),
    // learned likelihood-scored merge list — data-dependent iterations,
    // so rows-only like bpe_merges (WordPieceSpec gates equality vs an
    // independent reference on both gate paths)
    "wordpiece_merges" -> ((s, d) =>
      graft.operators.WordPiece.wordpieceMerges(Tables.documents(s, d), k = 20)),
    // vocabulary application: every token encoded as its frequency-ranked
    // id, corpus frequency < 2 → OOV id 0; the min-count cut removes an
    // order suffix so surviving ids stay a dense 1..V' prefix
    "tokenize_corpus" -> ((s, d) =>
      TextAnalysis.tokenizeCorpus(Tables.documents(s, d), minCount = 2L)),
    // overlapping token-window chunking (RAG/context ingestion): 16-token
    // windows at stride 12 → 4-token overlap; map-only, oracle-checked
    "chunk_documents" -> ((s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d), width = 16, stride = 12)),
    // passage-level exact dedup (RefinedWeb-style span scrubbing): keep
    // only the globally-first occurrence of each 3-token passage and
    // reassemble the scrubbed text; 3-token windows over the fixtures'
    // ~40-word vocabulary actually collide across docs, so n_kept <
    // n_passages is exercised for real
    "passage_dedup" -> ((s, d) =>
      Dedup.passageDedup(Tables.documents(s, d), passageTokens = 3)),
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d)).orderBy(col("keeper_id"))),
    // incremental ingest: docs with id < 250 are "history", the rest are
    // the new batch; survivors = new content not seen before
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incremental(
        docs.where(col("doc_id") >= 250),
        docs.where(col("doc_id") < 250)
          .select(TextAnalysis.fingerprint(col("text")).as("fingerprint")))
    }),
    // Bloom-prefiltered incremental dedup (the runtime-filter pattern):
    // definite-negative new docs bypass the anti-join exchange via a
    // map-only might_contain probe; output EXACT (the filter only drops
    // provably-absent rows), so it hash-checks against the same oracle
    // as dedup_incremental
    "dedup_incremental_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalBloom(
        docs.where(col("doc_id") >= 250),
        docs.where(col("doc_id") < 250)
          .select(TextAnalysis.fingerprint(col("text")).as("fingerprint")),
        expectedItems = 100000L, fpp = 0.01)
    }),
    // corpus snapshot diff (data versioning): added/removed/changed by
    // content fingerprint between two derived versions of the fixture
    "corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.where(col("doc_id") < 400)
      val v2 = docs.where(col("doc_id") >= 100)
        .select(col("doc_id"),
          when(col("doc_id") % 50 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.operators.Versioning.snapshotDiff(v1, v2)
    }),
    // near-dup similarity HISTOGRAM: the distribution of pairwise
    // Jaccard above a low floor, 20 bins — the diagnostic a dedup
    // threshold is tuned against (the fixture reads bimodal: background
    // phrase-sharing mass in bin 0, the near-dup mass at 18-19, and the
    // threshold belongs in the valley); same pair machinery + one agg
    "similarity_histogram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, threshold = 0.02)
        .select(least(floor(col("jaccard") * 20).cast("long"), lit(19L))
          .as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .orderBy(col("bin"))),
    // sorted-neighborhood blocking: content-independent candidate count
    // (n·(window−1) pairs from one rank-keyed self-join), exact verify
    "dedup_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, d),
        n = 3, window = 4, threshold = 0.3)),
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, threshold = 0.3)),
    // pairs -> GROUPS: transitive near-dup clusters (connected components,
    // min-id labels); deterministic, oracle-checked vs a recursive CTE
    "dedup_clusters" -> ((s, d) =>
      Dedup.dedupClusters(Tables.documents(s, d), n = 3, threshold = 0.3)),
    // edit-distance near-dups (>=5 shared shingles + banded levenshtein)
    "fuzzy_pairs" -> ((s, d) =>
      Dedup.editDistancePairs(Tables.documents(s, d), n = 3, maxDist = 60,
        minShared = 5)),
    "embedding_neardup" -> ((s, d) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, d), threshold = 0.5, dim = 64)),
    // SemDeDup semantic dedup (cluster + within-cluster lower-id prune);
    // eps chosen so the fixture corpus actually splits (61/500 dropped
    // at sf0.01) — deterministic centroids make it oracle-checkable
    "semantic_dedup" -> ((s, d) =>
      SemanticDedup.semanticDedup(Tables.embeddings(s, d), eps = 0.65,
        nCentroids = 16)),
    // ---- mutation-log fold (Raft's WHAT: SURVEY §2.4) ----
    "mutations_fold" -> ((s, d) =>
      Mutations.apply(Mutations.demoLog(Tables.embeddings(s, d)))),
    // the SAME fold replayed incrementally through a bucket-partitioned
    // StateTable (r15) — seq-tier batches, partition-pruned reads,
    // stage-then-commit partition replace; shares mutations_fold's
    // oracle, which makes the state-table machinery itself an
    // oracle-checked surface, not just a spec/soak-gated one
    "mutations_fold_table" -> ((s, d) =>
      Mutations.applyViaStateTable(
        Mutations.demoLog(Tables.embeddings(s, d)),
        java.nio.file.Files.createTempDirectory("fold-table").toString)),
    // TIME-TRAVEL face (r16): the whole log folds through the table,
    // the read resolves the RETAINED generation two tiers in — i.e.
    // after the overwrite phase but before the delete phase. The
    // oracle replays only `seq < 2000000`, so the manifest-retention
    // machinery (readAt against a superseded manifest whose files a
    // later commit dropped) is what the hash checks.
    "mutations_fold_at" -> ((s, d) =>
      Mutations.applyViaStateTableAsOf(
        Mutations.demoLog(Tables.embeddings(s, d)),
        java.nio.file.Files.createTempDirectory("fold-at").toString,
        keepTiers = 2)),
    // ---- relational / time-series coverage ----
    "pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "revenue_by_nation" -> ((s, d) => Relational.revenueByNation(s, d)),
    "top_orders_per_customer" -> ((s, d) => Relational.topOrdersPerCustomer(s, d)),
    "events_hourly" -> ((s, d) => Relational.hourlyEvents(s, d)),
    "user_sessions" -> ((s, d) => Relational.userSessions(s, d)),
    // rolling event-time features: per event, the same user's strictly-
    // prior-hour count/value via a RANGE frame on exact microseconds
    "rolling_user_activity" -> ((s, d) => Relational.rollingUserActivity(s, d)),
    "event_prop_stats" -> ((s, d) => Relational.eventPropStats(s, d)),
    // binned range join — equi-join shaped, never a nested-loop cross
    // product; binning only prunes, so it is oracle-checked against the
    // naive BETWEEN join
    "range_join_windows" -> ((s, d) => Relational.eventsInMaintenanceWindows(s, d)),
    // single-pass data-profiling report (ingest pre-flight)
    "profile_events" -> ((s, d) =>
      Profiling.profile(
        Tables.events(s, d).withColumn("value", round(col("value"), 4)),
        Seq("event_id", "user_id", "event_type", "value"))),
    // The engine-internal HLL/GK sketch keys (sketch_daily_users,
    // sketch_value_quantiles) were RETIRED from the driver contract in
    // r12: their estimates are engine-internal (datasketches/GK state
    // is not oracle-restatable by design), the operators stay fully
    // spec-gated in SketchesSpec (5%-of-exact + quantile-band), and the
    // PORTABLE oracle-checked sketches (kmv_daily_users, hist_quantiles,
    // cms_estimates) carry the same curation signals in the contract —
    // so the permanent no_oracle noise bought nothing.
    // O5-O8 approximate path: partitioned HNSW build + broadcast probe.
    // No oracle entry (approximate results can't hash-match SQL) — the
    // driver records a rows-only check; recall@10 >= 0.9 is gated in
    // HnswSparkSpec instead (SURVEY §4.2 determinism rule).
    "hnsw_knn" -> ((s, d) => {
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
    "hnsw_knn_resident" -> ((s, d) => {
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
    "hnsw_knn_refreshed" -> ((s, d) => {
      HnswSpark.searchResident(s, refreshedFor(s, d), queryBatch(s, d),
        k = 10, ef = Some(60000))
        .orderBy(col("query_id"), col("distance"), col("vec_id"))
    }),
    // SQ8-compressed resident ANN (r14, the DiskANN composition,
    // Subramanya et al. 2019): the graph is built on full precision,
    // the SERVING copy stores one byte per dim + per-vector (min, max)
    // (~7× smaller vector payload, soak-measured), traversal runs on
    // decoded-on-the-fly distances, and the exact rerank joins the
    // bounded candidates back to the corpus frame. At exhaustive ef
    // with a corpus-covering candFactor the rerank restores the exact
    // top-k — hash-checked like hnsw_knn_refreshed; the operating-point
    // recall is gated in HnswSq8Spec and the 1M soak
    "hnsw_sq8_knn" -> ((s, d) => {
      HnswSpark.searchResidentRerank(s, sq8For(s, d), Tables.embeddings(s, d),
        queryBatch(s, d), k = 10, candFactor = 50, ef = Some(60000))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // the PQ-coded step past SQ8 on the same axis (r14): m one-byte
    // codes per vector against shard-local books, traversal = m table
    // lookups per hop; the exhaustive-ef + corpus-covering-rerank
    // answer is exact REGARDLESS of codebook quality, so the face
    // hash-checks while the books stay local float k-means
    "hnsw_pq_knn" -> ((s, d) => {
      HnswSpark.searchResidentRerank(s, pqFor(s, d), Tables.embeddings(s, d),
        queryBatch(s, d), k = 10, candFactor = 50, ef = Some(60000))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // Predicate-filtered ANN on the resident path: the in-traversal
    // filtered beam search (pool admits only passing ids, beam expands
    // until it holds ef of them) — rows-only like hnsw_knn; recall vs
    // the exact filtered twin is gated per-selectivity in
    // HnswFilteredSpec. Predicate: even vec_ids (the knn_with_metadata
    // fixture's "has metadata" population).
    "hnsw_knn_filtered" -> ((s, d) => {
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
    "hnsw_sq8_knn_filtered" -> ((s, d) => {
      HnswSpark.searchResidentRerank(s, sq8For(s, d), Tables.embeddings(s, d),
        queryBatch(s, d), k = 10, candFactor = 50, ef = Some(60000),
        allow = Some((id: Long) => id % 2 == 0))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "hnsw_pq_knn_filtered" -> ((s, d) => {
      HnswSpark.searchResidentRerank(s, pqFor(s, d), Tables.embeddings(s, d),
        queryBatch(s, d), k = 10, candFactor = 50, ef = Some(60000),
        allow = Some((id: Long) => id % 2 == 0))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // IVF ANN — deterministic centroids (lowest 16 ids), 4 probed cells;
    // fully reproducible in SQL, so oracle-checked despite being "ANN"
    "ivf_knn" -> ((s, d) =>
      Ivf.knn(Tables.embeddings(s, d), queryVec(s, d),
        k = 10, nCentroids = 16, nProbe = 4, metric = VectorFunctions.cosine)),
    // TRAINED-centroid IVF (MLlib spherical k-means, seeded): the
    // production quantizer — k-means RNG is engine-internal, so rows-only
    // like hnsw_knn; recall vs exact (and vs deterministic IVF at equal
    // probe) is gated in IvfTrainedSpec
    "ivf_trained_knn" -> ((s, d) =>
      IvfTrained.knn(Tables.embeddings(s, d), queryVec(s, d), ivfModelFor(s, d),
        k = 10, nProbe = 4, metric = VectorFunctions.cosine)),
    // EXACT top-k served through the trained quantizer: seed-probe for a
    // kth-best bound τ, prune cells the triangle-inequality radius bound
    // proves top-k-free, rerank survivors exactly. Output is the global
    // exact top-10 BY CONSTRUCTION (model quality only affects pruning),
    // so the oracle is the plain exact k-NN — this hash-checks the whole
    // trained train→assign→probe→rerank path cross-engine
    "ivf_trained_knn_exact" -> ((s, d) =>
      IvfTrained.knnExact(Tables.embeddings(s, d), queryVec(s, d),
        ivfModelFor(s, d), k = 10, nProbeSeed = 4)),
    // the BATCH exact-through-the-quantizer serving shape: per-query τ,
    // radius-bound cell pruning and rerank as declarative frames — no
    // driver-side per-query actions; same knnBatch output face
    "ivf_trained_knn_batch_exact" -> ((s, d) => {
      IvfTrained.knnExactBatch(Tables.embeddings(s, d), queryBatch(s, d),
        ivfModelFor(s, d), k = 10, nProbeSeed = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // k-NN graph over the whole embedding table (IVF-bucketed candidate
    // generation, never corpus×corpus; cosine as 1−dot on pre-normalized
    // vectors — one array pass per candidate pair) — deterministic, so
    // oracle-checked
    "knn_graph" -> ((s, d) =>
      knnGraphFor(s, d).orderBy(col("src_id"), col("rank"))),
    // incremental-refresh proof in the contract (r12, the
    // hnsw_knn_refreshed pattern): build on the corpus MINUS a held-out
    // slice (never the 16 centroid ids), refresh with the slice as the
    // adds — the refreshed edges must hash-match the SAME from-scratch
    // oracle SQL as knn_graph, so the merge/full-recompute split is
    // gated by the oracle hash check, not just the parity spec
    "knn_graph_refreshed" -> ((s, d) => {
      val full = Tables.embeddings(s, d)
      val st = Ivf.knnGraphBuild(full.where(!heldSlice),
        k = 5, nCentroids = 16, nProbe = 4)
      Ivf.knnGraphRefresh(st,
        adds = full.where(heldSlice).select(col("vec_id"), col("embedding")),
        removes = full.select(col("vec_id")).limit(0),
        k = 5, nCentroids = 16, nProbe = 4)
        .getOrElse(sys.error("held-slice delta must refresh, not rebuild"))
        .state.edges.orderBy(col("src_id"), col("rank"))
    }),
    // the SAME refresh driven through the bucketed state tables (r16):
    // init on the corpus minus the held slice, one delta-driven
    // table-native refresh (manifest-pruned reads, exact-diff bucket
    // rewrites, append-only inverted index), read the edges back from
    // disk — must hash-match the identical from-scratch oracle SQL, so
    // the whole KnnGraphTables machinery is driver-gated
    "knn_graph_tables_refreshed" -> ((s, d) => {
      val full = Tables.embeddings(s, d)
      // each rep copies the memoized base directory so the REFRESH (the
      // machinery the key gates) still runs per rep against pristine
      // pre-delta tables
      val dir = java.nio.file.Files
        .createTempDirectory("graph-tables-face").toString
      copyDirRecursive(graphTablesBaseFor(s, d), dir)
      KnnGraphTables.refresh(s, dir,
        adds = full.where(heldSlice).select(col("vec_id"), col("embedding")),
        removes = full.select(col("vec_id")).limit(0))
        .getOrElse(sys.error("held-slice delta must refresh, not rebuild"))
      KnnGraphTables.readState(s, dir)
        .edges.orderBy(col("src_id"), col("rank"))
    }),
    // ANN-graph health diagnostics: mutual-edge reciprocity + in-degree
    // hub extreme over the same deterministic kNN graph — edge list
    // persisted once, mutual count = equi-join against its own reversal,
    // single integer-exact output row (oracle wraps the knn_graph SQL)
    "knn_graph_stats" -> ((s, d) =>
      Ivf.knnGraphStatsFromEdges(knnGraphFor(s, d))),
    // triangle census (degree-ordered orientation — wedge join bounded
    // on hubs) over the same shared graph: transitivity next to the
    // reciprocity diagnostic, integer-exact except one rounded ratio
    "triangle_stats" -> ((s, d) =>
      GraphOps.triangleStats(knnGraphFor(s, d))),
    // damped PageRank over the same deterministic kNN graph — join-based
    // power iteration in INTEGER micro-units (fixed-point discipline), so
    // the 5-iteration fixed chain hash-matches the unrolled oracle CTEs
    "pagerank" -> ((s, d) =>
      GraphOps.pageRank(knnGraphFor(s, d), iterations = 5)),
    // personalized variant: teleport and initial mass only on the 5-seed
    // query set — scores are proximity-with-authority to the seeds (the
    // expand-from-known-good curation primitive); same integer chain
    "pagerank_personalized" -> ((s, d) => {
      val seeds = Tables.embeddings(s, d)
        .where(col("vec_id") < 5).select(col("vec_id"))
      GraphOps.personalizedPageRank(knnGraphFor(s, d), seeds, iterations = 5)
    }),
    // semi-supervised label spreading: 10% of vectors keep their true
    // label as clamped seeds; everyone else takes the majority label of
    // its k nearest neighbors per iteration (ties -> smaller label) —
    // all integer counts/compares, so the run is oracle-checked
    "label_propagation" -> ((s, d) => {
      val seeds = Tables.embeddings(s, d)
        .where(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("label"))
      GraphOps.labelPropagation(knnGraphFor(s, d), seeds, iterations = 5)
    }),
    // SQ8 scalar quantization: deterministic encode, so both the
    // per-vector error stats and the asymmetric-distance search are
    // oracle-checkable (unlike most quantizers)
    "sq8_stats" -> ((s, d) => Quantization.sq8Stats(Tables.embeddings(s, d))),
    "sq8_knn" -> ((s, d) =>
      Quantization.sq8Knn(Tables.embeddings(s, d), queryVec(s, d), k = 10)),
    // 1-bit sign quantization: per-vector-mean threshold (sequential
    // double sum, identical in both engines), LSB-first 32-bit words —
    // integer packing and Hamming make the whole family oracle-exact
    "bq_stats" -> ((s, d) =>
      BinaryQuantization.bqStats(Tables.embeddings(s, d), dim = 64)),
    // two-stage ANN: Hamming scan over the 32x-compressed codes keeps 80
    // candidates, exact cosine rerank over only those emits the top 10 —
    // deterministic end to end, so oracle-checked unlike the HNSW keys
    "bq_knn" -> ((s, d) =>
      BinaryQuantization.bqKnn(Tables.embeddings(s, d), queryVec(s, d),
        k = 10, candFactor = 8)),
    // BQ→SQ8 two-stage (r12): Hamming prefilter to 80 survivors, SQ8
    // asymmetric euclidean rerank over ONLY their 8×-compressed codes —
    // the 1M bqrecall curve's guidance as a first-class face; no
    // full-precision vector is touched at query time
    "bq_sq8_knn" -> ((s, d) =>
      BinaryQuantization.bqSq8Knn(Tables.embeddings(s, d), queryVec(s, d),
        k = 10, candFactor = 8)),
    // batch twin: per-query Hamming candidate cut via the bounded
    // graft_topk aggregate (map-side heaps), exact rerank over only the
    // bounded candidate frame — the knnBatch shape on packed codes
    "bq_knn_batch" -> ((s, d) =>
      BinaryQuantization.bqKnnBatch(Tables.embeddings(s, d), queryBatch(s, d),
        k = 10, candFactor = 8)),
    // integer-exact PQ (r13): per-subspace Lloyd codebooks under the
    // kmeans_fit discipline (first-k init, micro longs, truncating
    // means), ADC shortlist in exact integer micro², cosine rerank —
    // the first PQ path whose WHOLE answer (training + codes + ADC cut)
    // hash-matches a SQL replay; 16× compression with fine ranking, the
    // within-cluster resolution the 1M BQ measurement showed is missing
    "pq_knn" -> ((s, d) =>
      ProductQuantization.exactAdcKnn(Tables.embeddings(s, d), queryVec(s, d),
        dim = 64, m = 4, kSub = 8, iterations = 2, k = 10, candFactor = 8)),
    // batch twin: codes once, per-query integer ADC tables, rank ≤ k
    "pq_knn_batch" -> ((s, d) =>
      ProductQuantization.exactAdcKnnBatch(Tables.embeddings(s, d),
        queryBatch(s, d),
        dim = 64, m = 4, kSub = 8, iterations = 2, k = 10, candFactor = 8)),
    // residual (IVF-)PQ (r13): coarse cells absorb the cluster
    // structure, codebooks quantize the RESIDUAL x − centroid(x) — the
    // within-cluster resolution flat PQ/BQ structurally lack (the 1M
    // curves) — probe 2 of 4 cells, per-cell integer ADC tables, exact
    // rerank; training, codes, pruning, AND distances all hash-check
    "ivfpq_knn" -> ((s, d) =>
      ProductQuantization.residualAdcKnn(Tables.embeddings(s, d),
        queryVec(s, d), dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2, nProbe = 2, k = 10, candFactor = 8)),
    // batch twin: model + codes once, per-query probe cells + per-cell
    // integer tables, rank ≤ k
    "ivfpq_knn_batch" -> ((s, d) =>
      ProductQuantization.residualAdcKnnBatch(Tables.embeddings(s, d),
        queryBatch(s, d), dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2, nProbe = 2, k = 10, candFactor = 8)),
    // the JOIN-SHAPED bulk scorer under the same oracle: its O(1)-plan
    // partial-table join must reproduce the leg face's rows exactly —
    // here the DuckDB replay checks that directly
    "ivfpq_knn_bulk" -> ((s, d) => {
      val emb0 = Tables.embeddings(s, d)
      val rm = ProductQuantization.fitResidual(emb0, dim = 64,
        kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2)
      ProductQuantization.residualAdcKnnBulk(emb0,
        ProductQuantization.encodeResidual(emb0, rm), rm,
        queryBatch(s, d), nProbe = 2, k = 10, candFactor = 8)
    }),
    // OPQ (r14): a seeded-sign Walsh–Hadamard rotation (orthonormal,
    // ±1/√dim entries — engine-exact ordered sums) in front of the SAME
    // residual IVF-PQ chain; rotation, training, codes, pruning and
    // rerank ALL hash-check. The data-dependent parametric OPQ (PCA
    // eigenbasis + eigenvalue allocation) is the spec-gated library
    // face Opq.opqPcaKnn, soak-measured at 1M (the pca_project class)
    "opq_knn" -> ((s, d) =>
      graft.operators.Opq.opqKnn(Tables.embeddings(s, d),
        queryVec(s, d), dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2, nProbe = 2, k = 10, candFactor = 8)),
    "opq_knn_batch" -> ((s, d) =>
      graft.operators.Opq.opqKnnBatch(Tables.embeddings(s, d),
        queryBatch(s, d), dim = 64, kCoarse = 4, coarseIters = 2,
        m = 4, kSub = 8, pqIters = 2, nProbe = 2, k = 10, candFactor = 8)),
    // multimodal: binary payloads + native-function features (oracle-checked)
    "media_stats" -> ((s, d) =>
      Multimodal.binaryStats(Multimodal.synthesizeMediaTable(Tables.documents(s, d)))),
    // multimodal: REAL header parsing — the image fixture table carries
    // genuine PNG/JPEG/GIF byte streams whose header-encoded dimensions
    // derive from doc_id, so the decoder must actually parse the bytes
    // while the oracle states the expected output in closed form. md5 and
    // the stub embedding (Spark-side only) are dropped from the checked
    // face: PNG's IHDR CRC32 is not restatable in DuckDB SQL.
    "media_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        s, Multimodal.synthesizeImageTable(s, Tables.documents(s, d)),
        Multimodal.HeaderDecoder)
        .drop("embedding", "content_md5")
        .orderBy(col("media_id"))),
    // audio twin of media_features: real RIFF/WAVE header parsing over
    // WAV fixtures whose fields derive from doc_id (closed-form oracle)
    "media_audio" -> ((s, d) =>
      Multimodal.extractAudioFeatures(
        s, Multimodal.synthesizeAudioTable(s, Tables.documents(s, d)))),
    // REAL sample-level audio decode (r8): the tone fixtures carry actual
    // 16-bit PCM words from a closed-form sawtooth; Spark reads every
    // sample for per-channel peak / energy / zero-crossing statistics,
    // the oracle evaluates the same formulas per generated sample index
    "media_audio_samples" -> ((s, d) =>
      Multimodal.extractAudioSampleStats(
        s, Multimodal.synthesizeToneAudioTable(s, Tables.documents(s, d)))),
    // sequency-domain audio analysis: Walsh–Hadamard coefficients over
    // the first 64 decoded PCM frames — the ±1 basis keeps the whole
    // spectrum-shape computation exact integers, so unlike an FFT face
    // it is oracle-checkable; dominant_k = largest |W_k|, ties smaller k
    "media_audio_walsh" -> ((s, d) =>
      Multimodal.extractAudioWalsh(
        s, Multimodal.synthesizeToneAudioTable(s, Tables.documents(s, d)))),
    // windowed twin (r12): the 64-frame Walsh window hopped across the
    // WHOLE clip, per-bin |coefficient| sum + max across windows — the
    // full-clip sequency-energy profile (music/speech/silence signal),
    // still exact integers end to end
    "media_audio_walsh_windows" -> ((s, d) =>
      Multimodal.extractAudioWalshWindows(
        s, Multimodal.synthesizeToneAudioTable(s, Tables.documents(s, d)))),
    // MP3 (MPEG-1 Layer III) framing: 4-byte headers walked frame by
    // frame — bitrate/sample-rate/channel-mode/padding and the derived
    // frame length off REAL byte streams (every 13th truncated)
    "media_audio_mp3" -> ((s, d) =>
      graft.operators.Mp3.extractMp3Info(
        s, graft.operators.Mp3.synthesizeMp3Table(s, Tables.documents(s, d)))),
    // what crawls ACTUALLY carry (r14): ID3v2-tagged, Xing/Info-VBR,
    // MPEG-1/2/2.5 streams — per-stream rollup over a fixture that
    // plants all three populations (r13 quarantined every one of them)
    "media_audio_mp3_vbr" -> ((s, d) =>
      graft.operators.Mp3.extractMp3StreamStats(
        s, graft.operators.Mp3.synthesizeMp3VbrTable(s, Tables.documents(s, d)))),
    // the full ISO layer matrix + Fraunhofer VBRI (r15): Layer I's
    // 384-sample frames in 4-byte slots, Layer II's 1152 samples at
    // every version, the layer-specific bitrate tables (MPEG-2 Layers
    // II/III share theirs), and the VBRI header at its fixed 32-byte
    // offset on the MPEG-1 Layer III slice
    "media_audio_mp3_layers" -> ((s, d) =>
      graft.operators.Mp3.extractMp3LayerStats(
        s, graft.operators.Mp3.synthesizeMp3LayersTable(s, Tables.documents(s, d)))),
    // fragmented MP4 (DASH/HLS captures): moof/traf/tfhd/tfdt/trun walk
    // with the trex default cascade — per-fragment sample counts, byte
    // and duration totals, decode-time baselines off REAL fragmented
    // byte streams (every 13th planted-truncated → quarantined)
    "media_video_fragments" -> ((s, d) =>
      graft.operators.Fmp4.extractFragments(
        s, graft.operators.Fmp4.synthesizeFmp4Table(s, Tables.documents(s, d)))),
    // muxed DASH twin (r14): every moof interleaves a video traf and an
    // audio traf — one row per (fragment, track), each traf honoring
    // its OWN tfhd→trex default cascade and per-track decode-time
    // baseline (r13 quarantined multi-traf; this round decodes it)
    "media_video_fragment_tracks" -> ((s, d) =>
      graft.operators.Fmp4.extractFragments(
        s, graft.operators.Fmp4.synthesizeFmp4MuxTable(s, Tables.documents(s, d)))),
    // compressed-audio framing: ADTS (raw .aac) 7-byte fixed headers
    // walked frame by frame — object type, sample rate, channel config,
    // frame sizes off REAL ADTS byte streams (every 13th planted-
    // truncated → quarantined); closed-form oracle like the H.264 strata
    "media_audio_adts" -> ((s, d) =>
      graft.operators.Adts.extractAdtsInfo(
        s, graft.operators.Adts.synthesizeAdtsTable(s, Tables.documents(s, d)))),
    // per-stream rollup: frame/byte totals + exact integer-microsecond
    // duration (1024 PCM samples per AAC frame)
    "media_audio_adts_stats" -> ((s, d) =>
      graft.operators.Adts.adtsStreamStats(
        s, graft.operators.Adts.synthesizeAdtsTable(s, Tables.documents(s, d)))),
    // video twin: real MP4 box walk (ftyp → moov → mvhd) over fixtures
    // whose timescale/duration derive from doc_id (closed-form oracle)
    "media_video" -> ((s, d) =>
      Multimodal.extractVideoFeatures(
        s, Multimodal.synthesizeVideoTable(s, Tables.documents(s, d)))),
    // REAL ISO BMFF sample-table decode (r11): stts/stss/stsz/stco walked
    // per track; sample counts, byte totals, duration, mean bitrate,
    // codec-level decode: profile/level/resolution parsed from the REAL
    // Exp-Golomb SPS bitstream inside avcC (incl. emulation-prevention
    // unescaping and the 4:2:0 crop arithmetic); every 13th payload
    // truncated -> quarantine by absence
    "media_video_codec" -> ((s, d) =>
      graft.operators.H264.extractCodecInfo(
        s, graft.operators.H264.synthesizeAvcTable(s, Tables.documents(s, d)))),
    // PPS decode (r12): picture-level coding tools parsed from the REAL
    // §7.3.2.2 bitstream in avcC's PPS array — entropy mode (CABAC vs
    // CAVLC ~ decode-compute class), FMO slice-group count, default
    // ref-list sizes, weighted prediction, init QP (negative se(v)
    // codes exercised), deblocking/intra/redundancy flags; same
    // truncation quarantine channel as the SPS face
    "media_video_pps" -> ((s, d) =>
      graft.operators.H264.extractPpsInfo(
        s, graft.operators.H264.synthesizeAvcTable(s, Tables.documents(s, d)))),
    // SEI decode (r12): the §7.3.2.3 message chain read from the first
    // length-prefixed stream sample in mdat — recovery-point random-
    // access signals + encoder-fingerprint UUIDs (the ff-escaped
    // type/size walk, payload-level Exp-Golomb, typed NULLs for
    // fields outside a message's type)
    "media_video_sei" -> ((s, d) =>
      graft.operators.H264.extractSeiInfo(
        s, graft.operators.H264.synthesizeAvcTable(s, Tables.documents(s, d)))),
    // slice-header decode (r13): §7.3.3 leading fields off every slice
    // NAL in the mdat stream, parsed under the SAME payload's SPS bit
    // widths — the real I/P/B GOP cadence (slice_type per Table 7-6,
    // frame_num, poc_lsb, idr_pic_id) that media_video_samples could
    // only approximate from stss keyframe flags; same truncation
    // quarantine channel
    "media_video_slices" -> ((s, d) =>
      graft.operators.H264.extractSliceInfo(
        s, graft.operators.H264.synthesizeAvcTable(s, Tables.documents(s, d)))),
    // keyframe density and chunking are exact integers the oracle states
    // in closed form (every fifth doc carries a second track exercising
    // uniform-stsz / single-run-stts / absent-stss)
    "media_video_samples" -> ((s, d) =>
      Multimodal.extractVideoSampleStats(
        s, Multimodal.synthesizeVideoSampleTable(s, Tables.documents(s, d)))),
    // corpus-level video curation profile over the sample-table decode:
    // tracks bucket by decoded display height (sd/ed/hd; width 0 =
    // no-display), per-bucket byte volume + bitrate/keyframe stats;
    // planted truncation at doc_id % 11 == 0 exercises the corrupt
    // quarantine channel for real — one map-only pass + one aggregate
    "media_video_profile" -> ((s, d) =>
      Multimodal.videoSampleProfile(
        s, Multimodal.synthesizeVideoSampleTable(s, Tables.documents(s, d),
          corruptEvery = Some(11)))),
    // aspect-preserving resize metadata over the parsed dimensions
    "media_resize" -> ((s, d) =>
      Multimodal.resizeMeta(
        Multimodal.extractFeatures(
          s, Multimodal.synthesizeImageTable(s, Tables.documents(s, d)),
          Multimodal.HeaderDecoder),
        maxSide = 256)
        .orderBy(col("media_id"))),
    // REAL pixel decode (inflate IDAT → unfilter → accumulate): the
    // fixture PNGs carry genuine deflated pixel data whose values derive
    // from doc_id in closed form, so the oracle states per-channel
    // sums/extrema arithmetically while Spark must actually decompress
    "media_pixel_stats" -> ((s, d) =>
      Multimodal.extractPixelStats(
        s, Multimodal.synthesizePixelImageTable(s, Tables.documents(s, d)))),
    // corpus-level media profile over a fixture with planted corruption
    // (doc_id % 17 truncated to 5 bytes): the parsers' quarantine channel
    // becomes the corrupt count, per-format dimension stats + aspect
    // outliers are closed-form for the oracle
    "media_profile" -> ((s, d) =>
      Multimodal.mediaProfile(
        s, Multimodal.synthesizeMixedImageTable(s, Tables.documents(s, d)))),
    // time-based-media curation profile (r8): WAV/MP4 mixed fixture with
    // planted 5-byte truncation at doc_id % 13; real header parses give
    // exact integer durations, the corrupt channel, and ≥30 s outliers
    "media_av_profile" -> ((s, d) =>
      Multimodal.avMediaProfile(
        s, Multimodal.synthesizeMixedAvTable(s, Tables.documents(s, d)))),
    // REAL GIF pixel decode (LZW decompression + palette lookup): the
    // fixture GIFs carry genuine LZW-compressed index streams whose
    // palette and indices derive from doc_id in closed form
    "media_gif_pixel_stats" -> ((s, d) =>
      Multimodal.extractGifPixelStats(
        s, Multimodal.synthesizePixelGifTable(s, Tables.documents(s, d)))),
    // REAL baseline JPEG pixel decode (Huffman + dequant + IDCT + YCbCr,
    // ITU-T T.81 from scratch): the fixture JPEGs carry genuine
    // entropy-coded scans of constant 8x8 blocks — DC-only with q(DC)=8,
    // so reconstruction is exact and the oracle states the decoded RGB
    // statistics from the block formulas + the floor(x+0.5) JFIF
    // conversion (identical double expressions both engines)
    "media_jpeg_pixel_stats" -> ((s, d) =>
      Multimodal.extractJpegPixelStats(
        s, Multimodal.synthesizePixelJpegTable(s, Tables.documents(s, d)))),
    // MinHash+LSH / SimHash driver faces (r14): the md5-portable
    // pipelines whose WHOLE answer hash-checks in DuckDB — signatures,
    // band joins, verification and all. The xxhash64 fast paths
    // (Dedup.minhashLshPairs / simhashPairs, one-pass native
    // expressions) remain the library throughput route, recall- and
    // property-gated in DedupSpec incl. parity against these twins —
    // the dedup_incremental_bloom dual-path precedent.
    "minhash_lsh_portable" -> ((s, d) =>
      Dedup.minhashLshPairsPortable(Tables.documents(s, d),
        n = 3, numHashes = 16, bands = 4, threshold = 0.3)),
    "simhash_signatures_portable" -> ((s, d) =>
      Dedup.simhashChunksPortable(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    "simhash_pairs_portable" -> ((s, d) =>
      Dedup.simhashPairsPortable(Tables.documents(s, d), maxHamming = 3)),
    // A4's failure accounting: a deterministically-corrupted batch
    // (vec_id % 13 == 0 truncated to 32 dims) validated against dim=64
    "batch_insert_validation" -> ((s, d) => {
      val batch = Tables.embeddings(s, d).withColumn(
        "embedding",
        when(col("vec_id") % 13 === 0, slice(col("embedding"), 1, 32))
          .otherwise(col("embedding")))
      SearchApi.validationReport(batch, dim = 64)
    }),
    // set operations (union/intersect/except — absent in the reference,
    // SURVEY §2.5; first-class here)
    "customer_setops" -> ((s, d) => Relational.customerSetOps(s, d)),
    // ROLLUP with subtotals + grand total
    "revenue_rollup" -> ((s, d) => Relational.revenueRollup(s, d)),
    // video-style frame sampling over binary payloads (oracle via the
    // ASCII text twin of the synthesized binary)
    "media_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.synthesizeMediaTable(Tables.documents(s, d)),
        frameBytes = 256, every = 2)
        .withColumn("frame_idx", col("frame_idx").cast("long"))),
    // scalar-function + join-type coverage
    "string_funcs" -> ((s, d) => Relational.stringFunctions(s, d)),
    "date_parts" -> ((s, d) => Relational.dateParts(s, d)),
    "semi_anti_join" -> ((s, d) => Relational.semiAntiJoins(s, d)),
    // as-of join (most recent strictly-prior click per purchase)
    "asof_purchase_clicks" -> ((s, d) => Relational.asofPurchaseClicks(s, d)),
    // strict-sequence funnel: view → click → purchase, each stage's time
    // strictly after the previous stage's
    "funnel_conversion" -> ((s, d) =>
      Behavior.funnel(Tables.events(s, d), Seq("view", "click", "purchase"))),
    // weekly cohort retention triangle over first-event cohorts
    "cohort_retention" -> ((s, d) =>
      Behavior.cohortRetention(Tables.events(s, d))),
    // composed training-data pipeline: dedup -> quality -> lang -> budget
    "training_pipeline" -> ((s, d) =>
      TrainingPipeline.select(s, d, minQuality = 0.4, lang = "en", tokenBudget = 10000L)),
    // the same flow with the SemDeDup stage between token-level dedup
    // and admission (embedding id domain aligns with doc ids)
    "semantic_pipeline" -> ((s, d) =>
      TrainingPipeline.selectSemantic(s, d, minQuality = 0.4, lang = "en",
        tokenBudget = 10000L, eps = 0.65, nCentroids = 16)),
    // benchmark decontamination: src0 documents play the held-out eval
    // set; training docs (all other sources) sharing any word 4-gram with
    // it are flagged — exact inverted-index scan, oracle-checked
    "decontamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontamination.scan(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        n = 4)
    }),
    // EDIT-ROBUST decontamination: winnow fingerprints instead of word
    // n-grams (catches lightly-paraphrased benchmark leakage the n-gram
    // scan misses); same src0-as-benchmark convention, oracle-checked
    "winnow_decontamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontamination.winnowScan(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        k = 12, w = 6, minShared = 30)
    }),
    // SEMANTIC decontamination: the embedding-space leak scan — src0
    // docs' embeddings play the benchmark (aligned id domains), training
    // vectors within cosine eps of any benchmark vector are flagged
    "semantic_decontamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val benchIds = docs.where(col("source") === "src0")
        .select(col("doc_id").as("vec_id"))
      Decontamination.semanticScan(
        emb.join(benchIds, Seq("vec_id"), "left_anti"),
        emb.join(broadcast(benchIds), Seq("vec_id")),
        eps = 0.68)
    }),
    // INCREMENTAL decontamination: odd doc_ids play the newly-arrived
    // batch, scanned against the persisted benchmark fingerprint index
    // alone — per-doc scores depend only on (doc fps × index), so the
    // rows equal the batch scan's odd-id subset (also spec-gated with a
    // parquet round-trip of the index)
    "winnow_decontamination_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val index = Decontamination.winnowIndex(
        docs.where(col("source") === "src0"), k = 12, w = 6)
      Decontamination.winnowScanAgainst(
        docs.where(col("source") =!= "src0" && col("doc_id") % 2 === 1),
        index, minShared = 30, k = 12, w = 6)
    }),
    // concatenate-and-chunk sequence packing manifest (2048-token
    // windows) — distributed prefix sum, oracle-checked against DuckDB's
    // window twin
    "pack_sequences" -> ((s, d) =>
      Packing.packSequences(Tables.documents(s, d), seqLen = 2048)),
    // shuffled-order packing: the corpus_shuffle permutation composed
    // into the packing manifest (train on shuffled order, not crawl
    // order) — same prefix-sum machinery, different order columns
    "pack_shuffled" -> ((s, d) =>
      Packing.packSequences(Tables.documents(s, d), seqLen = 2048,
        order = Seq(
          md5(concat(col("doc_id").cast("string"), lit(":42"))),
          col("doc_id")))),
    // Morton (Z-order) clustering codes over (user_id, day) — the
    // codegen'd InterleaveBits expression, bit-reproduced in the oracle
    "zorder_codes" -> ((s, d) => {
      // integer division, NOT floor(double /): a double quotient near an
      // exact integer can round up across the day boundary where DuckDB's
      // `//` (exact int division) does not. Negative epochs (pre-1970 ts)
      // are also engine-consistent: Spark `div` and DuckDB 1.0 integer `//`
      // BOTH truncate toward zero (verified: -7 div 2 = -7 // 2 = -3), so
      // the day bucket agrees on such fixtures too — by the same
      // truncation rule, not by floor.
      val day = expr("unix_micros(ts) div 86400000000")
      Tables.events(s, d)
        .where(col("event_id") < 20000)
        .select(
          col("event_id"),
          col("user_id").cast("long").as("user_id"),
          day.as("day"),
          VectorFunctions.zorder(col("user_id"), day).as("zcode"))
        .orderBy(col("event_id"))
    }),
  )

  // ---- DuckDB oracle SQL -------------------------------------------------

  private object Sql {
    val E = "embeddings"
    /** The full knn_graph oracle SELECT — also wrapped as a CTE by
      * knn_graph_stats, so both keys stay in lockstep by construction. */
    lazy val knnGraph: String =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${Sql.E}),
           |nvt AS (SELECT vec_id,
           |  CASE WHEN ${Sql.norm("v")} = 0 THEN v
           |       ELSE list_transform(v, x -> x / ${Sql.norm("v")}) END AS nv
           |FROM e),
           |c AS (SELECT vec_id AS cent_id, nv AS cv FROM nvt
           |      WHERE vec_id IN (SELECT vec_id FROM ${Sql.E} ORDER BY vec_id LIMIT 16)),
           |cd AS (SELECT nvt.vec_id, c.cent_id,
           |  round(1.0 - ${Sql.dot("nvt.nv", "c.cv")}, 6) + 0.0 AS qd
           |  FROM nvt CROSS JOIN c),
           |ranked AS (SELECT vec_id, cent_id,
           |  row_number() OVER (PARTITION BY vec_id ORDER BY qd, cent_id) AS rn
           |  FROM cd),
           |probes AS (SELECT vec_id AS src_id, cent_id FROM ranked WHERE rn <= 4),
           |assigned AS (SELECT vec_id AS nbr_id, cent_id FROM ranked WHERE rn = 1),
           |cand AS (SELECT p.src_id, a.nbr_id
           |  FROM probes p JOIN assigned a USING (cent_id)
           |  WHERE a.nbr_id <> p.src_id),
           |d AS (SELECT cand.src_id, cand.nbr_id,
           |  round(1.0 - ${Sql.dot("es.nv", "en.nv")}, 6) + 0.0 AS distance
           |  FROM cand
           |  JOIN nvt es ON es.vec_id = cand.src_id
           |  JOIN nvt en ON en.vec_id = cand.nbr_id)
           |SELECT src_id, nbr_id, distance, rank FROM (
           |  SELECT src_id, nbr_id, distance,
           |    row_number() OVER (PARTITION BY src_id ORDER BY distance, nbr_id) AS rank
           |  FROM d)
           |WHERE rank <= 5
           |ORDER BY src_id, rank""".stripMargin
    /** The dedup_clusters recursive-CTE chain (3-gram Jaccard ≥ 0.3
      * near-dup pairs → transitive closure → min-id labels), ending in a
      * `clusters(doc_id, cluster_id)` CTE. Shared by dedup_clusters and
      * split_leakage_safe so the clustering the split is keyed on cannot
      * drift from the clustering the dedup key checks. Callers prepend
      * `WITH RECURSIVE `.
      */
    lazy val clusterCtes: String =
      s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh0 AS (SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - 2, 1)),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
         |sh AS (SELECT doc_id, len(ss) AS n_shingles, unnest(ss) AS shingle FROM sh0),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.n_shingles AS sa, b.n_shingles AS sb, count(*) AS common
         |  FROM sh a JOIN sh b USING (shingle)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
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
    lazy val simhashPortableCtes: String = {
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
    def dot(a: String, b: String): String =
      s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"
    def norm(a: String): String =
      s"sqrt(list_sum(list_transform($a, x -> x * x)))"
    def dist(metric: String, a: String, b: String): String = metric match {
      case "euclidean" =>
        s"sqrt(list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))))"
      case "manhattan" =>
        s"list_sum(list_transform(list_zip($a, $b), p -> abs(p[1] - p[2])))"
      case "dot_product" => s"-${dot(a, b)}"
      case "cosine" =>
        s"CASE WHEN ${norm(a)} * ${norm(b)} = 0 THEN 1.0 " +
          s"ELSE 1.0 - ${dot(a, b)} / (${norm(a)} * ${norm(b)}) END"
    }
    /** WITH clause providing q(qv) = the vec_id-0 embedding as DOUBLE[]. */
    val withQ = s"WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM $E WHERE vec_id = 0)"
    /** Unrolled integer-exact PageRank over the knn_graph edges — one
      * (contrib, rank) CTE pair per iteration, every op integral `//`,
      * mirroring GraphOps.pageRank's `div` chain term for term.
      */
    def pageRankSql(
        iterations: Int, scale: Long, dampNum: Long, dampDen: Long,
        seedPred: Option[String] = None): String = {
      val teleNum = scale * (dampDen - dampNum)
      // the seed predicate gates where initial mass and teleport land;
      // the global walk seeds every node (TRUE folds the CASE away)
      val pred = seedPred.getOrElse("TRUE")
      val iterCtes = (1 to iterations).flatMap { i =>
        Seq(
          s"""c$i AS (SELECT g.nbr_id AS dst, CAST(sum(r${i - 1}.r // o.odeg) AS BIGINT) AS inc
             |  FROM g JOIN r${i - 1} ON r${i - 1}.node_id = g.src_id
             |  JOIN odeg o ON o.src_id = g.src_id GROUP BY g.nbr_id)""".stripMargin,
          s"""r$i AS (SELECT node_id,
             |  CASE WHEN $pred THEN (CAST($teleNum AS BIGINT) // $dampDen) // n
             |       ELSE CAST(0 AS BIGINT) END
             |    + (coalesce(c$i.inc, CAST(0 AS BIGINT)) * $dampNum) // $dampDen AS r
             |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = nodes.node_id)""".stripMargin)
      }
      (Seq(
        s"WITH g AS (SELECT src_id, nbr_id FROM ($knnGraph))",
        "nodes AS (SELECT DISTINCT src_id AS node_id FROM g)",
        s"nn AS (SELECT count(*) AS n FROM nodes WHERE $pred)",
        "odeg AS (SELECT src_id, count(*) AS odeg FROM g GROUP BY src_id)",
        s"""r0 AS (SELECT node_id,
           |  CASE WHEN $pred THEN CAST($scale AS BIGINT) // n
           |       ELSE CAST(0 AS BIGINT) END AS r
           |  FROM nodes CROSS JOIN nn)""".stripMargin) ++
        iterCtes).mkString(",\n") +
        s"""
           |SELECT node_id AS vec_id, r AS pr_micro,
           |  round(r / $scale.0, 6) + 0.0 AS pr
           |FROM r$iterations ORDER BY vec_id""".stripMargin
    }
    /** Exact per-query top-10 over the 5-query batch — shared by
      * knn_batch and the provably-exact trained-IVF batch twin.
      */
    lazy val batchKnnSql: String =
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM $E WHERE vec_id < 5),
         |pairs AS (
         |  SELECT q.query_id, e.vec_id,
         |         round(${dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
         |  FROM $E e, q),
         |ranked AS (
         |  SELECT query_id, vec_id, distance,
         |         row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
         |  FROM pairs)
         |SELECT query_id, vec_id, distance, rank FROM ranked WHERE rank <= 10""".stripMargin
    /** [[batchKnnSql]] restricted to the even-id population — the
      * filtered compressed-resident faces' oracle (the same "has
      * metadata" predicate hnsw_knn_filtered uses).
      */
    lazy val batchKnnFilteredSql: String =
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM $E WHERE vec_id < 5),
         |pairs AS (
         |  SELECT q.query_id, e.vec_id,
         |         round(${dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
         |  FROM $E e, q WHERE e.vec_id % 2 = 0),
         |ranked AS (
         |  SELECT query_id, vec_id, distance,
         |         row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
         |  FROM pairs)
         |SELECT query_id, vec_id, distance, rank FROM ranked WHERE rank <= 10""".stripMargin
    /** Exact top-10 over the FOLDED post-mutation table — the
      * hnsw_knn_refreshed oracle. The fold restates the key's
      * closed-form mutation batch: deletes win over overwrites (later
      * seq), overwrites carry the negated embedding (negation is exact
      * in both engines), held-out rows insert under 1000000 + vec_id.
      * At exhaustive ef the refreshed resident probe is exact over the
      * live graph, so the ANN key hash-matches this.
      */
    lazy val refreshedKnnSql: String =
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
    /** Count of tokens (in `toks`) that are stopwords of `lang` — built from
      * the same lists the Scala side uses, so they cannot drift.
      */
    def swHits(lang: String): String = {
      val list = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($list)))"
    }
    def langScoreSql(lang: String): String =
      s"round(${swHits(lang)}::DOUBLE / greatest(len(toks), 1), 6)"
    def knnSql(metric: String): String =
      s"""$withQ
         |SELECT e.vec_id, round(${dist(metric, "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
         |FROM $E e, q
         |ORDER BY distance, vec_id
         |LIMIT 10""".stripMargin
    /** CTE chain ending in `assigned(vec_id, nv, cent_id)`: the
      * deterministic SemDeDup normalize + centroid assignment, shared by
      * the semantic_dedup and semantic_pipeline oracles so the two
      * cannot drift.
      */
    val semanticAssignedCtes: String =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $E),
         |nv AS (SELECT vec_id,
         |  CASE WHEN ${norm("v")} = 0 THEN v
         |       ELSE list_transform(v, x -> x / ${norm("v")}) END AS nv
         |FROM e),
         |cents AS (SELECT vec_id AS cent_id, nv AS cv
         |  FROM nv ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, nv, cent_id FROM (
         |    SELECT nv.vec_id, nv.nv, c.cent_id,
         |           row_number() OVER (
         |             PARTITION BY nv.vec_id
         |             ORDER BY round(1.0 - ${dot("nv.nv", "c.cv")}, 6) + 0.0, c.cent_id) AS rn
         |    FROM nv CROSS JOIN cents c)
         |  WHERE rn = 1)""".stripMargin
    /** EXISTS clause: row `a` of `assigned` has a lower-id same-cluster
      * vector within cosine distance 0.65.
      */
    val semanticDupExists: String =
      s"""EXISTS (
         |    SELECT 1 FROM assigned b
         |    WHERE b.cent_id = a.cent_id AND b.vec_id < a.vec_id
         |      AND round(1.0 - ${dot("a.nv", "b.nv")}, 6) + 0.0 <= 0.65)""".stripMargin
    /** The full training-pipeline oracle SQL, parameterized by an
      * optional extra CTE block (inserted after `t`, must end with a
      * trailing comma handled here) and an optional extra predicate on
      * the `filtered` stage — shared by training_pipeline and
      * semantic_pipeline so the quality/lang/budget formulas cannot
      * drift between the twins.
      */
    def pipelineSql(extraCtes: String, extraFilteredPred: String): String =
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

    /** CTEs `sqdec(vec_id, v, vmin, vmax, vh)`: SQ8 encode + decode with the
      * exact arithmetic Quantization.sq8Encode/sq8DecodeCol use — every
      * step is deterministic IEEE, so the oracle reproduces codes exactly.
      */
    /** Packed 1-bit sign codes over the corpus — LSB-first 32-bit words,
      * per-vector sequential-sum mean threshold; the `<<` build keeps
      * every partial value integer. Mirrors BinaryQuantization.bqEncode.
      */
    val bqWordsCtes: String =
      s"""bqe AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $E),
         |bqm AS (SELECT vec_id, v, list_sum(v) / len(v) AS mu FROM bqe),
         |bqw AS (SELECT vec_id,
         |  list_transform(range(0, 2), w ->
         |    CAST(list_sum(list_transform(range(0, 32),
         |      j -> CASE WHEN w * 32 + j < len(v) AND v[w * 32 + j + 1] > mu
         |           THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS words
         |  FROM bqm)""".stripMargin
    /** Unrolled label propagation over the knn_graph edges — majority of
      * out-neighbor labels per iteration (ties to the smaller label via
      * the row_number order), seeds clamped; mirrors
      * GraphOps.labelPropagation's aggregate argmax term for term.
      */
    def labelPropSql(iterations: Int, seedWhere: String): String = {
      val iterCtes = (1 to iterations).flatMap { i =>
        Seq(
          s"""v$i AS (SELECT g.src_id AS node_id, l.lab AS nl, count(*) AS cnt
             |  FROM g JOIN l${i - 1} l ON l.node_id = g.nbr_id
             |  WHERE l.lab >= 0 GROUP BY 1, 2)""".stripMargin,
          s"""b$i AS (SELECT node_id, nl FROM (SELECT node_id, nl,
             |  row_number() OVER (PARTITION BY node_id ORDER BY cnt DESC, nl ASC) AS rn
             |  FROM v$i) WHERE rn = 1)""".stripMargin,
          s"""l$i AS (SELECT p.node_id,
             |  CASE WHEN p.is_seed THEN p.lab
             |       WHEN b.nl IS NOT NULL THEN b.nl ELSE p.lab END AS lab,
             |  p.is_seed
             |  FROM l${i - 1} p LEFT JOIN b$i b ON b.node_id = p.node_id)""".stripMargin)
      }
      (Seq(
        s"WITH g AS (SELECT src_id, nbr_id FROM ($knnGraph))",
        "nodes AS (SELECT DISTINCT src_id AS node_id FROM g)",
        s"""seeds AS (SELECT node_id, min(slabel) AS slabel FROM (
           |  SELECT vec_id AS node_id, CAST(label AS BIGINT) AS slabel
           |  FROM $E WHERE ($seedWhere) AND label >= 0) GROUP BY node_id)""".stripMargin,
        s"""l0 AS (SELECT n.node_id, coalesce(s.slabel, CAST(-1 AS BIGINT)) AS lab,
           |  s.slabel IS NOT NULL AS is_seed
           |  FROM nodes n LEFT JOIN seeds s ON s.node_id = n.node_id)""".stripMargin) ++
        iterCtes).mkString(",\n") +
        s"""
           |SELECT node_id AS vec_id, lab AS label
           |FROM l$iterations ORDER BY vec_id""".stripMargin
    }
    val sq8Ctes: String =
      s"""sqe AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  list_min(embedding::DOUBLE[]) AS vmin, list_max(embedding::DOUBLE[]) AS vmax FROM $E),
         |sqc AS (SELECT vec_id, v, vmin, vmax,
         |  CASE WHEN vmax = vmin THEN list_transform(v, x -> 0)
         |       ELSE list_transform(v, x -> CAST(floor((x - vmin) / (vmax - vmin) * 255.0 + 0.5) AS INT))
         |  END AS codes FROM sqe),
         |sqdec AS (SELECT vec_id, v, vmin, vmax,
         |  list_transform(codes, c -> vmin + c / 255.0 * (vmax - vmin)) AS vh FROM sqc)""".stripMargin
  }

  lazy val oracleSql: Map[String, String] = Map(
    "profile_events" -> {
      // CAST sums to BIGINT (DuckDB integer sums are HUGEINT — the r1
      // type-parity lesson); value rounded upstream so min/max render
      // identically as strings in both engines
      def one(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM e""".stripMargin
      s"""WITH e AS (SELECT event_id, user_id, event_type, round(value, 4) AS value FROM events)
         |${Seq("event_id", "user_id", "event_type", "value").map(one).mkString("\nUNION ALL\n")}
         |ORDER BY "column"""".stripMargin
    },
    "range_join_windows" ->
      """WITH t0s AS (
        |  SELECT event_type, min(epoch_us(ts)) AS t0 FROM events GROUP BY event_type),
        |ivs AS (
        |  SELECT event_type, k, t0 + k * 21600000000 AS w_start,
        |         t0 + k * 21600000000 + 3600000000 AS w_end
        |  FROM t0s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)),
        |ev AS (SELECT event_type, epoch_us(ts) AS t_us, value FROM events)
        |SELECT i.event_type, CAST(i.k AS BIGINT) AS k,
        |  count(*) AS n_events, round(sum(ev.value), 4) AS sum_value
        |FROM ev JOIN ivs i
        |  ON ev.event_type = i.event_type
        | AND ev.t_us >= i.w_start AND ev.t_us < i.w_end
        |GROUP BY i.event_type, i.k
        |ORDER BY i.event_type, k""".stripMargin,
    "det_sample" ->
      s"""SELECT doc_id FROM documents
         |WHERE ${Sampling.oracleSamplePredicate("doc_id", 0.25)}
         |ORDER BY doc_id""".stripMargin,
    "mixture_sample" ->
      s"""SELECT source, count(*) AS n FROM documents
         |WHERE ${Sampling.oracleMixturePredicate("doc_id", "source",
             Map("src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.25), 0.1)}
         |GROUP BY source
         |ORDER BY source""".stripMargin,
    "weighted_sample" ->
      Sampling.oracleWeightedSampleSql(
        "documents", "doc_id", "source", "n_chars", k = 20, seed = 42L),
    "train_split" ->
      s"""SELECT split, count(*) AS n FROM (
         |  SELECT ${Sampling.oracleSplitCase("doc_id", 0.8, 0.1, 0.1)} AS split
         |  FROM documents)
         |GROUP BY split
         |ORDER BY split""".stripMargin,
    "corpus_shuffle" ->
      s"""SELECT doc_id, row_number() OVER (
         |  ORDER BY ${Sampling.oracleShuffleHash("doc_id", 42L)}, doc_id) AS pos
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "vocab_table" ->
      """WITH c AS (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token)
        |SELECT token,
        |  row_number() OVER (ORDER BY n DESC, token) AS token_id, n
        |FROM c
        |ORDER BY token_id""".stripMargin,
    // same vocab CTE as vocab_table, ranked AFTER the n >= 2 cut (the
    // cut removes an order suffix, so the ids equal the uncut prefix)
    // per-distinct-word BPE merge application as a recursive state
    // machine (mi = merge index, rem = input symbols, out = emitted):
    // one symbol consumed per recursion row, rem-empty advances to the
    // next merge, final segmentation = rem at mi = |merges| + 1. The
    // merge VALUES list mirrors SparkEntry.FixedMerges verbatim.
    "bpe_encode_fixed" ->
      """WITH RECURSIVE
        |words AS (
        |  SELECT DISTINCT tok AS word FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |    WHERE text IS NOT NULL)
        |  WHERE len(tok) > 0),
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
        |wcount AS (
        |  SELECT tok AS word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |    WHERE text IS NOT NULL)
        |  WHERE len(tok) > 0 GROUP BY tok),
        |subfreq AS (
        |  SELECT sub, sum(cnt) AS n FROM (
        |    SELECT f.word, unnest(f.subwords) AS sub FROM final f) s
        |  JOIN wcount w ON s.word = w.word
        |  GROUP BY sub),
        |ids AS (
        |  SELECT sub, row_number() OVER (ORDER BY n DESC, sub) AS subword_id
        |  FROM subfreq),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks
        |      FROM t),
        |tok AS (SELECT doc_id, CAST(p - 1 AS INTEGER) AS pos, toks[p] AS word
        |        FROM e WHERE len(toks[p]) > 0),
        |ex AS (SELECT tok.doc_id, tok.pos, f.subwords
        |       FROM tok JOIN final f ON tok.word = f.word),
        |sub AS (SELECT doc_id, pos,
        |          unnest(generate_series(1, len(subwords))) AS sp, subwords
        |        FROM ex)
        |SELECT s.doc_id, s.pos, CAST(s.sp - 1 AS INTEGER) AS spos,
        |  s.subwords[s.sp] AS subword, i.subword_id
        |FROM sub s JOIN ids i ON s.subwords[s.sp] = i.sub
        |ORDER BY doc_id, pos, spos""".stripMargin,
    // greedy longest-match WordPiece: best piece per (word, position)
    // precomputed OUTSIDE the recursion (windows allowed there), then a
    // recursive walk follows pos += matched length; words whose walk
    // never reaches the end void to [UNK] — the whole-word rule. The
    // vocab VALUES render from SparkEntry.FixedWordPieceVocab.
    "wordpiece_encode_fixed" -> {
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
         |wcount AS (
         |  SELECT tok AS word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
         |    WHERE text IS NOT NULL)
         |  WHERE len(tok) > 0 GROUP BY tok),
         |subfreq AS (
         |  SELECT s.piece, sum(w.cnt) AS n
         |  FROM segs s JOIN wcount w ON s.word = w.word
         |  GROUP BY s.piece),
         |ids AS (
         |  SELECT piece, row_number() OVER (ORDER BY n DESC, piece) AS subword_id
         |  FROM subfreq),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |      FROM documents WHERE text IS NOT NULL),
         |e AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks
         |      FROM t),
         |tok AS (SELECT doc_id, CAST(p - 1 AS INTEGER) AS pos, toks[p] AS word
         |        FROM e WHERE len(toks[p]) > 0)
         |SELECT tok.doc_id, tok.pos, CAST(s.spos AS INTEGER) AS spos,
         |  s.piece AS subword, i.subword_id
         |FROM tok
         |JOIN segs s ON s.word = tok.word
         |JOIN ids i ON i.piece = s.piece
         |ORDER BY doc_id, pos, spos""".stripMargin
    },
    // per-distinct-word Viterbi as a recursive DP: each row carries the
    // full DP table as a list of (s, n, prev, via) structs; candidates
    // are built by list_transform over the ≤6 admissible starts, scored
    // from the inline model MAP (integer scores: exact double sums both
    // engines), and the (−s, n, via) struct sort IS the tie rule.
    // Backtrack is a second recursion over prev. Model VALUES mirror
    // SparkEntry.FixedUnigramModel; floor = −17 for off-model singles.
    "unigram_encode_fixed" ->
      (s"""WITH RECURSIVE $UnigramFixedCtes
        |SELECT tok.doc_id, tok.pos, CAST(wp.spos AS INTEGER) AS spos,
        |  wp.piece, coalesce(m.piece_id, 0) AS piece_id
        |FROM tok JOIN wpieces wp ON tok.word = wp.word
        |LEFT JOIN mids m ON wp.piece = m.piece
        |ORDER BY doc_id, pos, spos""").stripMargin,
    // the SAME segmentation CTEs, summed per document in micro-nat
    // integers (floor = min score - 10 = -17 nats for off-model singles)
    "unigram_doc_quality" ->
      (s"""WITH RECURSIVE $UnigramFixedCtes,
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
        |ORDER BY doc_id""").stripMargin,
    "tokenize_corpus" ->
      """WITH c AS (
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
        |ORDER BY doc_id, pos""".stripMargin,
    "chunk_documents" ->
      """WITH toks AS (
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
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "passage_dedup" ->
      """WITH toks AS (
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
        |ORDER BY np.doc_id""".stripMargin,
    "sq8_stats" ->
      s"""WITH ${Sql.sq8Ctes},
         |err AS (SELECT vec_id, vmin, vmax,
         |  list_transform(list_zip(v, vh), p -> abs(p[1] - p[2])) AS errs FROM sqdec)
         |SELECT vec_id, round(vmin, 6) AS vmin, round(vmax, 6) AS vmax,
         |  round(list_sum(errs) / len(errs), 6) + 0.0 AS mean_abs_err,
         |  round(list_max(errs), 6) + 0.0 AS max_abs_err
         |FROM err
         |ORDER BY vec_id""".stripMargin,
    "sq8_knn" ->
      s"""${Sql.withQ},
         |${Sql.sq8Ctes}
         |SELECT d.vec_id,
         |  round(sqrt(list_sum(list_transform(list_zip(d.vh, q.qv),
         |    p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) + 0.0 AS distance
         |FROM sqdec d, q
         |ORDER BY distance, vec_id
         |LIMIT 10""".stripMargin,
    // per-word popcount face of the packed sign codes — all integer
    // columns, so the hash is exact by construction
    "bq_stats" ->
      s"""WITH ${Sql.bqWordsCtes},
         |ex AS (SELECT vec_id, CAST(idx.w AS BIGINT) AS word_idx, words[idx.w + 1] AS word
         |  FROM bqw CROSS JOIN (SELECT unnest(range(0, 2)) AS w) idx)
         |SELECT vec_id, word_idx, word,
         |  CAST(bit_count(word) AS BIGINT) AS n_set
         |FROM ex
         |ORDER BY vec_id, word_idx""".stripMargin,
    // two-stage twin: Hamming candidate cut (ties by vec_id), exact
    // cosine rerank over the survivors only — deterministic integers up
    // to the final rounded distance
    "bq_knn" ->
      s"""WITH ${Sql.bqWordsCtes},
         |q AS (SELECT embedding::DOUBLE[] AS qv FROM ${Sql.E} WHERE vec_id = 0),
         |qm AS (SELECT qv, list_sum(qv) / len(qv) AS mu FROM q),
         |qw AS (SELECT
         |  list_transform(range(0, 2), w ->
         |    CAST(list_sum(list_transform(range(0, 32),
         |      j -> CASE WHEN w * 32 + j < len(qv) AND qv[w * 32 + j + 1] > mu
         |           THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS qwords
         |  FROM qm),
         |ham AS (SELECT bqw.vec_id,
         |  CAST(list_sum(list_transform(list_zip(bqw.words, qw.qwords),
         |    p -> bit_count(xor(p[1], p[2])))) AS BIGINT) AS hamming
         |  FROM bqw, qw),
         |cand AS (SELECT vec_id, hamming FROM ham ORDER BY hamming, vec_id LIMIT 80)
         |SELECT c.vec_id, c.hamming,
         |  round(${Sql.dist("cosine", "e.v", "q.qv")}, 6) + 0.0 AS distance
         |FROM cand c JOIN bqe e ON e.vec_id = c.vec_id, q
         |ORDER BY distance, c.vec_id
         |LIMIT 10""".stripMargin,
    // the BQ→SQ8 composition: the SAME Hamming cut, then the SQ8
    // asymmetric euclidean (decoded codes vs full query) replayed from
    // the shared sq8 CTEs — survivors only
    "bq_sq8_knn" ->
      s"""WITH ${Sql.bqWordsCtes},
         |${Sql.sq8Ctes},
         |q AS (SELECT embedding::DOUBLE[] AS qv FROM ${Sql.E} WHERE vec_id = 0),
         |qm AS (SELECT qv, list_sum(qv) / len(qv) AS mu FROM q),
         |qw AS (SELECT
         |  list_transform(range(0, 2), w ->
         |    CAST(list_sum(list_transform(range(0, 32),
         |      j -> CASE WHEN w * 32 + j < len(qv) AND qv[w * 32 + j + 1] > mu
         |           THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS qwords
         |  FROM qm),
         |ham AS (SELECT bqw.vec_id,
         |  CAST(list_sum(list_transform(list_zip(bqw.words, qw.qwords),
         |    p -> bit_count(xor(p[1], p[2])))) AS BIGINT) AS hamming
         |  FROM bqw, qw),
         |cand AS (SELECT vec_id, hamming FROM ham ORDER BY hamming, vec_id LIMIT 80)
         |SELECT c.vec_id, c.hamming,
         |  round(sqrt(list_sum(list_transform(list_zip(d.vh, q.qv),
         |    p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) + 0.0 AS distance
         |FROM cand c JOIN sqdec d ON d.vec_id = c.vec_id, q
         |ORDER BY distance, c.vec_id
         |LIMIT 10""".stripMargin,
    // batch twin: per-query Hamming cut (ties by vec_id — the same
    // order graft_topk's heap uses), exact rerank, rank per query
    "bq_knn_batch" ->
      s"""WITH ${Sql.bqWordsCtes},
         |qb AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM ${Sql.E} WHERE vec_id < 5),
         |qbm AS (SELECT query_id, qv, list_sum(qv) / len(qv) AS mu FROM qb),
         |qbw AS (SELECT query_id,
         |  list_transform(range(0, 2), w ->
         |    CAST(list_sum(list_transform(range(0, 32),
         |      j -> CASE WHEN w * 32 + j < len(qv) AND qv[w * 32 + j + 1] > mu
         |           THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS qwords
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
         |ORDER BY query_id, rank""".stripMargin,
    // integer-exact PQ: one prefixed Lloyd CTE chain per subspace (the
    // kmeans_fit unrolling, composed 4×), integer ADC tables from the
    // query's micro slices, deterministic shortlist cut, cosine rerank
    "pq_knn" -> ProductQuantization.exactOracleSql(Sql.E, 64, 4, 8, 2,
      k = 10, candFactor = 8, (a, b) => Sql.dist("cosine", a, b)),
    "pq_knn_batch" -> ProductQuantization.exactBatchOracleSql(Sql.E, 64, 4, 8, 2,
      k = 10, candFactor = 8, (a, b) => Sql.dist("cosine", a, b)),
    // residual PQ: the coarse Lloyd chain feeds a residual source CTE
    // (micro − final centroid); per-subspace chains train FROM it; the
    // query gets per-(cell, code) integer tables; members cut by probe
    "ivfpq_knn" -> ProductQuantization.residualOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b)),
    "ivfpq_knn_batch" -> ProductQuantization.residualBatchOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b)),
    // the bulk face answers the SAME question — one replay checks both
    // plan shapes
    "ivfpq_knn_bulk" -> ProductQuantization.residualBatchOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b)),
    // OPQ: the residual-PQ replay run against a rotation CTE — the
    // seeded-sign Hadamard matrix restated per (i, j), ascending-j sums
    "opq_knn" -> graft.operators.Opq.opqOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b)),
    "opq_knn_batch" -> graft.operators.Opq.opqBatchOracleSql(Sql.E, 64,
      kCoarse = 4, coarseIters = 2, m = 4, kSub = 8, pqIters = 2,
      nProbe = 2, k = 10, candFactor = 8,
      (a, b) => Sql.dist("cosine", a, b)),
    // normalize-first twin of Ivf.knnGraph: distances are 1 − dot on
    // L2-normalized vectors in BOTH engines, so the 6-decimal rounding is
    // bit-identical (the same pattern embedding_neardup's oracle proves)
    "knn_graph" -> Sql.knnGraph,
    // refresh ≡ rebuild: the refreshed graph answers to the identical
    // from-scratch closed form
    "knn_graph_refreshed" -> Sql.knnGraph,
    // the table-native refresh shares the from-scratch graph oracle
    "knn_graph_tables_refreshed" -> Sql.knnGraph,
    // graph diagnostics wrap the SAME knn-graph SQL as a CTE: mutual
    // edges by EXISTS on the reversed pair, in-degree max by grouped
    // count — one integer-exact row plus the rounded reciprocity
    "knn_graph_stats" ->
      s"""WITH g AS (${Sql.knnGraph})
         |SELECT n_nodes, n_edges, n_mutual,
         |  round(CAST(n_mutual AS DOUBLE) / n_edges, 6) + 0.0 AS reciprocity,
         |  max_in_degree
         |FROM (SELECT
         |  (SELECT count(DISTINCT src_id) FROM g) AS n_nodes,
         |  (SELECT count(*) FROM g) AS n_edges,
         |  (SELECT count(*) FROM g a WHERE EXISTS (
         |     SELECT 1 FROM g b
         |     WHERE b.src_id = a.nbr_id AND b.nbr_id = a.src_id)) AS n_mutual,
         |  (SELECT max(d) FROM (
         |     SELECT count(*) AS d FROM g GROUP BY nbr_id)) AS max_in_degree)""".stripMargin,
    // triangle census over the undirected closure: same degree-ordered
    // orientation (explicit lexicographic compare both engines), wedge
    // join closed by EXISTS into the oriented list
    "triangle_stats" ->
      s"""WITH g AS (SELECT src_id, nbr_id FROM (${Sql.knnGraph})),
         |e AS (SELECT src_id AS s, nbr_id AS d FROM g WHERE src_id <> nbr_id),
         |und AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM e),
         |deg AS (SELECT node, count(*) AS deg FROM (
         |  SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
         |  GROUP BY node),
         |o AS (SELECT
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v)
         |       THEN und.u ELSE und.v END AS a,
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v)
         |       THEN und.v ELSE und.u END AS b
         |  FROM und JOIN deg du ON du.node = und.u JOIN deg dv ON dv.node = und.v),
         |ob AS (SELECT o.a, o.b, deg.deg AS db FROM o JOIN deg ON deg.node = o.b),
         |tri AS (SELECT count(*) AS n_triangles FROM (
         |  SELECT x.b AS a, y.b AS b FROM ob x JOIN ob y
         |  ON x.a = y.a AND (x.db < y.db OR (x.db = y.db AND x.b < y.b))) w
         |  WHERE EXISTS (SELECT 1 FROM ob WHERE ob.a = w.a AND ob.b = w.b)),
         |base AS (SELECT count(*) AS n_edges_und FROM und),
         |nn AS (SELECT count(*) AS n_nodes,
         |  CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
         |SELECT n_nodes, n_edges_und, n_wedges, n_triangles,
         |  round(CASE WHEN n_wedges = 0 THEN 0.0
         |             ELSE n_triangles * 3.0 / n_wedges END, 6) + 0.0 AS global_clustering
         |FROM nn CROSS JOIN base CROSS JOIN tri""".stripMargin,
    // integer-exact damped PageRank, 5 unrolled iterations over the same
    // knn-graph edges (parameters pinned to the query entry's call)
    "pagerank" -> Sql.pageRankSql(
      iterations = 5, scale = 1000000000L, dampNum = 85, dampDen = 100),
    // same unrolled chain with the teleport gated to the 5-seed set
    "pagerank_personalized" -> Sql.pageRankSql(
      iterations = 5, scale = 1000000000L, dampNum = 85, dampDen = 100,
      seedPred = Some("node_id < 5")),
    // majority-of-neighbors label spreading, 5 unrolled iterations,
    // 10%-of-vectors seed set clamped to the true labels
    "label_propagation" -> Sql.labelPropSql(
      iterations = 5, seedWhere = "vec_id % 10 = 0"),
    // truth = the batch-knn CTE; run = the rp_knn CTEs batched over the
    // same 5 queries; metrics with the identical log2 = ln/ln(2) forms
    "retrieval_eval" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM ${Sql.E} WHERE vec_id < 5),
         |tp AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(${Sql.dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS d
         |  FROM ${Sql.E} e, q),
         |truth AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rank
         |    FROM tp) WHERE rank <= 10),
         |ee AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         |  unnest(generate_series(1, len(embedding))) AS i FROM ${Sql.E}),
         |pr AS (SELECT ee.vec_id, j.j AS out_dim,
         |  round(sum(ee.x * ${Projection.oracleSignSql("ee.i - 1", "j.j")})
         |        / sqrt(16.0), 6) + 0.0 AS v
         |  FROM ee CROSS JOIN generate_series(0, 15) AS j(j)
         |  GROUP BY ee.vec_id, j.j),
         |pv AS (SELECT vec_id, list(v ORDER BY out_dim) AS rp
         |       FROM pr GROUP BY vec_id),
         |rq AS (SELECT p.vec_id AS query_id, p.rp AS qv FROM pv p
         |       WHERE p.vec_id < 5),
         |rp AS (
         |  SELECT rq.query_id, pv.vec_id,
         |    round(${Sql.dist("cosine", "pv.rp", "rq.qv")}, 6) + 0.0 AS d
         |  FROM pv, rq),
         |run AS (
         |  SELECT query_id, vec_id, rank FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rank
         |    FROM rp) WHERE rank <= 10),
         |nt AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY query_id),
         |hits AS (
         |  SELECT r.query_id, count(*) AS n_hits, min(r.rank) AS fhr,
         |    sum(1.0 / (ln(r.rank + 1.0) / ln(2.0))) AS dcg
         |  FROM run r JOIN truth t ON t.query_id = r.query_id AND t.vec_id = r.vec_id
         |  GROUP BY r.query_id),
         |ideal AS (SELECT nt.query_id,
         |  sum(1.0 / (ln(g.g + 1.0) / ln(2.0))) AS idcg
         |  FROM nt CROSS JOIN generate_series(1, 10) AS g(g)
         |  WHERE g.g <= least(nt.n_truth, 10)
         |  GROUP BY nt.query_id)
         |SELECT nt.query_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(coalesce(h.n_hits, 0)::DOUBLE / least(nt.n_truth, 10), 6) + 0.0 AS recall_at_k,
         |  round(coalesce(1.0 / h.fhr, 0.0), 6) + 0.0 AS mrr_at_k,
         |  round(coalesce(h.dcg, 0.0) / ideal.idcg, 6) + 0.0 AS ndcg_at_k
         |FROM nt
         |JOIN ideal ON ideal.query_id = nt.query_id
         |LEFT JOIN hits h ON h.query_id = nt.query_id
         |ORDER BY nt.query_id""".stripMargin,
    // the sign matrix restated from the same md5(i:j) rule
    // (Projection.oracleSignSql, adjacent to the Scala signRow)
    "rp_project" ->
      s"""WITH e AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         |  unnest(generate_series(1, len(embedding))) AS i
         |  FROM ${Sql.E}),
         |p AS (SELECT e.vec_id, j.j AS out_dim,
         |  sum(e.x * ${Projection.oracleSignSql("e.i - 1", "j.j")}) AS s
         |  FROM e CROSS JOIN generate_series(0, 15) AS j(j)
         |  GROUP BY e.vec_id, j.j)
         |SELECT vec_id, CAST(out_dim AS BIGINT) AS out_dim,
         |  round(s / sqrt(16.0), 6) + 0.0 AS value
         |FROM p
         |ORDER BY vec_id, out_dim""".stripMargin,
    "rp_knn" ->
      s"""WITH e AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         |  unnest(generate_series(1, len(embedding))) AS i
         |  FROM ${Sql.E}),
         |p AS (SELECT e.vec_id, j.j AS out_dim,
         |  round(sum(e.x * ${Projection.oracleSignSql("e.i - 1", "j.j")})
         |        / sqrt(16.0), 6) + 0.0 AS v
         |  FROM e CROSS JOIN generate_series(0, 15) AS j(j)
         |  GROUP BY e.vec_id, j.j),
         |pv AS (SELECT vec_id, list(v ORDER BY out_dim) AS rp
         |       FROM p GROUP BY vec_id),
         |q AS (SELECT rp AS qv FROM pv WHERE vec_id = 0)
         |SELECT pv.vec_id,
         |  round(${Sql.dist("cosine", "pv.rp", "q.qv")}, 6) + 0.0 AS distance
         |FROM pv, q
         |ORDER BY distance, vec_id
         |LIMIT 10""".stripMargin,
    // the same projected CTEs cut at k·candFactor = 80, then the exact
    // full-dim cosine reranks ONLY those survivors to top-10
    "rp_knn_rerank" ->
      s"""WITH e AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         |  unnest(generate_series(1, len(embedding))) AS i
         |  FROM ${Sql.E}),
         |p AS (SELECT e.vec_id, j.j AS out_dim,
         |  round(sum(e.x * ${Projection.oracleSignSql("e.i - 1", "j.j")})
         |        / sqrt(16.0), 6) + 0.0 AS v
         |  FROM e CROSS JOIN generate_series(0, 15) AS j(j)
         |  GROUP BY e.vec_id, j.j),
         |pv AS (SELECT vec_id, list(v ORDER BY out_dim) AS rp
         |       FROM p GROUP BY vec_id),
         |pq AS (SELECT rp AS qv FROM pv WHERE vec_id = 0),
         |cand AS (SELECT pv.vec_id
         |  FROM pv, pq
         |  ORDER BY round(${Sql.dist("cosine", "pv.rp", "pq.qv")}, 6) + 0.0,
         |    pv.vec_id
         |  LIMIT 80),
         |fq AS (SELECT embedding::DOUBLE[] AS qv FROM ${Sql.E} WHERE vec_id = 0)
         |SELECT c.vec_id,
         |  round(${Sql.dist("cosine", "f.embedding::DOUBLE[]", "fq.qv")}, 6) + 0.0
         |    AS distance
         |FROM cand c
         |JOIN ${Sql.E} f ON f.vec_id = c.vec_id, fq
         |ORDER BY distance, c.vec_id
         |LIMIT 10""".stripMargin,
    // covariance replay over exploded (vec_id, dim, value) rows — the
    // identically-parenthesized Σxy/n − (Σx/n)(Σy/n) expression
    "embedding_covariance" ->
      s"""WITH e AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         |  unnest(generate_series(1, len(embedding))) AS p
         |  FROM ${Sql.E}),
         |pr AS (SELECT a.p - 1 AS i, b.p - 1 AS j, a.x AS xi, b.x AS xj
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.p <= b.p),
         |agg AS (SELECT i, j, sum(xi * xj) AS sxy, count(*) AS n
         |  FROM pr GROUP BY i, j),
         |m AS (SELECT p - 1 AS k, sum(x) AS s FROM e GROUP BY p)
         |SELECT CAST(agg.i AS BIGINT) AS i, CAST(agg.j AS BIGINT) AS j,
         |  round(sxy / n - (mi.s / n) * (mj.s / n), 6) + 0.0 AS cov
         |FROM agg
         |JOIN m mi ON mi.k = agg.i
         |JOIN m mj ON mj.k = agg.j
         |ORDER BY i, j""".stripMargin,
    // unrolled Gonzalez rounds (the pagerank unrolling precedent);
    // the SQL text is generated next to the Scala loop (Coreset.oracleSql)
    "coreset_kcenter" ->
      Coreset.oracleSql(Sql.E, 6, (a, b) => Sql.dist("cosine", a, b)),
    // unrolled Lloyd rounds generated adjacent to the Scala loop
    // (the coreset/pagerank precedent)
    "kmeans_fit" -> Kmeans.oracleSql(Sql.E, 8, 3, "fit"),
    "kmeans_assign" -> Kmeans.oracleSql(Sql.E, 8, 3, "assign"),
    "kmeans_trained_knn" -> Kmeans.trainedKnnOracleSql(Sql.E, 8, 3,
      k = 10, nProbe = 2, (a, b) => Sql.dist("cosine", a, b)),
    "label_centroids" ->
      s"""WITH x AS (SELECT label,
         |  unnest(embedding::DOUBLE[]) AS v,
         |  unnest(generate_series(1, len(embedding))) AS i
         |  FROM ${Sql.E})
         |SELECT label, CAST(i - 1 AS BIGINT) AS dim_idx,
         |  round(avg(v), 6) + 0.0 AS centroid_val,
         |  count(*) AS n_vectors
         |FROM x
         |GROUP BY label, i
         |ORDER BY label, dim_idx""".stripMargin,
    // per-anchor nearest different-label vectors — the window rank here
    // restates the bounded graft_topk cut (ties by vec_id both sides)
    "hard_negatives" ->
      s"""WITH a AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
         |  FROM ${Sql.E} WHERE vec_id < 5),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM ${Sql.E}),
         |pairs AS (SELECT a.query_id, e.vec_id, e.label AS neg_label,
         |  round(${Sql.dist("cosine", "e.v", "a.qv")}, 6) + 0.0 AS distance
         |  FROM e, a WHERE e.label <> a.qlabel AND e.vec_id <> a.query_id),
         |ranked AS (SELECT query_id, vec_id, neg_label, distance,
         |  row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
         |  FROM pairs)
         |SELECT query_id, vec_id, neg_label, distance, rank FROM ranked
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // batch-hard triplets: the two window rn=1 picks restate the
    // conditional-struct max/min (same (distance, id) tie rules)
    "mining_triplets" ->
      s"""WITH a AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
         |  FROM ${Sql.E} WHERE vec_id < 5),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM ${Sql.E}),
         |p AS (SELECT a.query_id, e.vec_id, e.label, a.qlabel,
         |  round(${Sql.dist("cosine", "e.v", "a.qv")}, 6) + 0.0 AS d
         |  FROM e, a WHERE e.vec_id <> a.query_id),
         |pos AS (SELECT query_id, vec_id AS pos_id, d AS pos_distance FROM (
         |  SELECT query_id, vec_id, d,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id ASC) AS rn
         |  FROM p WHERE label = qlabel) WHERE rn = 1),
         |neg AS (SELECT query_id, vec_id AS neg_id, d AS neg_distance FROM (
         |  SELECT query_id, vec_id, d,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id ASC) AS rn
         |  FROM p WHERE label <> qlabel) WHERE rn = 1)
         |SELECT a.query_id, pos_id, pos_distance, neg_id, neg_distance,
         |  round(pos_distance - neg_distance, 6) + 0.0 AS margin_violation
         |FROM a
         |LEFT JOIN pos ON pos.query_id = a.query_id
         |LEFT JOIN neg ON neg.query_id = a.query_id
         |ORDER BY a.query_id""".stripMargin,
    "knn_cosine" -> Sql.knnSql("cosine"),
    "knn_euclidean" -> Sql.knnSql("euclidean"),
    "knn_manhattan" -> Sql.knnSql("manhattan"),
    "knn_dot" -> Sql.knnSql("dot_product"),
    "knn_with_metadata" ->
      s"""${Sql.withQ},
         |topk AS (
         |  SELECT e.vec_id, round(${Sql.dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
         |  FROM ${Sql.E} e, q
         |  ORDER BY distance, vec_id
         |  LIMIT 10),
         |meta AS (
         |  SELECT vec_id, '{"label":' || label || '}' AS metadata
         |  FROM ${Sql.E} WHERE vec_id % 2 = 0)
         |SELECT t.vec_id, t.distance, coalesce(m.metadata, '{}') AS metadata
         |FROM topk t LEFT JOIN meta m USING (vec_id)
         |ORDER BY t.distance, t.vec_id""".stripMargin,
    "knn_batch" -> Sql.batchKnnSql,
    "hnsw_knn_refreshed" -> Sql.refreshedKnnSql,
    // exhaustive-ef SQ8 traversal + corpus-covering exact rerank = the
    // exact batch top-k (the hnsw_knn_refreshed argument, plus rerank
    // coverage: every reachable node enters the candidate set)
    "hnsw_sq8_knn" -> Sql.batchKnnSql,
    "hnsw_sq8_knn_filtered" -> Sql.batchKnnFilteredSql,
    "hnsw_pq_knn_filtered" -> Sql.batchKnnFilteredSql,
    // same argument one compression step further: the PQ traversal's
    // candidate set covers the corpus at exhaustive ef, rerank is exact
    "hnsw_pq_knn" -> Sql.batchKnnSql,
    // batch exact-through-the-quantizer: exact by the same triangle
    // inequality as the single-query twin, so the oracle is the plain
    // per-query exact ranking
    "ivf_trained_knn_batch_exact" -> Sql.batchKnnSql,
    "filtered_knn" ->
      s"""${Sql.withQ}
         |SELECT e.vec_id, round(${Sql.dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
         |FROM ${Sql.E} e, q
         |WHERE e.label = 3
         |ORDER BY distance, vec_id
         |LIMIT 10""".stripMargin,
    "range_search" ->
      s"""${Sql.withQ}
         |SELECT vec_id, distance FROM (
         |  SELECT e.vec_id, round(${Sql.dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
         |  FROM ${Sql.E} e, q)
         |WHERE distance <= 0.75
         |ORDER BY distance, vec_id""".stripMargin,
    "delete" ->
      s"""SELECT vec_id, label FROM ${Sql.E}
         |WHERE vec_id NOT IN (SELECT vec_id FROM ${Sql.E} WHERE vec_id % 7 = 0)
         |ORDER BY vec_id""".stripMargin,
    "stats" ->
      s"""SELECT label, count(*) AS n_vectors,
         |       round(avg(${Sql.norm("embedding::DOUBLE[]")}), 6) AS avg_norm,
         |       min(vec_id) AS min_id, max(vec_id) AS max_id
         |FROM ${Sql.E}
         |GROUP BY label
         |ORDER BY label""".stripMargin,
    "token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  len(list_distinct(string_split(text, ' ')))::BIGINT AS n_unique_tokens,
        |  length(text)::BIGINT AS n_chars,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_regex_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "top_tokens" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin,
    // constants are the shortest-round-trip decimal forms of the Scala
    // doubles (k1=1.2, b=0.75 ⇒ k1+1=2.2, 1−b=0.25), so both engines
    // evaluate the identically-parenthesized expression on identical
    // IEEE inputs
    "bm25_terms" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |x AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM t),
        |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
        |       FROM x GROUP BY doc_id, token),
        |df AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
        |      FROM (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY doc_id)),
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
        |ORDER BY doc_id, rank""".stripMargin,
    // both legs truncate at 50 then rank; per-term lexical scores are
    // quantized to microunit BIGINTs and summed EXACTLY (float sums are
    // addition-order sensitive; integer sums are order-free in both
    // engines), then divided back and rounded
    "hybrid_search" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |x AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM t),
         |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
         |       FROM x GROUP BY doc_id, token),
         |df AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
         |      FROM (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY doc_id)),
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
         |LIMIT 10""".stripMargin,
    // the batch form: queries = the 5 lowest doc ids; per-query ranks
    // and a per-query top-10 window; same quantized lexical sums
    "hybrid_batch" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |x AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token FROM t),
         |tf AS (SELECT doc_id, token, any_value(dl) AS dl, count(*)::DOUBLE AS tf
         |       FROM x GROUP BY doc_id, token),
         |df AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
         |      FROM (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY doc_id)),
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
         |ORDER BY query_id, rank""".stripMargin,
    "lang_id" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  ${Sql.langScoreSql("en")} AS score_en,
         |  ${Sql.langScoreSql("fr")} AS score_fr,
         |  ${Sql.langScoreSql("es")} AS score_es,
         |  ${Sql.langScoreSql("de")} AS score_de
         |FROM t)
         |SELECT doc_id, score_en, score_fr, score_es, score_de,
         |  CASE
         |    WHEN score_en >= score_fr AND score_en >= score_es AND score_en >= score_de THEN 'en'
         |    WHEN score_fr >= score_es AND score_fr >= score_de THEN 'fr'
         |    WHEN score_es >= score_de THEN 'es'
         |    ELSE 'de' END AS pred_lang
         |FROM s
         |ORDER BY doc_id""".stripMargin,
    "lang_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |  ${Sql.langScoreSql("en")} AS score_en,
         |  ${Sql.langScoreSql("fr")} AS score_fr,
         |  ${Sql.langScoreSql("es")} AS score_es,
         |  ${Sql.langScoreSql("de")} AS score_de
         |FROM t),
         |p AS (SELECT lang,
         |  CASE
         |    WHEN score_en >= score_fr AND score_en >= score_es AND score_en >= score_de THEN 'en'
         |    WHEN score_fr >= score_es AND score_fr >= score_de THEN 'fr'
         |    WHEN score_es >= score_de THEN 'es'
         |    ELSE 'de' END AS pred_lang
         |FROM s)
         |SELECT lang, pred_lang, count(*) AS n
         |FROM p
         |GROUP BY lang, pred_lang
         |ORDER BY lang, pred_lang""".stripMargin,
    // conditional sums restate the pivot's closed value list
    "user_event_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // integer mixture arithmetic replayed in BIGINT (div = //)
    "mixture_plan" ->
      s"""WITH $mixturePlanCtesSql
         |SELECT source, available_tokens, weight_micro, desired_tokens,
         |  keep_fraction_micro, shortfall_tokens
         |FROM plan
         |ORDER BY source""".stripMargin,
    // temperature replay: the same avail CTE, shares from pow at τ=0.5
    // (totals via OVER () on the bounded source frame), then the same
    // integer plan arithmetic as mixture_plan
    "mixture_temperature" ->
      s"""WITH avail AS (
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
         |ORDER BY source""".stripMargin,
    // the SAME plan CTEs, executed with the integer md5 draw and rolled
    // up against desired — the closed audit loop
    "mixture_audit" ->
      s"""WITH $mixturePlanCtesSql,
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
         |ORDER BY p.source""".stripMargin,
    // bucket = integer division; seat = per-bucket row_number; width =
    // per-(bucket, batch) max joined back
    "length_batches" ->
      """WITH base AS (SELECT doc_id,
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
        |ORDER BY s.doc_id""".stripMargin,
    // the quality_score rounding replayed, bands by the identical IEEE
    // floor, position = row_number over (band DESC, md5 shuffle, doc_id)
    "curriculum_order" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |raw AS (SELECT doc_id,
         |  least(len(toks) / 100.0, 1.0) AS len_score_raw,
         |  len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS diversity_raw,
         |  ${Sql.swHits("en")}::DOUBLE / greatest(len(toks), 1) AS sw_raw
         |FROM t),
         |b AS (SELECT doc_id,
         |  least(CAST(floor(
         |    round((len_score_raw + diversity_raw + sw_raw) / 3.0, 6) * 10)
         |    AS BIGINT), 9) AS band
         |FROM raw)
         |SELECT doc_id, band,
         |  row_number() OVER (ORDER BY band DESC,
         |    md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS pos
         |FROM b
         |ORDER BY doc_id""".stripMargin,
    "corpus_card" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |raw AS (SELECT doc_id,
         |  least(len(toks) / 100.0, 1.0) AS len_score_raw,
         |  len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS diversity_raw,
         |  ${Sql.swHits("en")}::DOUBLE / greatest(len(toks), 1) AS sw_raw
         |FROM t),
         |q AS (SELECT doc_id,
         |  round((len_score_raw + diversity_raw + sw_raw) / 3.0, 6) AS quality
         |FROM raw),
         |f AS (SELECT doc_id, source, lang, md5(lower(trim(text))) AS fp,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT fp, count(*) AS nfp FROM f GROUP BY fp)
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
         |JOIN q ON q.doc_id = f.doc_id""".stripMargin,
    // the quality CTE restated (same rounding), fingerprints corpus-wide
    "source_report" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |raw AS (SELECT doc_id,
         |  least(len(toks) / 100.0, 1.0) AS len_score_raw,
         |  len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS diversity_raw,
         |  ${Sql.swHits("en")}::DOUBLE / greatest(len(toks), 1) AS sw_raw
         |FROM t),
         |q AS (SELECT doc_id,
         |  round((len_score_raw + diversity_raw + sw_raw) / 3.0, 6) AS quality
         |FROM raw),
         |f AS (SELECT doc_id, source, lang, md5(lower(trim(text))) AS fp,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT fp, count(*) AS nfp FROM f GROUP BY fp)
         |SELECT f.source, count(*) AS n_docs,
         |  CAST(sum(f.n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN c.nfp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  count(DISTINCT f.lang) AS n_langs,
         |  round(avg(q.quality), 6) + 0.0 AS mean_quality
         |FROM f
         |JOIN c ON c.fp = f.fp
         |JOIN q ON q.doc_id = f.doc_id
         |GROUP BY f.source
         |ORDER BY f.source""".stripMargin,
    "quality_score" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |raw AS (SELECT doc_id,
         |  least(len(toks) / 100.0, 1.0) AS len_score_raw,
         |  len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS diversity_raw,
         |  ${Sql.swHits("en")}::DOUBLE / greatest(len(toks), 1) AS sw_raw
         |FROM t)
         |SELECT doc_id,
         |  round(len_score_raw, 6) AS len_score,
         |  round(diversity_raw, 6) AS diversity,
         |  round(sw_raw, 6) AS stopword_ratio,
         |  round((len_score_raw + diversity_raw + sw_raw) / 3.0, 6) AS quality
         |FROM raw
         |ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
        |       md5(lower(trim(text))) AS fingerprint
        |FROM documents
        |GROUP BY md5(lower(trim(text)))
        |ORDER BY keeper_id""".stripMargin,
    "dedup_incremental" ->
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
        |ORDER BY doc_id""".stripMargin,
    // the Bloom pre-prune is exact by construction (definite negatives
    // only), so the oracle is the SAME plain incremental-dedup SQL —
    // that equality IS the correctness claim
    "dedup_incremental_bloom" ->
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
        |ORDER BY doc_id""".stripMargin,
    "zorder_codes" -> {
      // bit-exact SQL twin of InterleaveBits.morton: bit i of a → output
      // bit 2i, bit i of b → 2i+1, over the low 32 bits (generated terms)
      def morton(a: String, b: String): String =
        (0 until 32).map(i =>
          s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})")
          .mkString("(", " | ", ")")
      s"""WITH e AS (
         |  SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
         |         epoch_us(ts) // 86400000000 AS day
         |  FROM events WHERE event_id < 20000)
         |SELECT event_id, user_id, day,
         |  ${morton("user_id", "day")} AS zcode
         |FROM e
         |ORDER BY event_id""".stripMargin
    },
    "repetition_stats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
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
        |ORDER BY r.doc_id""".stripMargin,
    "normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g'))) AS norm_fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "winnow_fingerprint" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(generate_series(1, L - 7), i ->
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(0, 7),
        |          j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
        |  FROM t WHERE L >= 8),
        |w AS (SELECT doc_id, list_sort(list_distinct(list_transform(
        |    generate_series(1, greatest(len(hs) - 3, 1)),
        |    i -> list_min(list_slice(hs, i, i + 3))))) AS fps
        |  FROM h)
        |SELECT doc_id, len(fps)::BIGINT AS n_fps,
        |  CAST(list_sum(fps) AS BIGINT) AS fp_sum,
        |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
        |FROM w
        |ORDER BY doc_id""".stripMargin,
    "bigram_surprisal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
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
        |ORDER BY doc_id""".stripMargin,
    "winnow_pairs" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(generate_series(1, L - 11), i ->
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(0, 11),
        |          j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
        |  FROM t WHERE L >= 12),
        |w AS (SELECT doc_id, list_sort(list_distinct(list_transform(
        |    generate_series(1, greatest(len(hs) - 5, 1)),
        |    i -> list_min(list_slice(hs, i, i + 5))))) AS fps
        |  FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 30
        |ORDER BY doc_a, doc_b""".stripMargin,
    // winnow hash machinery with w=1 (all k-gram hashes, k=20)
    "substring_dup" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(generate_series(1, L - 19), i ->
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(0, 19),
        |          j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
        |  FROM t WHERE L >= 20),
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
        |ORDER BY d.doc_id""".stripMargin,
    // DSIR replay: same md5-portable buckets over unigrams+bigrams, same
    // Laplace(+1 over 64) bucket models (totals via OVER ()), same
    // round-once log weights; + 0.0 normalizes a -0.0 round like the KMV
    // twin (Spark's BigDecimal round never emits -0.0)
    "dsir_weights" ->
      """WITH rawd AS (SELECT doc_id, string_split(text, ' ') AS toks
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
        |        LEFT JOIN qb USING (bucket) LEFT JOIN pb USING (bucket)))
        |SELECT f.doc_id, CAST(sum(f.c) AS BIGINT) AS n_feats,
        |  round(sum(f.c * m.lr), 6) + 0.0 AS logw
        |FROM rawf f JOIN model m USING (bucket)
        |GROUP BY f.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    "dsir_select" ->
      """WITH rawd AS (SELECT doc_id, string_split(text, ' ') AS toks
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
        |        LEFT JOIN qb USING (bucket) LEFT JOIN pb USING (bucket))),
        |weights AS (SELECT f.doc_id, CAST(sum(f.c) AS BIGINT) AS n_feats,
        |  round(sum(f.c * m.lr), 6) + 0.0 AS logw
        |  FROM rawf f JOIN model m USING (bucket)
        |  GROUP BY f.doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY logw DESC, doc_id) AS BIGINT)
        |    AS rank, doc_id, n_feats, logw
        |FROM weights
        |ORDER BY logw DESC, doc_id
        |LIMIT 50""".stripMargin,
    // Gumbel-top-k replay: the same weights chain, the KMV md5 uniform
    // (u = (draw + 0.5)/2³², never 0 or 1), G = −ln(−ln u), key rounded
    // once at 6 with doc_id tie-break; + 0.0 normalizes a −0.0 round
    "dsir_sample" ->
      """WITH rawd AS (SELECT doc_id, string_split(text, ' ') AS toks
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
        |        LEFT JOIN qb USING (bucket) LEFT JOIN pb USING (bucket))),
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
        |LIMIT 50""".stripMargin,
    "source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |sh0 AS (SELECT source, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
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
        |ORDER BY source_a, source_b""".stripMargin,
    "ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh0 AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
        |sh AS (SELECT doc_id, unnest(ss) AS shingle FROM sh0),
        |f AS (SELECT shingle, min(doc_id) AS first_seen FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.first_seen = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(sum(CASE WHEN f.first_seen = sh.doc_id THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS novelty
        |FROM sh JOIN f USING (shingle)
        |GROUP BY sh.doc_id
        |ORDER BY sh.doc_id""".stripMargin,
    "heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM tok)
        |SELECT token, count(*) AS cnt
        |FROM tok, tot
        |GROUP BY token, n_total
        |HAVING count(*) * 31 > n_total
        |ORDER BY cnt DESC, token""".stripMargin,
    // count-min replay: identical md5 row hashes (hex parse via the 0x
    // cast), identical cell table, min over depth rows per probe token
    "cms_estimates" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
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
        |ORDER BY p.token""".stripMargin,
    // KMV replay: distinct (day, draw), k smallest per day, the same
    // fewer-than-k-is-exact / (k-1)/kth estimator expression
    "kmv_daily_users" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
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
        |ORDER BY ex.day""".stripMargin,
    // KMV pair replay: per-source distinct shingle draws, k smallest per
    // source, merged k smallest per pair, membership via left joins —
    // the same union/Jaccard/intersection estimator expressions
    "kmv_source_overlap" ->
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
         |sh0 AS (SELECT source, list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - 2, 1)),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
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
         |ORDER BY src_a, src_b""".stripMargin,
    // histogram-quantile replay: identical bin expression (same IEEE
    // association), window cumsum, min-bin-at-crossing with the same
    // integer ceil-divisions
    "hist_quantiles" ->
      """WITH s AS (SELECT event_type, min(value) AS vmin, max(value) AS vmax, count(*) AS n
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
        |FROM s ORDER BY event_type""".stripMargin,
    "pii_scrub" -> {
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
    "decontamination" ->
      """WITH tr AS (
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
        |ORDER BY t.doc_id""".stripMargin,
    "winnow_decontamination" ->
      """WITH tr AS (SELECT doc_id, text, length(text) AS L FROM documents WHERE source <> 'src0'),
        |bm AS (SELECT doc_id, text, length(text) AS L FROM documents WHERE source = 'src0'),
        |trh AS (SELECT doc_id, list_transform(generate_series(1, L - 11), i ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(0, 11),
        |        j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
        |  FROM tr WHERE L >= 12),
        |trw AS (SELECT doc_id, list_sort(list_distinct(list_transform(
        |    generate_series(1, greatest(len(hs) - 5, 1)),
        |    i -> list_min(list_slice(hs, i, i + 5))))) AS fps FROM trh),
        |bmh AS (SELECT doc_id, list_transform(generate_series(1, L - 11), i ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(0, 11),
        |        j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
        |  FROM bm WHERE L >= 12),
        |bmw AS (SELECT DISTINCT unnest(list_sort(list_distinct(list_transform(
        |    generate_series(1, greatest(len(hs) - 5, 1)),
        |    i -> list_min(list_slice(hs, i, i + 5)))))) AS fp FROM bmh),
        |te AS (SELECT doc_id, len(fps) AS n_fps, unnest(fps) AS fp FROM trw)
        |SELECT doc_id, count(*) AS n_shared,
        |  round(count(*)::DOUBLE / n_fps, 6) AS contamination_ratio
        |FROM te JOIN bmw USING (fp)
        |GROUP BY doc_id, n_fps
        |HAVING count(*) >= 30
        |ORDER BY doc_id""".stripMargin,
    "semantic_decontamination" ->
      s"""WITH bench AS (
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
         |ORDER BY vec_id""".stripMargin,
    // the incremental scan = the batch scan restricted to the "new" docs
    // (odd ids); the oracle states that restriction directly
    "winnow_decontamination_incremental" ->
      """WITH tr AS (SELECT doc_id, text, length(text) AS L FROM documents
        |  WHERE source <> 'src0' AND doc_id % 2 = 1),
        |bm AS (SELECT doc_id, text, length(text) AS L FROM documents WHERE source = 'src0'),
        |trh AS (SELECT doc_id, list_transform(generate_series(1, L - 11), i ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(0, 11),
        |        j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
        |  FROM tr WHERE L >= 12),
        |trw AS (SELECT doc_id, list_sort(list_distinct(list_transform(
        |    generate_series(1, greatest(len(hs) - 5, 1)),
        |    i -> list_min(list_slice(hs, i, i + 5))))) AS fps FROM trh),
        |bmh AS (SELECT doc_id, list_transform(generate_series(1, L - 11), i ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(0, 11),
        |        j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 257 + x) % 1000000007)) AS hs
        |  FROM bm WHERE L >= 12),
        |bmw AS (SELECT DISTINCT unnest(list_sort(list_distinct(list_transform(
        |    generate_series(1, greatest(len(hs) - 5, 1)),
        |    i -> list_min(list_slice(hs, i, i + 5)))))) AS fp FROM bmh),
        |te AS (SELECT doc_id, len(fps) AS n_fps, unnest(fps) AS fp FROM trw)
        |SELECT doc_id, count(*) AS n_shared,
        |  round(count(*)::DOUBLE / n_fps, 6) AS contamination_ratio
        |FROM te JOIN bmw USING (fp)
        |GROUP BY doc_id, n_fps
        |HAVING count(*) >= 30
        |ORDER BY doc_id""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
        |SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
        |  (cum - n_tokens) // 2048 AS first_seq,
        |  greatest((cum - 1) // 2048, (cum - n_tokens) // 2048) AS last_seq
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "pack_shuffled" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
        |  (cum - n_tokens) // 2048 AS first_seq,
        |  greatest((cum - 1) // 2048, (cum - n_tokens) // 2048) AS last_seq
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh0 AS (SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - 2, 1)),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
         |sh AS (SELECT doc_id, len(ss) AS n_shingles, unnest(ss) AS shingle FROM sh0),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.n_shingles AS sa, b.n_shingles AS sb, count(*) AS common
         |  FROM sh a JOIN sh b USING (shingle)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |       round(common::DOUBLE / (sa + sb - common), 6) AS jaccard
         |FROM pairs
         |WHERE round(common::DOUBLE / (sa + sb - common), 6) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "fuzzy_pairs" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
         |sh0 AS (SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - 2, 1)),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
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
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the dedup_ngram pair CTEs at the 0.1 floor, binned by the same
    // IEEE floor(j*10)
    "similarity_histogram" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh0 AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
        |sh AS (SELECT doc_id, len(ss) AS n_shingles, unnest(ss) AS shingle FROM sh0),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n_shingles AS sa, b.n_shingles AS sb, count(*) AS common
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |jp AS (SELECT round(common::DOUBLE / (sa + sb - common), 6) AS j
        |       FROM pairs
        |       WHERE round(common::DOUBLE / (sa + sb - common), 6) >= 0.02)
        |SELECT least(CAST(floor(j * 20) AS BIGINT), 19) AS bin, count(*) AS n
        |FROM jp
        |GROUP BY bin
        |ORDER BY bin""".stripMargin,
    // rank by the same (normalized text, id) key; candidates = the next
    // window−1 ranks; overlap counted by the constrained shingle join
    "dedup_sorted_neighborhood" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh0 AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 2, 1)),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t),
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
        |ORDER BY doc_a, doc_b""".stripMargin,
    "corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
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
        |ORDER BY doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE ${Sql.clusterCtes}
         |SELECT doc_id, cluster_id FROM clusters
         |ORDER BY doc_id""".stripMargin,
    // same clustering CTEs, split keyed on the CLUSTER id — near-dup
    // clusters are atomic across the train/val/test boundary
    "split_leakage_safe" ->
      s"""WITH RECURSIVE ${Sql.clusterCtes}
         |SELECT doc_id, cluster_id,
         |  ${Sampling.oracleSplitCase("cluster_id", 0.8, 0.1, 0.1)} AS split
         |FROM clusters
         |ORDER BY doc_id""".stripMargin,
    "embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${Sql.E}),
         |nv AS (SELECT vec_id,
         |  CASE WHEN ${Sql.norm("v")} = 0 THEN v
         |       ELSE list_transform(v, x -> x / ${Sql.norm("v")}) END AS nv
         |FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(1.0 - ${Sql.dot("a.nv", "b.nv")}, 6) + 0.0 AS distance
         |FROM nv a JOIN nv b ON a.vec_id < b.vec_id
         |WHERE round(1.0 - ${Sql.dot("a.nv", "b.nv")}, 6) <= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    // same normalized-dot machinery as embedding_neardup, plus the
    // ivf_knn-style deterministic centroid assignment; kept is INT for
    // engine-portable hashing
    "semantic_dedup" ->
      s"""WITH ${Sql.semanticAssignedCtes}
         |SELECT a.vec_id, a.cent_id,
         |  CASE WHEN ${Sql.semanticDupExists}
         |  THEN 0 ELSE 1 END AS kept
         |FROM assigned a
         |ORDER BY a.vec_id""".stripMargin,
    "mutations_fold" ->
      s"""WITH log AS (
         |  SELECT vec_id AS seq, 'insert' AS op, vec_id, label FROM ${Sql.E}
         |  UNION ALL
         |  SELECT vec_id + 1000000, 'insert', vec_id, label + 100 FROM ${Sql.E} WHERE vec_id % 10 = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000, 'delete', vec_id, NULL FROM ${Sql.E} WHERE vec_id % 7 = 0),
         |folded AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY seq DESC) AS rn FROM log)
         |SELECT vec_id, label FROM folded
         |WHERE rn = 1 AND op = 'insert'
         |ORDER BY vec_id""".stripMargin,
    // the state-table replay must fold to the identical visible table
    "mutations_fold_table" ->
      s"""WITH log AS (
         |  SELECT vec_id AS seq, 'insert' AS op, vec_id, label FROM ${Sql.E}
         |  UNION ALL
         |  SELECT vec_id + 1000000, 'insert', vec_id, label + 100 FROM ${Sql.E} WHERE vec_id % 10 = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000, 'delete', vec_id, NULL FROM ${Sql.E} WHERE vec_id % 7 = 0),
         |folded AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY seq DESC) AS rn FROM log)
         |SELECT vec_id, label FROM folded
         |WHERE rn = 1 AND op = 'insert'
         |ORDER BY vec_id""".stripMargin,
    // time travel: the state AS OF the end of tier 1 — replay only
    // seq < 2000000 (inserts + overwrites, no deletes)
    "mutations_fold_at" ->
      s"""WITH log AS (
         |  SELECT vec_id AS seq, 'insert' AS op, vec_id, label FROM ${Sql.E}
         |  UNION ALL
         |  SELECT vec_id + 1000000, 'insert', vec_id, label + 100 FROM ${Sql.E} WHERE vec_id % 10 = 0),
         |folded AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY seq DESC) AS rn FROM log)
         |SELECT vec_id, label FROM folded
         |WHERE rn = 1 AND op = 'insert'
         |ORDER BY vec_id""".stripMargin,
    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "revenue_by_nation" ->
      """SELECT n_name, c_mktsegment,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment
        |ORDER BY n_name, c_mktsegment""".stripMargin,
    "top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rank
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3
        |ORDER BY o_custkey, rank""".stripMargin,
    "events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        |  count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_epoch, event_type""".stripMargin,
    // the identical strictly-prior RANGE frame on epoch microseconds
    "rolling_user_activity" ->
      """WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_prev_hour,
        |  round(coalesce(sum(value) OVER w, 0.0), 4) + 0.0 AS value_prev_hour
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "user_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events, sum(value) AS session_value
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id,
        |  CAST(max(session_id) AS BIGINT) AS n_sessions,
        |  round(avg(n_events), 6) AS avg_events_per_session,
        |  round(sum(session_value), 4) AS total_value
        |FROM per_session
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // the pruned exact search is exact by the triangle inequality — the
    // twin is the plain exact scan, no quantizer restatement needed
    "ivf_trained_knn_exact" -> Sql.knnSql("cosine"),
    "ivf_knn" ->
      s"""${Sql.withQ},
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
         |LIMIT 10""".stripMargin,
    "batch_insert_validation" ->
      """SELECT status, count(*) AS n FROM (
        |  SELECT CASE WHEN len(CASE WHEN vec_id % 13 = 0 THEN embedding[1:32]
        |                            ELSE embedding END) = 64
        |              THEN 'accepted' ELSE 'rejected_dim' END AS status
        |  FROM embeddings)
        |GROUP BY status
        |ORDER BY status""".stripMargin,
    "customer_setops" ->
      """SELECT 'building_with_orders' AS op, count(*)::BIGINT AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'customers_without_orders', count(*)::BIGINT FROM (
        |  SELECT c_custkey FROM customer
        |  EXCEPT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'union_distinct', count(*)::BIGINT FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION SELECT o_custkey FROM orders)
        |ORDER BY op""".stripMargin,
    "revenue_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "asof_purchase_clicks" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'click'
        |                    THEN struct_pack(click_id := event_id, click_ts := ts) END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc
        |  FROM ev)
        |SELECT event_id AS purchase_id, user_id,
        |       epoch_us(ts)::BIGINT AS purchase_ts_us,
        |       pc.click_id AS click_id,
        |       (epoch_us(ts) - epoch_us(pc.click_ts))::BIGINT AS gap_us
        |FROM w
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    "funnel_conversion" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts)::BIGINT AS t FROM events),
        |s0 AS (SELECT user_id, min(t) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s0 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t > s0.t GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t > s1.t GROUP BY e.user_id),
        |c AS (
        |  SELECT 0 AS idx, 'view' AS stage, count(*) AS n_users FROM s0
        |  UNION ALL SELECT 1, 'click', count(*) FROM s1
        |  UNION ALL SELECT 2, 'purchase', count(*) FROM s2)
        |SELECT c.stage, c.n_users,
        |  CASE WHEN coalesce(p.n_users, c.n_users) = 0 THEN 0.0
        |       ELSE round(c.n_users::DOUBLE / coalesce(p.n_users, c.n_users), 6)
        |  END AS conversion
        |FROM c LEFT JOIN c p ON c.idx = p.idx + 1
        |ORDER BY c.idx""".stripMargin,
    "cohort_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts)::BIGINT // 86400000000 // 7 AS w
        |  FROM events),
        |first AS (SELECT user_id, min(w) AS cohort_week FROM uw GROUP BY user_id)
        |SELECT cohort_week, w - cohort_week AS week_offset,
        |  count(*) AS n_users
        |FROM uw JOIN first USING (user_id)
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "training_pipeline" -> Sql.pipelineSql("", ""),
    // training_pipeline plus the shared SemDeDup CTEs: semantically
    // duplicated ids (the fixtures' aligned id domain) drop before the
    // budget window; both pipeline twins render from ONE Sql.pipelineSql
    // body so the stage formulas cannot drift
    "semantic_pipeline" -> Sql.pipelineSql(
      s"""${Sql.semanticAssignedCtes},
         |semdropped AS (
         |  SELECT a.vec_id AS doc_id FROM assigned a
         |  WHERE ${Sql.semanticDupExists})""".stripMargin,
      "\n    AND q.doc_id NOT IN (SELECT doc_id FROM semdropped)"),
    "string_funcs" ->
      """SELECT doc_id,
        |  upper(substr(text, 1, 20)) AS prefix_upper,
        |  reverse(substr(text, 1, 10)) AS prefix_rev,
        |  lpad(doc_id::VARCHAR, 6, '0') AS padded_id,
        |  ((length(text) - length(replace(text, 'spark', ''))) // 5)::BIGINT AS n_spark,
        |  position('merge' IN text)::BIGINT AS merge_pos
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "date_parts" ->
      """SELECT o_orderkey,
        |  year(o_orderdate)::INT AS y,
        |  quarter(o_orderdate)::INT AS q,
        |  month(o_orderdate)::INT AS m,
        |  day(o_orderdate)::INT AS d,
        |  isodow(o_orderdate)::INT AS isodow,
        |  date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS epoch_days
        |FROM orders
        |WHERE o_orderkey < 400
        |ORDER BY o_orderkey""".stripMargin,
    "semi_anti_join" ->
      """SELECT 'customers_with_big_orders' AS op, count(*)::BIGINT AS n
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |UNION ALL
        |SELECT 'suppliers_without_lineitems', count(*)::BIGINT
        |FROM supplier
        |WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem)
        |ORDER BY op""".stripMargin,
    "media_frame_sample" ->
      """WITH idx AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, greatest((length(text) - 1) // 256, 0))) AS i
        |  FROM documents)
        |SELECT doc_id AS media_id, i AS frame_idx,
        |       length(substr(text, (i * 256 + 1)::INT, 256))::BIGINT AS frame_bytes,
        |       md5(substr(text, (i * 256 + 1)::INT, 256)) AS frame_md5
        |FROM idx
        |WHERE i % 2 = 0 AND length(substr(text, (i * 256 + 1)::INT, 256)) > 0
        |ORDER BY media_id, frame_idx""".stripMargin,
    "media_stats" ->
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
        |  octet_length(text::BLOB)::BIGINT AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents
        |ORDER BY media_id""".stripMargin,
    // Spark parses real PNG/JPEG/GIF header bytes; the oracle states the
    // expected dimensions in closed form (the synth formula) plus the
    // fixed per-format byte counts of the minimal valid streams:
    // PNG 8-sig + 25 IHDR + 12 IEND = 45; JPEG SOI+APP0+COM+SOF0+EOI = 50;
    // GIF89a header + LSD + trailer = 14
    "media_features" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image/png'
        |                  WHEN 1 THEN 'image/jpeg'
        |                  ELSE 'image/gif' END AS media_type,
        |  CASE doc_id % 3 WHEN 0 THEN 45 WHEN 1 THEN 50 ELSE 14 END::BIGINT AS n_bytes,
        |  CAST(16 + doc_id % 2048 AS INTEGER) AS width,
        |  CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS height
        |FROM documents
        |ORDER BY media_id""".stripMargin,
    // sample-level audio statistics: the tone is a closed-form modular
    // sawtooth, so every PCM word the Spark decoder reads is stated by
    // the oracle per (channel, sample-index); RMS uses floor(sqrt(·)·1000)
    // with the identical double expression on both engines
    "media_audio_samples" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |         CAST(100 + doc_id % 1000 AS INTEGER) AS n
        |  FROM documents),
        |smp AS (
        |  SELECT c.doc_id, c.ch, s.i,
        |    ((c.doc_id + s.i * (17 + 2 * (c.doc_id % 500)) + 7919 * c.ch)
        |      % 65536) - 32768 AS v
        |  FROM (SELECT doc_id, unnest(generate_series(0, channels - 1)) AS ch
        |        FROM dims) c
        |  JOIN (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i
        |        FROM dims) s ON c.doc_id = s.doc_id),
        |agg AS (
        |  SELECT doc_id, ch,
        |    count(*) AS n_samples,
        |    max(abs(v)) AS peak,
        |    sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zero_crossings
        |  FROM (SELECT doc_id, ch, v,
        |          lag(v) OVER (PARTITION BY doc_id, ch ORDER BY i) AS pv
        |        FROM smp)
        |  GROUP BY doc_id, ch)
        |SELECT doc_id AS media_id, CAST(ch AS INTEGER) AS channel,
        |  CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak,
        |  CAST(sum_sq AS BIGINT) AS sum_sq,
        |  CAST(floor(sqrt(sum_sq / n_samples) * 1000) AS BIGINT) AS rms_milli,
        |  CAST(zero_crossings AS BIGINT) AS zero_crossings
        |FROM agg
        |ORDER BY media_id, channel""".stripMargin,
    // MP3 replay: the fixture's closed forms — 3 + id%5 frames, Table
    // B.2 bitrate at 1 + id%14, MPEG-1 sample rate at id%3, per-frame
    // padding (id+f)%2, mono iff mode 3; frame bytes by the Layer III
    // formula (integer division in both engines)
    "media_audio_mp3" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |       [CAST(doc_id % 14 AS INT) + 1] AS BIGINT) AS bitrate_kbps,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |       ELSE 32000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS BIGINT)
        |    AS channels,
        |  CAST((doc_id + f) % 2 AS BIGINT) AS padded,
        |  CAST((144000 * [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |          [CAST(doc_id % 14 AS INT) + 1])
        |       // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |           ELSE 32000 END)
        |       + (doc_id + f) % 2 AS BIGINT) AS frame_bytes
        |FROM (SELECT doc_id, unnest(range(0, 3 + doc_id % 5)) AS f
        |      FROM documents WHERE doc_id % 13 <> 0)
        |ORDER BY media_id, frame_idx""".stripMargin,
    // real-crawl MP3 replay: version 10/20/25 by id%3 with the matching
    // 13818-3 bitrate table and halved/quartered rates, granule constant
    // 144000 vs 72000, ID3v2 size 30 + id%50 when id%7 < 3, Xing/Info
    // VBR fields when id%5 < 3 (the info frame rides bitrate index
    // max(1+id%14, 4) so its header always fits), physical frames =
    // music + Xing, padding summed per music frame
    "media_audio_mp3_vbr" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST([10, 20, 25][CAST(doc_id % 3 AS INT) + 1] AS BIGINT)
        |      AS version_x10,
        |    CASE doc_id % 3
        |      WHEN 0 THEN [44100, 48000, 32000]
        |        [CAST((doc_id // 3) % 3 AS INT) + 1]
        |      WHEN 1 THEN [22050, 24000, 16000]
        |        [CAST((doc_id // 3) % 3 AS INT) + 1]
        |      ELSE [11025, 12000, 8000]
        |        [CAST((doc_id // 3) % 3 AS INT) + 1]
        |    END AS sr,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |        [CAST(doc_id % 14 AS INT) + 1]
        |      ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160]
        |        [CAST(doc_id % 14 AS INT) + 1]
        |    END AS br,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |        [CAST(greatest(doc_id % 14 + 1, 4) AS INT)]
        |      ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160]
        |        [CAST(greatest(doc_id % 14 + 1, 4) AS INT)]
        |    END AS brx,
        |    CASE WHEN (doc_id // 2) % 4 = 3 THEN 1 ELSE 2 END AS channels,
        |    3 + doc_id % 5 AS n_music,
        |    CASE WHEN doc_id % 5 < 3 THEN 1 ELSE 0 END AS has_vbr
        |  FROM documents WHERE doc_id % 13 <> 0),
        |q AS (
        |  SELECT doc_id, version_x10, sr, channels, n_music, has_vbr,
        |    (CASE WHEN version_x10 = 10 THEN 144000 ELSE 72000 END)
        |      * br // sr AS base,
        |    (CASE WHEN version_x10 = 10 THEN 144000 ELSE 72000 END)
        |      * brx // sr AS base_x,
        |    list_sum(list_transform(
        |      generate_series(0, CAST(n_music - 1 AS INT)),
        |      f -> (doc_id + f) % 2)) AS pad_sum
        |  FROM p)
        |SELECT doc_id AS media_id, version_x10,
        |  CAST(n_music + has_vbr AS BIGINT) AS n_frames,
        |  CAST(n_music * base + pad_sum + has_vbr * base_x AS BIGINT)
        |    AS total_bytes,
        |  CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 7 < 3 THEN 30 + doc_id % 50 ELSE 0 END
        |    AS BIGINT) AS id3_bytes,
        |  CAST(has_vbr AS BIGINT) AS vbr_flag,
        |  CAST(CASE WHEN has_vbr = 1 THEN 100 + doc_id % 900 ELSE 0 END
        |    AS BIGINT) AS vbr_frames,
        |  CAST(CASE WHEN has_vbr = 1 THEN 10000 + doc_id % 90000 ELSE 0 END
        |    AS BIGINT) AS vbr_bytes
        |FROM q
        |ORDER BY media_id""".stripMargin,
    // layer-matrix replay: the per-(version, layer) bitrate tables,
    // Layer I's slot arithmetic ((12000·br//sr + pad)·4), Layer II's
    // universal 144000 constant, Layer III's version-halved one, and
    // the VBRI fields on the MPEG-1 Layer III slice (vbr_kind 2)
    "media_audio_mp3_layers" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS layer,
        |    CAST([10, 20, 25][CAST((doc_id // 3) % 3 AS INT) + 1] AS BIGINT)
        |      AS version_x10,
        |    CASE (doc_id // 3) % 3
        |      WHEN 0 THEN [44100, 48000, 32000]
        |        [CAST((doc_id // 9) % 3 AS INT) + 1]
        |      WHEN 1 THEN [22050, 24000, 16000]
        |        [CAST((doc_id // 9) % 3 AS INT) + 1]
        |      ELSE [11025, 12000, 8000]
        |        [CAST((doc_id // 9) % 3 AS INT) + 1]
        |    END AS sr,
        |    CASE
        |      WHEN (doc_id // 3) % 3 = 0 AND doc_id % 3 = 0 THEN
        |        [32,64,96,128,160,192,224,256,288,320,352,384,416,448]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |      WHEN (doc_id // 3) % 3 = 0 AND doc_id % 3 = 1 THEN
        |        [32,48,56,64,80,96,112,128,160,192,224,256,320,384]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |      WHEN (doc_id // 3) % 3 = 0 THEN
        |        [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |      WHEN doc_id % 3 = 0 THEN
        |        [32,48,56,64,80,96,112,128,144,160,176,192,224,256]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |      ELSE
        |        [8,16,24,32,40,48,56,64,80,96,112,128,144,160]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |    END AS br,
        |    [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |      [CAST(greatest(doc_id % 14 + 1, 4) AS INT)] AS brx,
        |    CASE WHEN (doc_id // 2) % 4 = 3 THEN 1 ELSE 2 END AS channels,
        |    3 + doc_id % 5 AS n_music,
        |    CASE WHEN doc_id % 3 = 2 AND (doc_id // 3) % 3 = 0
        |         AND doc_id % 5 < 2 THEN 1 ELSE 0 END AS has_vbri
        |  FROM documents WHERE doc_id % 13 <> 0),
        |q AS (
        |  SELECT doc_id, layer, version_x10, sr, channels, n_music, has_vbri,
        |    CASE layer
        |      WHEN 1 THEN (12000 * br // sr) * 4
        |      WHEN 2 THEN 144000 * br // sr
        |      ELSE (CASE WHEN version_x10 = 10 THEN 144000 ELSE 72000 END)
        |        * br // sr
        |    END AS base,
        |    CASE WHEN layer = 1 THEN 4 ELSE 1 END AS slot,
        |    144000 * brx // sr AS base_x,
        |    list_sum(list_transform(
        |      generate_series(0, CAST(n_music - 1 AS INT)),
        |      f -> (doc_id + f) % 2)) AS pad_sum
        |  FROM p)
        |SELECT doc_id AS media_id, layer, version_x10,
        |  CAST(n_music + has_vbri AS BIGINT) AS n_frames,
        |  CAST(n_music * base + pad_sum * slot + has_vbri * base_x
        |    AS BIGINT) AS total_bytes,
        |  CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(2 * has_vbri AS BIGINT) AS vbr_kind,
        |  CAST(CASE WHEN has_vbri = 1 THEN 200 + doc_id % 800 ELSE 0 END
        |    AS BIGINT) AS vbr_frames,
        |  CAST(CASE WHEN has_vbri = 1 THEN 20000 + doc_id % 80000 ELSE 0 END
        |    AS BIGINT) AS vbr_bytes
        |FROM q
        |ORDER BY media_id""".stripMargin,
    // fMP4 replay: closed forms of the fixture's GOP rules — 2 + id%4
    // fragments; even fragments carry per-sample trun sizes/durations
    // (list sums), odd fragments inherit the trex defaults; decode-time
    // baselines are the running duration sum over earlier fragments
    "media_video_fragments" ->
      """WITH fr AS (
        |  SELECT doc_id, f,
        |    4 + (doc_id + f) % 5 AS n,
        |    CASE WHEN f % 2 = 0 THEN list_sum(list_transform(
        |        generate_series(0, CAST(3 + (doc_id + f) % 5 AS INT)),
        |        i -> 400 + (doc_id + 7 * f + i) % 100))
        |      ELSE (4 + (doc_id + f) % 5) * (512 + doc_id % 128)
        |    END AS dur,
        |    CASE WHEN f % 2 = 0 THEN list_sum(list_transform(
        |        generate_series(0, CAST(3 + (doc_id + f) % 5 AS INT)),
        |        i -> 100 + (doc_id + 13 * f + i) % 200))
        |      ELSE (4 + (doc_id + f) % 5) * (256 + doc_id % 64)
        |    END AS bytes
        |  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 4)) AS f
        |        FROM documents WHERE doc_id % 13 <> 0))
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frag_idx,
        |  CAST(f + 1 AS BIGINT) AS sequence,
        |  CAST(1 AS BIGINT) AS track_id,
        |  CAST(coalesce(sum(dur) OVER (PARTITION BY doc_id ORDER BY f
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS base_decode_time,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(bytes AS BIGINT) AS total_bytes,
        |  CAST(dur AS BIGINT) AS duration_ticks,
        |  CAST(f % 2 AS BIGINT) AS uses_defaults
        |FROM fr
        |ORDER BY media_id, frag_idx""".stripMargin,
    // muxed fMP4 replay: the two-track fixture's closed forms — track 1
    // repeats the single-track rules; track 2 (audio) never carries
    // per-sample trun fields, inheriting trex defaults (1024 ticks,
    // 64+id%32 bytes) on even fragments and tfhd overrides (960 ticks,
    // 48+id%16 bytes) on odd; per-track running decode-time baselines
    "media_video_fragment_tracks" ->
      """WITH fr AS MATERIALIZED (
        |  SELECT doc_id, f,
        |    4 + (doc_id + f) % 5 AS n,
        |    CASE WHEN f % 2 = 0 THEN list_sum(list_transform(
        |        generate_series(0, CAST(3 + (doc_id + f) % 5 AS INT)),
        |        i -> 400 + (doc_id + 7 * f + i) % 100))
        |      ELSE (4 + (doc_id + f) % 5) * (512 + doc_id % 128)
        |    END AS dur,
        |    CASE WHEN f % 2 = 0 THEN list_sum(list_transform(
        |        generate_series(0, CAST(3 + (doc_id + f) % 5 AS INT)),
        |        i -> 100 + (doc_id + 13 * f + i) % 200))
        |      ELSE (4 + (doc_id + f) % 5) * (256 + doc_id % 64)
        |    END AS bytes,
        |    6 + (doc_id + 2 * f) % 7 AS n2,
        |    (6 + (doc_id + 2 * f) % 7) *
        |      (CASE WHEN f % 2 = 0 THEN 1024 ELSE 960 END) AS dur2,
        |    (6 + (doc_id + 2 * f) % 7) *
        |      (CASE WHEN f % 2 = 0 THEN 64 + doc_id % 32
        |            ELSE 48 + doc_id % 16 END) AS bytes2
        |  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 4)) AS f
        |        FROM documents WHERE doc_id % 13 <> 0)),
        |tr AS (
        |  SELECT doc_id, f, 1 AS track_id, n AS n_samples,
        |    bytes AS total_bytes, dur AS duration_ticks,
        |    coalesce(sum(dur) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS base_decode_time,
        |    f % 2 AS uses_defaults
        |  FROM fr
        |  UNION ALL
        |  SELECT doc_id, f, 2, n2, bytes2, dur2,
        |    coalesce(sum(dur2) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
        |    1
        |  FROM fr)
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frag_idx,
        |  CAST(f + 1 AS BIGINT) AS sequence,
        |  CAST(track_id AS BIGINT) AS track_id,
        |  CAST(base_decode_time AS BIGINT) AS base_decode_time,
        |  CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(total_bytes AS BIGINT) AS total_bytes,
        |  CAST(duration_ticks AS BIGINT) AS duration_ticks,
        |  CAST(uses_defaults AS BIGINT) AS uses_defaults
        |FROM tr
        |ORDER BY media_id, frag_idx, track_id""".stripMargin,
    // md5-portable MinHash+LSH: the full pipeline restated — ONE 32-bit
    // md5 base hash per distinct 3-gram shingle, 16 affine permutations
    // (a_s·h + b_s mod 2³², constants from Dedup.mhA/mhB so the two
    // statements cannot drift), per-seed minima, 4 bands of 4 rows
    // keyed on the raw signature slice, band-bucket self-join,
    // exact-Jaccard verification (the jp-CTE idiom)
    "minhash_lsh_portable" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
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
        |ORDER BY doc_a, doc_b""".stripMargin,
    // md5-portable SimHash signature chunks: the shared CTE chain (64
    // per-bit vote sums over distinct-token 32-bit md5 half-hashes)
    "simhash_signatures_portable" ->
      s"""WITH ${Sql.simhashPortableCtes}
         |SELECT doc_id, c0, c1, c2, c3 FROM sp
         |ORDER BY doc_id""".stripMargin,
    // md5-portable SimHash pairs: 16-bit-chunk pigeonhole equi-join over
    // the SAME sp CTE, Hamming = bit_count sum of the four chunk XORs
    "simhash_pairs_portable" ->
      s"""WITH ${Sql.simhashPortableCtes},
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
         |ORDER BY doc_a, doc_b""".stripMargin,
    // ADTS replay: the fixture's closed forms — 2 + id%5 frames, aot and
    // channels 1 + id%3, sample rate from the Table 1.18 list at id%13,
    // frame bytes 7 + (10 + (id + 7f)%50); every 13th doc is planted-
    // truncated and the quarantine excludes it entirely
    "media_audio_adts" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS aot,
        |  CAST([96000,88200,64000,48000,44100,32000,24000,22050,16000,
        |        12000,11025,8000,7350][CAST(doc_id % 13 AS INTEGER) + 1]
        |    AS BIGINT) AS sample_rate,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS channels,
        |  CAST(17 + (doc_id + 7 * f) % 50 AS BIGINT) AS frame_bytes
        |FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 5)) AS f
        |      FROM documents WHERE doc_id % 13 <> 0)
        |ORDER BY media_id, frame_idx""".stripMargin,
    "media_audio_adts_stats" ->
      """WITH fr AS (
        |  SELECT doc_id AS media_id, f,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS aot,
        |    CAST([96000,88200,64000,48000,44100,32000,24000,22050,16000,
        |          12000,11025,8000,7350][CAST(doc_id % 13 AS INTEGER) + 1]
        |      AS BIGINT) AS sample_rate,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS channels,
        |    CAST(17 + (doc_id + 7 * f) % 50 AS BIGINT) AS frame_bytes
        |  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 5)) AS f
        |        FROM documents WHERE doc_id % 13 <> 0))
        |SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(frame_bytes) AS BIGINT) AS total_bytes,
        |  CAST(min(aot) AS BIGINT) AS aot,
        |  CAST(min(sample_rate) AS BIGINT) AS sample_rate,
        |  CAST(min(channels) AS BIGINT) AS channels,
        |  CAST((1024000000 * count(*)) // min(sample_rate) AS BIGINT)
        |    AS duration_micros
        |FROM fr GROUP BY media_id
        |ORDER BY media_id""".stripMargin,
    // Walsh coefficients restated from the closed-form sawtooth over the
    // first 64 sample indexes — sign from popcount parity of (i AND k),
    // every clip has >= 100 samples so no short-block quarantine fires
    "media_audio_walsh" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS channels
        |  FROM documents),
        |smp AS (
        |  SELECT c.doc_id, c.ch, s.i,
        |    ((c.doc_id + s.i * (17 + 2 * (c.doc_id % 500)) + 7919 * c.ch)
        |      % 65536) - 32768 AS v
        |  FROM (SELECT doc_id, unnest(generate_series(0, channels - 1)) AS ch
        |        FROM dims) c
        |  JOIN (SELECT doc_id, unnest(generate_series(0, 63)) AS i
        |        FROM dims) s ON c.doc_id = s.doc_id),
        |agg AS (
        |  SELECT doc_id, ch,
        |    CAST(sum(v) AS BIGINT) AS w_dc,
        |    CAST(sum(CASE WHEN bit_count(i & 1) % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS w1,
        |    CAST(sum(CASE WHEN bit_count(i & 2) % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS w2,
        |    CAST(sum(CASE WHEN bit_count(i & 4) % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS w4
        |  FROM smp GROUP BY doc_id, ch)
        |SELECT doc_id AS media_id, CAST(ch AS INTEGER) AS channel,
        |  w_dc, w1, w2, w4,
        |  CAST(CASE WHEN abs(w1) >= abs(w2) AND abs(w1) >= abs(w4) THEN 1
        |       WHEN abs(w2) >= abs(w4) THEN 2 ELSE 4 END AS BIGINT) AS dominant_k
        |FROM agg
        |ORDER BY media_id, channel""".stripMargin,
    // the windowed twin: same closed-form samples, per-window Walsh
    // sums grouped at (doc, ch, window), then |coef| sum/max per bin
    "media_audio_walsh_windows" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |    (100 + doc_id % 1000) // 64 AS n_windows
        |  FROM documents),
        |ctab AS (SELECT doc_id, unnest(generate_series(0, channels - 1)) AS ch
        |         FROM dims),
        |wtab AS (SELECT doc_id, unnest(generate_series(0, n_windows - 1)) AS w
        |         FROM dims),
        |itab AS (SELECT unnest(generate_series(0, 63)) AS i),
        |smp AS (
        |  SELECT c.doc_id, c.ch, wt.w, it.i,
        |    ((c.doc_id + (wt.w * 64 + it.i) * (17 + 2 * (c.doc_id % 500))
        |      + 7919 * c.ch) % 65536) - 32768 AS v
        |  FROM ctab c
        |  JOIN wtab wt ON wt.doc_id = c.doc_id
        |  CROSS JOIN itab it),
        |wagg AS (
        |  SELECT doc_id, ch, w,
        |    sum(v) AS a_dc,
        |    sum(CASE WHEN bit_count(i & 1) % 2 = 0 THEN v ELSE -v END) AS a1,
        |    sum(CASE WHEN bit_count(i & 2) % 2 = 0 THEN v ELSE -v END) AS a2,
        |    sum(CASE WHEN bit_count(i & 4) % 2 = 0 THEN v ELSE -v END) AS a4
        |  FROM smp GROUP BY doc_id, ch, w)
        |SELECT doc_id AS media_id, CAST(ch AS INTEGER) AS channel,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(abs(a_dc)) AS BIGINT) AS e_dc_sum,
        |  CAST(max(abs(a_dc)) AS BIGINT) AS e_dc_max,
        |  CAST(sum(abs(a1)) AS BIGINT) AS e1_sum,
        |  CAST(max(abs(a1)) AS BIGINT) AS e1_max,
        |  CAST(sum(abs(a2)) AS BIGINT) AS e2_sum,
        |  CAST(max(abs(a2)) AS BIGINT) AS e2_max,
        |  CAST(sum(abs(a4)) AS BIGINT) AS e4_sum,
        |  CAST(max(abs(a4)) AS BIGINT) AS e4_max
        |FROM wagg
        |GROUP BY doc_id, ch
        |ORDER BY media_id, channel""".stripMargin,
    "media_audio" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(8000 * (1 + doc_id % 4) AS INTEGER) AS sample_rate,
        |  CAST(16 AS INTEGER) AS bits_per_sample,
        |  CAST(100 + doc_id % 1000 AS BIGINT) AS n_samples,
        |  CAST((100 + doc_id % 1000) * 1000 // (8000 * (1 + doc_id % 4)) AS BIGINT)
        |    AS duration_ms
        |FROM documents
        |ORDER BY media_id""".stripMargin,
    "media_video" ->
      """SELECT doc_id AS media_id,
        |  CAST(1000 * (1 + doc_id % 3) AS INTEGER) AS timescale,
        |  CAST(1000 + doc_id % 60000 AS INTEGER) AS duration_ticks,
        |  CAST((1000 + doc_id % 60000) * 1000 // (1000 * (1 + doc_id % 3)) AS BIGINT)
        |    AS duration_ms
        |FROM documents
        |ORDER BY media_id""".stripMargin,
    // closed forms of H264.specFor's id rule: width/height carry the
    // 4:2:0 crop subtraction (2 px per chroma-unit offset)
    "media_video_codec" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 66 ELSE 77 END AS BIGINT) AS profile_idc,
        |  CAST(30 + doc_id % 21 AS BIGINT) AS level_idc,
        |  CAST((20 + doc_id % 60) * 16 - 2 * (doc_id % 2) AS BIGINT) AS coded_width,
        |  CAST((12 + doc_id % 34) * 16 - 2 * ((doc_id // 2) % 2) AS BIGINT) AS coded_height
        |FROM documents
        |WHERE doc_id % 13 <> 0
        |ORDER BY media_id""".stripMargin,
    // closed forms of H264.ppsSpecFor's id rule (booleans as 0/1;
    // init_qp = 26 + ((id % 21) - 10) = 16 + id % 21)
    "media_video_pps" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS entropy_cabac,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS num_slice_groups,
        |  CAST(1 + doc_id % 4 AS BIGINT) AS num_ref_idx_l0,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS num_ref_idx_l1,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS weighted_pred,
        |  CAST(doc_id % 3 AS BIGINT) AS weighted_bipred_idc,
        |  CAST(16 + doc_id % 21 AS BIGINT) AS init_qp,
        |  CAST((doc_id % 5) - 2 AS BIGINT) AS chroma_qp_offset,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS deblocking_control,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS constrained_intra_pred,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS BIGINT) AS redundant_pic_cnt
        |FROM documents
        |WHERE doc_id % 13 <> 0
        |ORDER BY media_id""".stripMargin,
    // closed forms of H264.seiSpecFor: recovery payload size from the
    // ue(v) code length (cnt+1's bit length band), uuid hex from the
    // (id+i) % 256 byte rule
    "media_video_sei" ->
      """WITH rp AS (
        |  SELECT doc_id, 0 AS msg_idx, 6 AS sei_type,
        |    (CASE WHEN (doc_id % 30) + 1 >= 16 THEN 9
        |          WHEN (doc_id % 30) + 1 >= 8 THEN 7
        |          WHEN (doc_id % 30) + 1 >= 4 THEN 5
        |          WHEN (doc_id % 30) + 1 >= 2 THEN 3 ELSE 1 END + 12) // 8
        |      AS payload_size,
        |    CAST(NULL AS VARCHAR) AS uuid_hex,
        |    CAST(doc_id % 30 AS BIGINT) AS recovery_frame_cnt,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS exact_match,
        |    CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS broken_link
        |  FROM documents WHERE doc_id % 13 <> 0),
        |ud AS (
        |  SELECT doc_id, 1 AS msg_idx, 5 AS sei_type, 21 AS payload_size,
        |    list_aggregate(list_transform(range(0, 16),
        |      i -> printf('%02x', (doc_id + i) % 256)), 'string_agg', '') AS uuid_hex,
        |    CAST(NULL AS BIGINT) AS recovery_frame_cnt,
        |    CAST(NULL AS BIGINT) AS exact_match,
        |    CAST(NULL AS BIGINT) AS broken_link
        |  FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 3 = 0)
        |SELECT doc_id AS media_id, CAST(msg_idx AS BIGINT) AS msg_idx,
        |  CAST(sei_type AS BIGINT) AS sei_type,
        |  CAST(payload_size AS BIGINT) AS payload_size, uuid_hex,
        |  recovery_frame_cnt, exact_match, broken_link
        |FROM (SELECT * FROM rp UNION ALL SELECT * FROM ud)
        |ORDER BY media_id, msg_idx""".stripMargin,
    // closed forms of H264.sliceSpecsFor's GOP rule: 3 + id%4 slices,
    // slice 0 an IDR I (type 7, idr_pic_id = id%8), then B on
    // (id+j)%3=0, in-stream I on (id+j)%5=0, P otherwise
    "media_video_slices" ->
      """SELECT doc_id AS media_id, CAST(j AS BIGINT) AS slice_idx,
        |  CAST(CASE WHEN j = 0 THEN 5 ELSE 1 END AS BIGINT) AS nal_type,
        |  CAST(0 AS BIGINT) AS first_mb,
        |  CAST(CASE WHEN j = 0 THEN 7
        |            WHEN (doc_id + j) % 3 = 0 THEN 1
        |            WHEN (doc_id + j) % 5 = 0 THEN 2
        |            ELSE 0 END AS BIGINT) AS slice_type,
        |  CAST(CASE WHEN j = 0 THEN 0 ELSE j % 16 END AS BIGINT) AS frame_num,
        |  CAST(CASE WHEN j = 0 THEN 0 ELSE (2 * j) % 16 END AS BIGINT) AS poc_lsb,
        |  CAST(CASE WHEN j = 0 THEN doc_id % 8 ELSE NULL END AS BIGINT) AS idr_pic_id
        |FROM (SELECT doc_id, unnest(range(0, 3 + doc_id % 4)) AS j
        |      FROM documents WHERE doc_id % 13 <> 0)
        |ORDER BY media_id, slice_idx""".stripMargin,
    "media_video_samples" -> videoSamplesSql(""),
    // the profile twin: the SAME samples body (planted corruptions
    // excluded) bucketed and aggregated; the corrupt bucket counts the
    // excluded payloads directly
    "media_video_profile" ->
      (s"""WITH samples AS (${videoSamplesSql("WHERE doc_id % 11 != 0")}),
        |tracks AS (
        |  SELECT CASE WHEN width = 0 THEN 'no-display'
        |              WHEN height < 480 THEN 'sd'
        |              WHEN height < 720 THEN 'ed' ELSE 'hd' END AS bucket,
        |         1 AS parsed, total_sample_bytes AS bytes,
        |         bitrate_bps AS bitrate, keyframe_interval AS kf
        |  FROM samples
        |  UNION ALL
        |  SELECT 'corrupt', 0, 0, 0, 0 FROM documents WHERE doc_id % 11 = 0)
        |SELECT bucket,
        |  CAST(count(*) AS BIGINT) AS n_tracks,
        |  CAST(sum(CASE WHEN parsed = 1 THEN bytes ELSE 0 END) AS BIGINT)
        |    AS total_sample_bytes,
        |  CAST(min(CASE WHEN parsed = 1 THEN bitrate END) AS BIGINT)
        |    AS bitrate_min_bps,
        |  CAST(max(CASE WHEN parsed = 1 THEN bitrate END) AS BIGINT)
        |    AS bitrate_max_bps,
        |  CASE WHEN sum(parsed) = 0 THEN NULL
        |       ELSE CAST(1000 * sum(CASE WHEN parsed = 1 THEN bitrate ELSE 0
        |                 END) // sum(parsed) AS BIGINT) END
        |    AS avg_bitrate_milli,
        |  CAST(min(CASE WHEN parsed = 1 THEN kf END) AS BIGINT)
        |    AS kf_interval_min,
        |  CAST(max(CASE WHEN parsed = 1 THEN kf END) AS BIGINT)
        |    AS kf_interval_max
        |FROM tracks GROUP BY bucket
        |ORDER BY bucket""").stripMargin,
    "media_resize" ->
      """WITH dims AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 2048 AS INTEGER) AS w,
        |    CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS h
        |  FROM documents),
        |s AS (
        |  SELECT media_id, w, h,
        |    least(256.0 / greatest(w, h), 1.0) AS scale
        |  FROM dims)
        |SELECT media_id,
        |  CAST(greatest(floor(w * scale), 1) AS INTEGER) AS resized_w,
        |  CAST(greatest(floor(h * scale), 1) AS INTEGER) AS resized_h
        |FROM s
        |ORDER BY media_id""".stripMargin,
    // time-based-media profile: the oracle restates the planted
    // populations (corrupt = doc_id % 13 = 0) and the closed-form
    // durations (WAV frames/rate, MP4 ticks·1000 // timescale)
    "media_av_profile" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'audio/wav'
        |         ELSE 'video/mp4' END AS media_type,
        |    CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END AS parsed,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ((100 + doc_id % 1000) * 1000) // (8000 * (1 + doc_id % 4))
        |      ELSE ((1000 + doc_id % 60000) * 1000) // (1000 * (1 + doc_id % 3))
        |    END AS dur
        |  FROM documents)
        |SELECT media_type,
        |  count(*) AS n_media,
        |  CAST(sum(parsed) AS BIGINT) AS n_parsed,
        |  CAST(count(*) - sum(parsed) AS BIGINT) AS n_corrupt,
        |  CAST(min(CASE WHEN parsed = 1 THEN dur END) AS BIGINT) AS dur_min_ms,
        |  CAST(max(CASE WHEN parsed = 1 THEN dur END) AS BIGINT) AS dur_max_ms,
        |  CAST(1000 * sum(CASE WHEN parsed = 1 THEN dur ELSE 0 END)
        |    // sum(parsed) AS BIGINT) AS avg_dur_milli,
        |  CAST(sum(CASE WHEN parsed = 1 AND dur >= 30000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_long_outliers
        |FROM base
        |GROUP BY media_type
        |ORDER BY media_type""".stripMargin,
    // Per-format profile of the mixed fixture: Spark counts what its
    // parsers actually parsed; the oracle restates the planted populations
    // (corrupt = doc_id % 17 = 0, dims from the synth formulas)
    "media_profile" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image/png'
        |                    WHEN 1 THEN 'image/jpeg'
        |                    ELSE 'image/gif' END AS media_type,
        |    doc_id % 17 = 0 AS corrupt,
        |    CAST(16 + doc_id % 2048 AS INTEGER) AS w,
        |    CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS h
        |  FROM documents)
        |SELECT media_type,
        |  count(*)::BIGINT AS n_media,
        |  sum(CASE WHEN corrupt THEN 0 ELSE 1 END)::BIGINT AS n_parsed,
        |  sum(CASE WHEN corrupt THEN 1 ELSE 0 END)::BIGINT AS n_corrupt,
        |  min(CASE WHEN NOT corrupt THEN w END) AS w_min,
        |  max(CASE WHEN NOT corrupt THEN w END) AS w_max,
        |  min(CASE WHEN NOT corrupt THEN h END) AS h_min,
        |  max(CASE WHEN NOT corrupt THEN h END) AS h_max,
        |  CAST(1000 * sum(CASE WHEN NOT corrupt THEN w ELSE 0 END)
        |    // sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS avg_w_milli,
        |  CAST(1000 * sum(CASE WHEN NOT corrupt THEN h ELSE 0 END)
        |    // sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS avg_h_milli,
        |  sum(CASE WHEN NOT corrupt AND greatest(w, h) >= 3 * least(w, h)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_aspect_outliers
        |FROM m GROUP BY media_type
        |ORDER BY media_type""".stripMargin,
    // GIF pixel statistics: index (x+y)%8 selects a palette entry whose
    // channels are linear in doc_id and the index — the oracle evaluates
    // the formulas per pixel (x × y cross join) while Spark must LZW-
    // decompress real sub-block streams and look the palette up
    "media_gif_pixel_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(16 + doc_id % 48 AS INTEGER) AS w,
        |         CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT a.doc_id, (a.x + b.y) % 8 AS c
        |  FROM (SELECT doc_id, unnest(generate_series(0, w - 1)) AS x FROM dims) a
        |  JOIN (SELECT doc_id, unnest(generate_series(0, h - 1)) AS y FROM dims) b
        |    ON a.doc_id = b.doc_id),
        |agg AS (
        |  SELECT doc_id,
        |    count(*) AS n_pixels,
        |    sum((doc_id + 29 * c) % 256) AS r_sum,
        |    min((doc_id + 29 * c) % 256) AS r_min,
        |    max((doc_id + 29 * c) % 256) AS r_max,
        |    sum((3 * doc_id + 17 + 41 * c) % 256) AS g_sum,
        |    min((3 * doc_id + 17 + 41 * c) % 256) AS g_min,
        |    max((3 * doc_id + 17 + 41 * c) % 256) AS g_max,
        |    sum((5 * doc_id + 31 + 53 * c) % 256) AS b_sum,
        |    min((5 * doc_id + 31 + 53 * c) % 256) AS b_min,
        |    max((5 * doc_id + 31 + 53 * c) % 256) AS b_max
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height,
        |  CAST(a.n_pixels AS BIGINT) AS n_pixels,
        |  round(a.r_sum / a.n_pixels, 6) AS r_mean,
        |  round(a.g_sum / a.n_pixels, 6) AS g_mean,
        |  round(a.b_sum / a.n_pixels, 6) AS b_mean,
        |  CAST((299 * a.r_sum + 587 * a.g_sum + 114 * a.b_sum)
        |    // a.n_pixels AS BIGINT) AS lum_milli,
        |  CAST(a.r_min AS INTEGER) AS r_min, CAST(a.r_max AS INTEGER) AS r_max,
        |  CAST(a.g_min AS INTEGER) AS g_min, CAST(a.g_max AS INTEGER) AS g_max,
        |  CAST(a.b_min AS INTEGER) AS b_min, CAST(a.b_max AS INTEGER) AS b_max,
        |  CAST(255 AS INTEGER) AS a_min, CAST(255 AS INTEGER) AS a_max
        |FROM dims d JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY media_id""".stripMargin,
    // JPEG pixel statistics: every 8x8 block of the fixture is constant
    // (DC-only, q(DC)=8 → exact reconstruction), so the decoded RGB of
    // block (bx,by) is the floor(x+0.5)-rounded JFIF conversion of the
    // closed-form YCbCr constants — the oracle evaluates per BLOCK
    // (bx × by cross join) and weights by the 64 pixels each block
    // contributes, while Spark must Huffman-decode real scan data and
    // run the IDCT. The conversion expressions are written with the
    // SAME literals and association as the Scala decoder, so both
    // engines compute identical IEEE doubles before the floor.
    "media_jpeg_pixel_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(2 + doc_id % 6 AS INTEGER) AS bw,
        |         CAST(2 + (doc_id * 5) % 6 AS INTEGER) AS bh
        |  FROM documents),
        |blk AS (
        |  SELECT a.doc_id,
        |    (a.doc_id + 7 * a.bx + 13 * b.by) % 256 AS y,
        |    (3 * a.doc_id + 17 + 29 * a.bx) % 256 AS cb,
        |    (5 * a.doc_id + 31 + 37 * b.by) % 256 AS cr
        |  FROM (SELECT doc_id, unnest(generate_series(0, bw - 1)) AS bx FROM dims) a
        |  JOIN (SELECT doc_id, unnest(generate_series(0, bh - 1)) AS by FROM dims) b
        |    ON a.doc_id = b.doc_id),
        |px AS (
        |  SELECT doc_id,
        |    GREATEST(0, LEAST(255, CAST(floor(y + 1.402 * (cr - 128) + 0.5) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5) AS BIGINT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(floor(y + 1.772 * (cb - 128) + 0.5) AS BIGINT))) AS b
        |  FROM blk),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_blocks,
        |    sum(r) AS r_bsum, min(r) AS r_min, max(r) AS r_max,
        |    sum(g) AS g_bsum, min(g) AS g_min, max(g) AS g_max,
        |    sum(b) AS b_bsum, min(b) AS b_min, max(b) AS b_max
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CAST(8 * d.bw AS INTEGER) AS width, CAST(8 * d.bh AS INTEGER) AS height,
        |  CAST(64 * a.n_blocks AS BIGINT) AS n_pixels,
        |  round((64 * a.r_bsum) / (64 * a.n_blocks), 6) AS r_mean,
        |  round((64 * a.g_bsum) / (64 * a.n_blocks), 6) AS g_mean,
        |  round((64 * a.b_bsum) / (64 * a.n_blocks), 6) AS b_mean,
        |  CAST((299 * 64 * a.r_bsum + 587 * 64 * a.g_bsum + 114 * 64 * a.b_bsum)
        |    // (64 * a.n_blocks) AS BIGINT) AS lum_milli,
        |  CAST(a.r_min AS INTEGER) AS r_min, CAST(a.r_max AS INTEGER) AS r_max,
        |  CAST(a.g_min AS INTEGER) AS g_min, CAST(a.g_max AS INTEGER) AS g_max,
        |  CAST(a.b_min AS INTEGER) AS b_min, CAST(a.b_max AS INTEGER) AS b_max,
        |  CAST(255 AS INTEGER) AS a_min, CAST(255 AS INTEGER) AS a_max
        |FROM dims d JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY media_id""".stripMargin,
    // Pixel statistics of the synthesized RGBA PNGs: r varies along x,
    // g along y, b along x (see Multimodal.buildPngPixels) — so channel
    // sums over the image factor into per-axis sums × the other side,
    // means are exact rationals, and the Rec.601 luminance mean is an
    // integer DIV of exact sums. Spark must inflate + unfilter real
    // deflate streams to reproduce these numbers.
    "media_pixel_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(16 + doc_id % 48 AS INTEGER) AS w,
        |         CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS h
        |  FROM documents),
        |xs AS (
        |  SELECT doc_id,
        |    sum((doc_id + x) % 256) AS rx_sum,
        |    min((doc_id + x) % 256) AS rx_min,
        |    max((doc_id + x) % 256) AS rx_max,
        |    sum((5 * doc_id + 31 + x) % 256) AS bx_sum,
        |    min((5 * doc_id + 31 + x) % 256) AS bx_min,
        |    max((5 * doc_id + 31 + x) % 256) AS bx_max
        |  FROM (SELECT doc_id, unnest(generate_series(0, w - 1)) AS x FROM dims)
        |  GROUP BY doc_id),
        |ys AS (
        |  SELECT doc_id,
        |    sum((3 * doc_id + 17 + y) % 256) AS gy_sum,
        |    min((3 * doc_id + 17 + y) % 256) AS gy_min,
        |    max((3 * doc_id + 17 + y) % 256) AS gy_max
        |  FROM (SELECT doc_id, unnest(generate_series(0, h - 1)) AS y FROM dims)
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height,
        |  CAST(d.w AS BIGINT) * d.h AS n_pixels,
        |  round((d.h * xs.rx_sum) / (CAST(d.w AS BIGINT) * d.h), 6) AS r_mean,
        |  round((d.w * ys.gy_sum) / (CAST(d.w AS BIGINT) * d.h), 6) AS g_mean,
        |  round((d.h * xs.bx_sum) / (CAST(d.w AS BIGINT) * d.h), 6) AS b_mean,
        |  CAST((299 * d.h * xs.rx_sum + 587 * d.w * ys.gy_sum + 114 * d.h * xs.bx_sum)
        |    // (CAST(d.w AS BIGINT) * d.h) AS BIGINT) AS lum_milli,
        |  CAST(xs.rx_min AS INTEGER) AS r_min, CAST(xs.rx_max AS INTEGER) AS r_max,
        |  CAST(ys.gy_min AS INTEGER) AS g_min, CAST(ys.gy_max AS INTEGER) AS g_max,
        |  CAST(xs.bx_min AS INTEGER) AS b_min, CAST(xs.bx_max AS INTEGER) AS b_max,
        |  CAST(255 AS INTEGER) AS a_min, CAST(255 AS INTEGER) AS a_max
        |FROM dims d
        |JOIN xs ON d.doc_id = xs.doc_id
        |JOIN ys ON d.doc_id = ys.doc_id
        |ORDER BY media_id""".stripMargin,
    "event_prop_stats" ->
      """SELECT event_type, count(*) AS n,
        |  round(avg(k), 6) AS avg_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
  )
}
