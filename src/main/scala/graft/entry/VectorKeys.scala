package graft
package entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Coreset, Embeddings, Kmeans, Knn, Pca, Projection, Ranking, SearchApi}

/** Exact vector keys: kNN by metric, batch, filter, range, delete and
  * stats (the reference's search, insert, delete and stats routes), plus
  * projections, PCA, k-means, coresets and embedding mining.
  */
object VectorKeys {
  import Shared.{queryVec, queryBatch}
  import Key.key

  private def knnByMetric(metric: String)(spark: SparkSession, dir: String): DataFrame =
    Knn.knn(
      Tables.embeddings(spark, dir),
      queryVec(spark, dir),
      k = 10,
      metric = VectorFunctions.byName(metric))

  /** The corpus exploded to one `(vec_id, x, i)` row per component: the
    * input of the random-projection oracles. */
  private lazy val rpExplodedCte: String =
    s"""e AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
       |  unnest(generate_series(1, len(embedding))) AS i
       |  FROM ${Sql.E})""".stripMargin

  /** The 64→16 sign projection (Projection.oracleSignSql) rounded per
    * output dimension and gathered back into `pv(vec_id, rp)` — shared by
    * rp_knn and rp_knn_rerank. */
  private lazy val rpProjectedCtes: String =
    s"""$rpExplodedCte,
       |p AS (SELECT e.vec_id, j.j AS out_dim,
       |  round(sum(e.x * ${Projection.oracleSignSql("e.i - 1", "j.j")})
       |        / sqrt(16.0), 6) + 0.0 AS v
       |  FROM e CROSS JOIN generate_series(0, 15) AS j(j)
       |  GROUP BY e.vec_id, j.j),
       |pv AS (SELECT vec_id, list(v ORDER BY out_dim) AS rp
       |       FROM p GROUP BY vec_id)""".stripMargin

  val keys: Seq[Key] = Seq(
    // O2+O5+A2: the reference search default (metric=cosine, k=10;
    // api/rest/server.py:93-99 defaults, :33 k default)
    key("knn_cosine")((s, d) => knnByMetric("cosine")(s, d))
      .oracle(Sql.knnSql("cosine")),
    // O1: euclidean metric variant (graph.py:24-26)
    key("knn_euclidean")((s, d) => knnByMetric("euclidean")(s, d))
      .oracle(Sql.knnSql("euclidean")),
    // O3: manhattan metric variant (graph.py:37-39)
    key("knn_manhattan")((s, d) => knnByMetric("manhattan")(s, d))
      .oracle(Sql.knnSql("manhattan")),
    // O4: negated-dot metric variant (graph.py:41-43)
    key("knn_dot")((s, d) => knnByMetric("dot_product")(s, d))
      .oracle(Sql.knnSql("dot_product")),
    // A2 metadata join (server.py:170-177) — the metadata store is SPARSE
    // (only even ids carry a JSON document) so the coalesce-to-'{}' parity
    // path is exercised on real missing rows, not just in a spec
    key("knn_with_metadata")((s, d) =>
      Knn.knnWithMetadata(
        Tables.embeddings(s, d),
        queryVec(s, d),
        metadata = Tables.embeddings(s, d)
          .where(col("vec_id") % 2 === 0)
          .select(col("vec_id"), to_json(struct(col("label"))).as("metadata")),
        k = 10,
        metric = VectorFunctions.cosine))
      .oracle(s"""${Sql.withQ},
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
         |ORDER BY t.distance, t.vec_id""".stripMargin),
    // batched A2 (generalizes server.py:202-230's sequential loop)
    key("knn_batch")((s, d) =>
      Knn.knnBatch(
        Tables.embeddings(s, d),
        queryBatch(s, d),
        k = 10,
        metric = VectorFunctions.cosine)
        .withColumn("rank", col("rank").cast("long")))
      .oracle(Sql.batchKnnSql()),
    // extension: predicate + top-k (SURVEY §2.5)
    key("filtered_knn")((s, d) =>
      Knn.filteredKnn(
        Tables.embeddings(s, d),
        queryVec(s, d),
        predicate = col("label") === 3,
        k = 10,
        metric = VectorFunctions.cosine))
      .oracle(Sql.knnSql("cosine", "\nWHERE e.label = 3")),
    // extension: all within radius (SURVEY §2.5)
    key("range_search")((s, d) =>
      Knn.rangeSearch(
        Tables.embeddings(s, d),
        queryVec(s, d),
        radius = 0.75,
        metric = VectorFunctions.cosine))
      .oracle(s"""${Sql.withQ}
         |SELECT vec_id, distance FROM (
         |  SELECT e.vec_id, round(${Sql.dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
         |  FROM ${Sql.E} e, q)
         |WHERE distance <= 0.75
         |ORDER BY distance, vec_id""".stripMargin),
    // O9+A3: delete as anti-join (graph.py:191-207)
    key("delete")((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.delete(emb, emb.where(col("vec_id") % 7 === 0).select(col("vec_id")))
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    })
      .oracle(s"""SELECT vec_id, label FROM ${Sql.E}
         |WHERE vec_id NOT IN (SELECT vec_id FROM ${Sql.E} WHERE vec_id % 7 = 0)
         |ORDER BY vec_id""".stripMargin),
    // O10+A5: stats aggregate (graph.py:209-234)
    key("stats")((s, d) => Knn.stats(Tables.embeddings(s, d)))
      .oracle(s"""SELECT label, count(*) AS n_vectors,
         |       round(avg(${Sql.norm("embedding::DOUBLE[]")}), 6) AS avg_norm,
         |       min(vec_id) AS min_id, max(vec_id) AS max_id
         |FROM ${Sql.E}
         |GROUP BY label
         |ORDER BY label""".stripMargin),
    // retrieval evaluation: recall@10 / MRR@10 / binary nDCG@10 of the
    // JL-16 reduced-space run against exact full-dim truth per query —
    // the metrics table a projection/index/fusion change is judged by;
    // corpus-size-independent (two k-bounded frames + one equi-join)
    key("retrieval_eval")((s, d) => {
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
    })
      // truth = the batch-knn CTE; run = the rp_knn CTEs batched over the
      // same 5 queries; metrics with the identical log2 = ln/ln(2) forms
      .oracle(s"""WITH q AS (
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
         |ORDER BY nt.query_id""".stripMargin),
    // JL random projection (Rademacher ±1 matrix from md5(i:j) — a pure
    // function of the indices, so any engine restates the same matrix):
    // 64 → 16 dims, long-form scalar face; map-only, no shuffle
    key("rp_project")((s, d) =>
      Projection.randomProjectTable(Tables.embeddings(s, d), dIn = 64, dOut = 16))
      // the sign matrix restated from the same md5(i:j) rule
      // (Projection.oracleSignSql, adjacent to the Scala signRow)
      .oracle(s"""WITH ${rpExplodedCte},
         |p AS (SELECT e.vec_id, j.j AS out_dim,
         |  sum(e.x * ${Projection.oracleSignSql("e.i - 1", "j.j")}) AS s
         |  FROM e CROSS JOIN generate_series(0, 15) AS j(j)
         |  GROUP BY e.vec_id, j.j)
         |SELECT vec_id, CAST(out_dim AS BIGINT) AS out_dim,
         |  round(s / sqrt(16.0), 6) + 0.0 AS value
         |FROM p
         |ORDER BY vec_id, out_dim""".stripMargin),
    // reduce-then-search: exact cosine top-k in the PROJECTED space (the
    // serving shape where the narrow vectors carry candidate generation)
    key("rp_knn")((s, d) =>
      Projection.projectedKnn(
        Tables.embeddings(s, d), queryVec(s, d), dIn = 64, dOut = 16, k = 10))
      .oracle(s"""WITH ${rpProjectedCtes},
         |q AS (SELECT rp AS qv FROM pv WHERE vec_id = 0)
         |SELECT pv.vec_id,
         |  round(${Sql.dist("cosine", "pv.rp", "q.qv")}, 6) + 0.0 AS distance
         |FROM pv, q
         |ORDER BY distance, vec_id
         |LIMIT 10""".stripMargin),
    // reduce-then-RERANK (r12): projected-space candidates (top k·8,
    // deterministic cut) -> exact full-dim cosine over only the 80
    // survivors -> top-k. The recommended serving pattern as a first-
    // class oracle key; recall line lives in the reducerecall soak
    key("rp_knn_rerank")((s, d) =>
      Projection.projectedKnnRerank(
        Tables.embeddings(s, d), queryVec(s, d),
        dIn = 64, dOut = 16, k = 10, candFactor = 8))
      // the same projected CTEs cut at k·candFactor = 80, then the exact
      // full-dim cosine reranks ONLY those survivors to top-10
      .oracle(s"""WITH ${rpProjectedCtes},
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
         |LIMIT 10""".stripMargin),
    // distributed covariance via the bounded Gramian aggregate (one
    // ~dim²/2 buffer per partition on the shuffle, never n·dim² rows)
    key("embedding_covariance")((s, d) =>
      Pca.covariance(Tables.embeddings(s, d), dim = 64))
      // covariance replay over exploded (vec_id, dim, value) rows — the
      // identically-parenthesized Σxy/n − (Σx/n)(Σy/n) expression
      .oracle(s"""WITH e AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
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
         |ORDER BY i, j""".stripMargin),
    // PCA projection: driver-side Jacobi on the collected dim² stats,
    // map-only centered projection through the native matvec; rows-only
    // (eigensolve ≠ one SQL query), PcaSpec-gated
    key("pca_project")((s, d) =>
      Pca.pcaProject(Tables.embeddings(s, d), dim = 64, c = 8)),
    // whitening: components scaled by 1/sqrt(eigenvalue) — unit-variance
    // uncorrelated coordinates; rows-only like pca_project, PcaSpec gates
    // projected covariance ≈ identity
    key("whiten_project")((s, d) =>
      Pca.whitenProject(Tables.embeddings(s, d), dim = 64, c = 8)),
    // k-center coreset (Gonzalez farthest-point): 6 diverse covering
    // picks + the monotone coverage-radius curve; incremental min-dist
    // map, one narrow pass + 1-row argmax per round
    // integer-exact Lloyd's k-means (r12): the ORACLE-CHECKABLE trainer
    // next to the MLlib-backed IVF (first-k init, micro-unit vectors,
    // integer squared distances, truncating integer means — bit-
    // identical in any engine, unlike every RNG-seeded trainer);
    // 3 unrolled iterations, long-form centroid face + assignment face
    key("kmeans_fit")((s, d) =>
      Kmeans.fitFace(Tables.embeddings(s, d), k = 8, iterations = 3))
      // unrolled Lloyd rounds generated adjacent to the Scala loop
      // (the coreset/pagerank precedent)
      .oracle(Kmeans.oracleSql(Sql.E, 8, 3, "fit")),
    key("kmeans_assign")((s, d) =>
      Kmeans.assignFace(Tables.embeddings(s, d), k = 8, iterations = 3))
      .oracle(Kmeans.oracleSql(Sql.E, 8, 3, "assign")),
    // trained-quantizer ANN with REAL cell pruning (2 of 8 cells) that
    // still hash-matches: deterministic trainer + integer probe ranking
    // + exact rerank — the property the MLlib-RNG path cannot have
    key("kmeans_trained_knn")((s, d) =>
      Kmeans.trainedKnn(Tables.embeddings(s, d), queryVec(s, d),
        k = 10, kCells = 8, iterations = 3, nProbe = 2))
      .oracle(Kmeans.trainedKnnOracleSql(Sql.E, 8, 3,
      k = 10, nProbe = 2, (a, b) => Sql.dist("cosine", a, b))),
    key("coreset_kcenter")((s, d) =>
      Coreset.kCenter(Tables.embeddings(s, d), k = 6))
      // unrolled Gonzalez rounds (the pagerank unrolling precedent);
      // the SQL text is generated next to the Scala loop (Coreset.oracleSql)
      .oracle(Coreset.oracleSql(Sql.E, 6, (a, b) => Sql.dist("cosine", a, b))),
    // per-label centroid table (long form: one scalar row per dimension)
    key("label_centroids")((s, d) =>
      Embeddings.labelCentroids(Tables.embeddings(s, d)))
      .oracle(s"""WITH x AS (SELECT label,
         |  unnest(embedding::DOUBLE[]) AS v,
         |  unnest(generate_series(1, len(embedding))) AS i
         |  FROM ${Sql.E})
         |SELECT label, CAST(i - 1 AS BIGINT) AS dim_idx,
         |  round(avg(v), 6) + 0.0 AS centroid_val,
         |  count(*) AS n_vectors
         |FROM x
         |GROUP BY label, i
         |ORDER BY label, dim_idx""".stripMargin),
    // contrastive-training hard negatives: per anchor, the 10 nearest
    // vectors with a DIFFERENT label — anchors broadcast, bounded
    // graft_topk cut, label join-back against the k×anchors result only
    key("hard_negatives")((s, d) => {
      val emb = Tables.embeddings(s, d)
      val anchors = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      Embeddings.hardNegatives(emb, anchors, k = 10)
    })
      // per-anchor nearest different-label vectors — the window rank here
      // restates the bounded graft_topk cut (ties by vec_id both sides)
      .oracle(s"""WITH a AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
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
         |ORDER BY query_id, rank""".stripMargin),
    // batch-hard triplets: hardest positive (farthest same label) +
    // hardest negative (nearest different label) per anchor, BOTH folded
    // in one conditional-struct aggregate over a single corpus pass
    key("mining_triplets")((s, d) => {
      val emb = Tables.embeddings(s, d)
      val anchors = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      Embeddings.batchHardTriplets(emb, anchors)
    })
      // batch-hard triplets: the two window rn=1 picks restate the
      // conditional-struct max/min (same (distance, id) tie rules)
      .oracle(s"""WITH a AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
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
         |ORDER BY a.query_id""".stripMargin),
    // A4's failure accounting: a deterministically-corrupted batch
    // (vec_id % 13 == 0 truncated to 32 dims) validated against dim=64
    key("batch_insert_validation")((s, d) => {
      val batch = Tables.embeddings(s, d).withColumn(
        "embedding",
        when(col("vec_id") % 13 === 0, slice(col("embedding"), 1, 32))
          .otherwise(col("embedding")))
      SearchApi.validationReport(batch, dim = 64)
    })
      .oracle("""SELECT status, count(*) AS n FROM (
        |  SELECT CASE WHEN len(CASE WHEN vec_id % 13 = 0 THEN embedding[1:32]
        |                            ELSE embedding END) = 64
        |              THEN 'accepted' ELSE 'rejected_dim' END AS status
        |  FROM embeddings)
        |GROUP BY status
        |ORDER BY status""".stripMargin),
  )
}
