package graft
package entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Spark-side helpers more than one family uses. */
private[entry] object Shared {
  /** Single query vector: the embedding of vec_id 0 — deterministic and
    * readable identically by DuckDB from the same parquet.
    */
  def queryVec(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") === 0)
      .select(col("embedding").as("qv"))

  /** Query batch: the five lowest vec_ids. */
  def queryBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
}

/** DuckDB oracle fragments more than one family uses: the vector
  * kernels, the fixed query, and the kNN and text bodies shared across
  * families.
  */
private[entry] object Sql {
  val E = "embeddings"
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
  /** Distinct word 3-gram shingle sets `sh0(id, ss)` of the token lists
    * `t(id, toks)`, per document or per source. */
  def shingleSets(id: String): String =
    s"""sh0 AS (SELECT $id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(toks) - 2, 1)),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS ss FROM t)""".stripMargin
  /** WITH clause providing q(qv) = the vec_id-0 embedding as DOUBLE[]. */
  val withQ = s"WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM $E WHERE vec_id = 0)"
  /** Exact per-query top-10 over the 5-query batch and the corpus rows
    * `where` admits — shared by knn_batch, the provably-exact trained-IVF
    * batch twin and the compressed-resident faces.
    */
  def batchKnnSql(where: String = ""): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM $E WHERE vec_id < 5),
       |pairs AS (
       |  SELECT q.query_id, e.vec_id,
       |         round(${dist("cosine", "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
       |  FROM $E e, q$where),
       |ranked AS (
       |  SELECT query_id, vec_id, distance,
       |         row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
       |  FROM pairs)
       |SELECT query_id, vec_id, distance, rank FROM ranked WHERE rank <= 10""".stripMargin
  /** Count of tokens (in `toks`) that are stopwords of `lang` — built from
    * the same lists the Scala side uses, so they cannot drift.
    */
  def swHits(lang: String): String = {
    val list = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, x -> x IN ($list)))"
  }
  def langScoreSql(lang: String): String =
    s"round(${swHits(lang)}::DOUBLE / greatest(len(toks), 1), 6)"
  /** Exact top-10 by `metric` to the vec_id-0 query over the corpus rows
    * `where` admits — the four metric keys, filtered_knn and the exact
    * trained-IVF twin. */
  def knnSql(metric: String, where: String = ""): String =
    s"""$withQ
       |SELECT e.vec_id, round(${dist(metric, "e.embedding::DOUBLE[]", "q.qv")}, 6) + 0.0 AS distance
       |FROM $E e, q$where
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
}
