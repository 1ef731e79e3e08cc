package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.entry._

/** Driver contract (SURVEY.md §7). `queries` maps every key to its Spark
  * plan; `oracleSql` maps every exact key to equivalent DuckDB SQL.
  * Approximate keys (HNSW, trained k-means, the learned tokenizers, PCA)
  * have no oracle entry: their specs gate them, and the contract checks
  * only their row counts.
  *
  * Each key is declared once, with its plan and its oracle side by side,
  * in one family file under `graft/entry`; both maps derive from the
  * concatenated declarations.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exact cosine kNN — the reference's `POST /search` hot path
    * (reference api/rest/server.py:159-186) as a Spark top-k plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("knn_cosine")(spark, "/root/testdata/sf0.001")

  private lazy val registry = new Registry(
    VectorKeys.keys ++ IndexKeys.keys ++ GraphKeys.keys ++ TextKeys.keys ++
      DedupKeys.keys ++ CurateKeys.keys ++ RelationalKeys.keys ++
      MediaKeys.keys)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.queries

  lazy val oracleSql: Map[String, String] = registry.oracleSql
}

/** One contract key, declared once: its name, its Spark plan and,
  * for an oracle-checked key, its DuckDB SQL. The SQL is held as a thunk,
  * so building the query map builds no oracle text.
  */
final class Key private (
    val name: String,
    val plan: (SparkSession, String) => DataFrame,
    private[graft] val sql: Option[() => String]) {

  /** This key with its DuckDB oracle SQL. */
  def oracle(text: => String): Key = new Key(name, plan, Some(() => text))
}

object Key {

  /** A rows-only key; [[Key.oracle]] adds its DuckDB twin. */
  def key(name: String)(plan: (SparkSession, String) => DataFrame): Key =
    new Key(name, plan, None)
}

/** The contract's two maps, derived from one list of keys. A name
  * declared twice is rejected here: a map built from duplicates would keep
  * the last one and silently shadow the first.
  */
final class Registry(keys: Seq[Key]) {
  private val twice = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
  require(twice.isEmpty, s"keys declared twice: ${twice.toSeq.sorted.mkString(", ")}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    keys.map(k => k.name -> k.plan).toMap

  lazy val oracleSql: Map[String, String] =
    keys.flatMap(k => k.sql.map(sql => k.name -> sql())).toMap
}
