package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin accessor for the `private[sql]` Column↔Expression converters.
  * Spark 4 removed the public `new Column(expr)` constructor; the blessed
  * internal path is `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * package-private — so this one-file bridge lives under
  * `org.apache.spark.sql`. All real code stays in the `graft` packages.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan — `Dataset.ofRows` moved into the
    * package-private `classic` namespace in Spark 4.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a temp SQL function on a live session (the session-state
    * function registry is private[sql] too).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** spark.sql.files.maxPartitionBytes — SQLConf is private[sql]. */
  def filesMaxPartitionBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.filesMaxPartitionBytes

  /** The RDD backing a localCheckpoint-ed Dataset (its logical plan is
    * a LogicalRDD). `Dataset.unpersist` does NOT free local-checkpoint
    * blocks — they belong to this underlying RDD and otherwise wait for
    * the ContextCleaner to notice the RDD is unreachable — so
    * generation loops that must keep storage flat release them here.
    */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Release a superseded localCheckpoint generation: unpersist its
    * blocks now instead of leaving them to the ContextCleaner, so a
    * generation loop keeps storage flat. A frame that is not a local
    * checkpoint is left as it is.
    */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** CUT a DataFrame's logical lineage: re-expose its physical output
    * (typically a cached frame — pair with persist+count) as a leaf
    * LogicalRDD, so downstream plans reference a one-node subtree
    * instead of the full upstream tree. A DAG with layered reuse is
    * compact in memory but every tree WALK (optimizer transforms,
    * explainString — which the streaming wrapper prints per batch)
    * expands it multiplicatively; a refresh that derives ~8 layers of
    * frames from each other OOM'd an 8 GB driver building that string.
    * No data moves here: the InternalRow RDD is lazy and reads the
    * cache when downstream actions run.
    */
  def cutLineage(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(
        df.queryExecution.toRdd, df.schema, isStreaming = false)

  /** THIS JVM's disk block-manager directories (`DiskBlockManager` is
    * private[spark]) — a disk-leak metric must count our blockmgr dirs,
    * not every Spark JVM sharing java.io.tmpdir.
    */
  def localBlockDirs(): Seq[java.io.File] =
    org.apache.spark.SparkEnv.get.blockManager
      .diskBlockManager.localDirs.toSeq

  /** Block until every event posted so far has reached every listener
    * (`LiveListenerBus` is private[spark]): a listener's counters are
    * complete only after this returns.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
