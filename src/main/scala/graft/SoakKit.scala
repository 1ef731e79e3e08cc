package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graftbridge.Bridge

/** What every [[Soak]] suite shares: wall timing, the synthetic-vector
  * generators, recall against exact truth, percentiles, the one JSON
  * line a suite prints, and a scoped Spark census. Suites cache through
  * [[CacheTracker]] like any library site.
  */
object SoakKit {

  /** `f`'s value and its wall seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The core count of `spark`'s local master. */
  def cpus(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  // ---- synthetic vectors: pure SQL over (id, j), no driver-side array,
  // reproducible per (key, j, salt) on any partitioning ----------------

  /** `dim`-element array column whose element j is `elem` (an SQL
    * expression over the lambda variable `j`).
    */
  def vector(dim: Int, elem: String): Column =
    expr(s"transform(sequence(0, ${dim - 1}), j -> $elem)")

  /** Standard-normal element: Box-Muller over two hash-derived uniforms
    * in (0, 1), salted by `s1`/`s2`.
    */
  def gaussianElem(key: String, s1: Int, s2: Int): String = {
    def u(s: Int) =
      s"((abs(xxhash64($key, j, $s)) % 1000000000) + 0.5) / 1000000000.0"
    s"sqrt(-2.0 * ln(${u(s1)})) * cos(6.283185307179586 * ${u(s2)})"
  }

  /** Uniform element on [-1, 1) in steps of 0.001. */
  def uniformElem(key: String, j: String = "j"): String =
    s"cast(abs(xxhash64($key, $j)) % 2000 as double) / 1000.0 - 1.0"

  /** `clusters` planted centers (uniform over `id % clusters`) plus
    * uniform per-id noise scaled by `noise` (an SQL expression).
    */
  def clusteredElem(clusters: Int, noise: String = "0.3"): String =
    s"${uniformElem(s"id % $clusters")} + (${uniformElem("id")}) * $noise"

  // ---- quality ---------------------------------------------------------

  /** (query_id, vec_id) rows as each query's id set. */
  def byQuery(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** Mean over the answered queries of |got ∩ truth| / |truth|. */
  def recall(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double =
    got.map { case (q, ids) => (ids & truth(q)).size.toDouble / truth(q).size }
      .sum / got.size

  /** The `p` quantile of `xs` (nearest rank, clamped to the maximum). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val sorted = xs.sorted
    sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
  }

  // ---- the one output line ---------------------------------------------

  /** A rendered JSON value, emitted verbatim. */
  final case class Json(text: String) {
    override def toString: String = text
  }

  /** `x` with `digits` fixed decimals (`%.Nf`). */
  def fixed(x: Double, digits: Int): Json = Json(s"%.${digits}f".format(x))

  /** `x` rounded to `digits` decimals, printed as a plain Double. */
  def rounded(x: Double, digits: Int): Double = {
    val p = math.pow(10, digits)
    math.round(x * p) / p
  }

  /** An object with `fields` in order: strings quoted, sequences as
    * arrays, everything else by `toString`.
    */
  def json(fields: (String, Any)*): Json =
    Json(fields.map { case (k, v) => s""""$k":${render(v)}""" }.mkString("{", ",", "}"))

  private def render(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Print one JSON line: a suite's whole report. */
  def emit(fields: (String, Any)*): Unit = println(json(fields: _*))

  // ---- Spark-side observables ------------------------------------------

  /** Counters of the Spark work one [[census]] scope ran. */
  final class Census {
    val jobs, stages, tasks, failedTasks = new AtomicLong
    /** Summed executor run time, ms. */
    val taskMs = new AtomicLong
    /** The largest shuffle write of one completed stage, bytes. */
    val peakStageShuffleWrite = new AtomicLong
    val memorySpilled, diskSpilled = new AtomicLong
  }

  /** Run `body` under a listener that counts its jobs, stages (as
    * scheduled at job start), tasks, task time, failed tasks, the peak
    * stage shuffle write and spill. The listener drains and is removed
    * when the scope closes, so the returned counters are complete and
    * no later job moves them.
    */
  def census[A](spark: SparkSession)(body: => A): (A, Census) = {
    val c = new Census
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        c.jobs.incrementAndGet()
        c.stages.addAndGet(e.stageInfos.size)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        c.peakStageShuffleWrite.accumulateAndGet(
          m.shuffleWriteMetrics.bytesWritten, (a, b) => math.max(a, b))
        c.memorySpilled.addAndGet(m.memoryBytesSpilled)
        c.diskSpilled.addAndGet(m.diskBytesSpilled)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c.tasks.incrementAndGet()
        if (e.reason != org.apache.spark.Success) c.failedTasks.incrementAndGet()
        if (e.taskMetrics != null) c.taskMs.addAndGet(e.taskMetrics.executorRunTime)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val a =
      try body
      finally {
        Bridge.drainListeners(sc)
        sc.removeSparkListener(listener)
      }
    (a, c)
  }

  /** Release every pinned cache, then pin and fill `keep` again: the
    * generated corpora a suite reads on after dropping an operator's
    * caches.
    */
  def releaseAllBut(keep: DataFrame*): Unit = {
    CacheTracker.releaseAll()
    keep.foreach(CacheTracker.fill(_))
  }

  /** Bytes of cached RDD blocks held in memory. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** Block files under THIS JVM's block-manager dirs (counting every
    * `/tmp/blockmgr-*` would read concurrent Spark JVMs' churn as leaks).
    */
  def blockFileCount(): Long = {
    def cnt(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(cnt).sum).getOrElse(0L)
      else 1L
    Bridge.localBlockDirs().map(cnt).sum
  }
}
