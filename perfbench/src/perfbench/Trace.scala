package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the program, around calls into its layers.
  *
  * A span has a name, a layer, a request id (op index, batch index or
  * pipeline key), start and end (ns), and its parent. Spans stay in memory
  * and are written out when the run ends. While a span is open, Spark jobs
  * started from this thread carry its id as their job group, so the
  * listener below can attribute jobs, tasks, task CPU, shuffle and spill
  * to it. Off (always, in untraced runs), `apply` is a plain call and no
  * listener is registered, so untraced work pays nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val names = ArrayBuffer.empty[String]
  private val layers = ArrayBuffer.empty[String]
  private val reqs = ArrayBuffer.empty[String]
  private val parents = ArrayBuffer.empty[Int]
  private val starts = ArrayBuffer.empty[Long]
  private val ends = ArrayBuffer.empty[Long]
  private var open: List[Int] = Nil
  private var active = false

  val counters = new SparkCounters
  val plans = new PlanTimes
  val cacheRaces = new CacheRaceAppender
  if (enabled) cacheRaces.attach()

  /** Spans that wrap Spark work drain the listener bus before closing, so
    * every event of that work is attributed before the next span opens.
    * `when = false` runs the body unrecorded: traced windows leave every
    * other request unrecorded, and those give the tracing overhead's base.
    */
  def apply[A](name: String, layer: String, req: String, spark: Boolean = false,
      when: Boolean = true)(body: => A): A = {
    if (!active || !when) return body
    val id = names.length
    names += name; layers += layer; reqs += req
    parents += open.headOption.getOrElse(-1)
    starts += System.nanoTime(); ends += 0L
    open = id :: open
    if (spark) setGroup(id)
    try body
    finally {
      if (spark) { drain(); plans.flushTo(id) }
      ends(id) = System.nanoTime()
      open = open.tail
      if (spark) open.headOption match {
        case Some(p) => setGroup(p)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def setGroup(id: Int): Unit =
    sc.setJobGroup(id.toString, s"${names(id)} ${reqs(id)}", interruptOnCancel = false)

  /** LiveListenerBus.waitUntilEmpty is Spark-internal; reached reflectively. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Start recording spans and Spark counters (traced runs only). */
  def on(): Unit = if (enabled && !active) {
    sc.addSparkListener(counters)
    spark.listenerManager.register(plans)
    active = true
  }

  def off(): Unit = if (active) {
    drain()
    sc.removeSparkListener(counters)
    spark.listenerManager.unregister(plans)
    active = false
  }

  /** Spans as rows of [id, parent, name, layer, req, startNs, endNs], and
    * Spark counters per span id.
    */
  def toJson: String = {
    val spans = names.indices.map { i =>
      Json.arr(Seq(i.toString, parents(i).toString, Json.str(names(i)),
        Json.str(layers(i)), Json.str(reqs(i)), starts(i).toString, ends(i).toString))
    }
    val spark = counters.snapshot
    val groups = (spark.keySet ++ plans.spans).toSeq.sorted.map { g =>
      g -> Json.arr((spark.getOrElse(g, Seq.fill(SparkCounters.Fields.length)(0L)) ++
        plans.of(g)).map(_.toString))
    }
    Json.obj(Seq(
      "spans" -> Json.arr(spans),
      "counter_fields" -> Json.arr(
        (SparkCounters.Fields ++ PlanTimes.Fields).map(Json.str)),
      "counters" -> Json.obj(groups.toSeq),
      "cache_race_warnings" -> cacheRaces.count.get.toString))
  }
}

object SparkCounters {
  val Fields = Seq("jobs", "stages", "tasks", "task_cpu_ns", "shuffle_bytes", "spill_bytes")
}

/** Per-job-group Spark runtime counters. */
final class SparkCounters extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val acc = new ConcurrentHashMap[String, Array[Long]]()

  private def of(group: String): Array[Long] =
    acc.computeIfAbsent(group, _ => new Array[Long](SparkCounters.Fields.length))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, group))
    val c = of(group)
    c.synchronized { c(0) += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    c.synchronized { c(1) += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageGroup.getOrDefault(e.stageId, "none"))
    val m = e.taskMetrics
    c.synchronized {
      c(2) += 1
      if (m != null) {
        c(3) += m.executorCpuTime
        c(4) += m.shuffleWriteMetrics.bytesWritten
        c(5) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Map[String, Seq[Long]] = {
    val out = Map.newBuilder[String, Seq[Long]]
    acc.forEach((g, c) => c.synchronized { out += g -> c.toSeq })
    out.result()
  }
}

object PlanTimes {
  val Fields = Seq("plan_ns", "exec_ns", "actions")
}

/** Analysis + optimization + planning time versus execution time of each
  * DataFrame action. Listener events carry no job group, so the tracer
  * drains the bus when a Spark span closes and assigns what arrived since
  * to that span.
  */
final class PlanTimes extends QueryExecutionListener {
  private var pending = Array(0L, 0L, 0L)
  private val bySpan = new ConcurrentHashMap[String, Array[Long]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      pending(0) += planMs * 1000000L
      pending(1) += durationNs
      pending(2) += 1
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def flushTo(span: Int): Unit = synchronized {
    if (pending(2) > 0) bySpan.put(span.toString, pending)
    pending = Array(0L, 0L, 0L)
  }

  def spans: Set[String] = { val s = Set.newBuilder[String]; bySpan.keySet.forEach(s += _); s.result() }

  def of(group: String): Seq[Long] =
    Option(bySpan.get(group)).map(_.toSeq).getOrElse(Seq(0L, 0L, 0L))
}

/** Counts BlockManager's "Block … already exists on this machine" warnings:
  * a cached frame whose first scan ran twice.
  */
final class CacheRaceAppender
    extends AbstractAppender("perfbench-cache-races", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong

  override def append(e: LogEvent): Unit =
    if (e.getMessage.getFormattedMessage.contains("already exists on this machine"))
      count.incrementAndGet()

  private def ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def attach(): Unit = {
    start()
    ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    ctx.getConfiguration.getRootLogger.removeAppender(getName)
    ctx.updateLoggers()
    stop()
  }
}

/** Just enough JSON writing for the harness's result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
}
