package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The one cache primitive: `pin` caches a plan once and registers one
  * owner, `fill` populates it with one job, and `releaseAll()` leaves
  * nothing the spec cached behind.
  */
class CacheTrackerSpec extends SparkSpec {

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Frames over one plan no other test caches (each call of the
    * builder is a new frame over the same plan); `evals` counts the rows
    * the projection computes, so a partition computed twice counts twice.
    */
  private def fresh(): (() => DataFrame, org.apache.spark.util.LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator
    val tag = seq.incrementAndGet() * 1000003L
    val bump = udf { (x: Long) => evals.add(1); x }
    (() => spark.range(0, 400, 1, 4).select((bump(col("id")) + lit(tag)).as("x")), evals)
  }

  /** The jobs `body` starts, counted by a listener. A marker job after
    * `body` flushes the listener queue: events arrive in order, so once
    * the marker's start is seen every earlier job's start has been too.
    */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[String]()
    val marker = s"cache-tracker-spec-flush-${seq.incrementAndGet()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!starts.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.contains(marker), "listener never saw the marker job")
      starts.size - 1
    } finally sc.removeSparkListener(listener)
  }

  /** CacheManager warnings logged while `body` runs. */
  private def cacheWarnings(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        s"cache-tracker-spec-${seq.incrementAndGet()}", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("org.apache.spark.sql.execution.CacheManager")
    logger.addAppender(appender)
    try body finally { logger.removeAppender(appender); appender.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("pin on an already-cached plan neither persists nor registers again") {
    val (frame, _) = fresh()
    val df = frame()
    val before = CacheTracker.registered().size
    CacheTracker.pin(df)
    assert(cached(df))
    assert(CacheTracker.registered().size == before + 1)
    // a second frame over the same plan is held by the first pin
    val twin = frame()
    val warnings = cacheWarnings {
      assert(CacheTracker.pin(twin) eq twin)
      CacheTracker.pin(df)
    }
    assert(!warnings.exists(_.contains("already cached")), warnings.mkString("\n"))
    assert(CacheTracker.registered().size == before + 1)
    // a plan its caller cached is not taken over: release leaves it
    val own = fresh()._1()
    own.persist()
    CacheTracker.pin(own)
    assert(CacheTracker.registered().size == before + 1)
    CacheTracker.releaseAll()
    assert(!cached(df) && cached(own))
    own.unpersist(blocking = true)
  }

  test("fill loads every partition with exactly one job") {
    val (frame, evals) = fresh()
    val df = frame()
    val jobs = jobsIn(CacheTracker.fill(df))
    assert(jobs == 1, s"fill ran $jobs jobs")
    assert(evals.value == 400L)
    // every partition is cached: a second scan computes no row again
    assert(df.agg(sum(col("x"))).head().getLong(0) > 0)
    assert(evals.value == 400L)
    // the same frame filled again after a release (a memoized frame
    // between queries) loads the new cache, not the released one
    CacheTracker.releaseAll()
    assert(jobsIn(CacheTracker.fill(df)) == 1)
    assert(evals.value == 800L)
    assert(df.agg(sum(col("x"))).head().getLong(0) > 0)
    assert(evals.value == 800L)
    CacheTracker.releaseAll()
  }

  test("fill populates a plan that holds a typed aggregator") {
    val (frame, evals) = fresh()
    val total = udaf(CacheTrackerSpec.Total, org.apache.spark.sql.Encoders.scalaLong)
    val df = frame().agg(total(col("x")).as("t"), count(lit(1)).as("n"))
    CacheTracker.fill(df)
    assert(evals.value == 400L)
    // both single-column reads come from the filled cache
    assert(df.select(col("t")).head().getLong(0) > 0)
    assert(df.select(col("n")).head().getLong(0) == 400L)
    assert(evals.value == 400L)
    CacheTracker.releaseAll()
  }

  test("fill on a held frame runs zero jobs") {
    val (frame, evals) = fresh()
    val df = frame()
    CacheTracker.fill(df)
    val before = CacheTracker.registered().size
    assert(jobsIn(CacheTracker.fill(df)) == 0)
    assert(jobsIn(CacheTracker.fill(frame())) == 0)
    assert(CacheTracker.registered().size == before)
    assert(evals.value == 400L)
    CacheTracker.releaseAll()
  }

  test("the Dataset form releases through its frame") {
    import spark.implicits._
    val off = seq.incrementAndGet()
    val ds = spark.range(0, 50, 1, 2).as[Long].map(_ * 7 + off)
    assert(CacheTracker.fill(ds) eq ds)
    assert(ds.storageLevel != StorageLevel.NONE)
    assert(CacheTracker.registered().exists(_.queryExecution.logical eq ds.queryExecution.logical))
    CacheTracker.releaseAll()
    assert(ds.storageLevel == StorageLevel.NONE)
  }

  test("after releaseAll() the cache manager holds nothing the spec added") {
    val builders = Seq.fill(3)(fresh()._1)
    val frames = builders.map(_())
    CacheTracker.pin(frames(0))
    CacheTracker.fill(frames(1))
    CacheTracker.pin(frames(2))
    CacheTracker.pin(builders(2)()) // held: no second owner
    assert(frames.forall(cached))
    CacheTracker.releaseAll()
    assert(CacheTracker.registered().isEmpty)
    assert(!frames.exists(cached))
  }
}

object CacheTrackerSpec {
  /** A typed aggregator whose buffer encoder is built per call: each
    * analysis of the plan resolves it to a new, unequal instance (its
    * map encoder draws fresh loop variables). */
  object Total extends org.apache.spark.sql.expressions.Aggregator[Long, Map[String, Long], Long] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], a: Long): Map[String, Long] =
      b.updated("s", b.getOrElse("s", 0L) + a)
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      a.updated("s", a.getOrElse("s", 0L) + b.getOrElse("s", 0L))
    def finish(b: Map[String, Long]): Long = b.getOrElse("s", 0L)
    def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
  }
}
