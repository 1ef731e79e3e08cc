package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one session setup and the one session-scoped memo.
  *
  * Every main (Bench, Verify, Explain, HeadToHead, Soak) and
  * the test suite build their session through [[local]], so the plans a
  * spec sees are the plans the bench runs. Artifacts a session keeps alive
  * across queries (fixture loaders, resident shard sets, trained models,
  * the shared kNN graph) live in [[memo]], which drops them when their
  * SparkContext ends.
  */
object GraftSession {

  /** The core count: `SPARK_GRAFT_CPUS` if set, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // let AQE re-coalesce CACHED plans: the delta-sized pinned
      // frames otherwise cache at the full shuffle partition count and
      // every downstream scan (including each broadcast-exchange
      // collect) pays one task per tiny partition — measured 1840 vs
      // 352 tasks per graph-tables refresh at fixture scale (r18)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // the generated-class cache defaults to 100 entries; a session
      // running 181 distinct queries × 3 interleaved reps cycles far
      // past that, so every rep pays full Janino recompilation of every
      // WholeStageCodegen/projection unit it already compiled two
      // passes ago. Size the cache to the workload, not the hardware:
      // any long-lived session serving many distinct queries wants it;
      // compiled classes are small, the driver holds them either way
      // while in use.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Any]
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()

  /** The value memoized under `key` for `session`, built on first use.
    * Keys name the artifact and its fixture (a loader's parquet path,
    * `"resident <dir>"`); each key is read back through one typed accessor,
    * so the cast below always sees the type the key was built with.
    *
    * Entries live until their session's SparkContext ends — Spark has no
    * per-session stop event, so sibling sessions sharing one context keep
    * theirs until then. A host multiplexing many throwaway sessions on one
    * context should manage artifact lifetimes itself (e.g. serve through
    * HnswPersistence.loadResident), not through this memo.
    */
  def memo[T](session: SparkSession, key: String)(build: => T): T = {
    val sc = session.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          evict(sc)
          hooked.remove(sc)
        }
      })
    entries.getOrElseUpdate((session, key), build).asInstanceOf[T]
  }

  /** Drop every entry of `sc`'s sessions; the next lookup rebuilds. */
  def evict(sc: SparkContext): Unit =
    entries.filterInPlace { case ((s, _), _) => s.sparkContext ne sc }
}
