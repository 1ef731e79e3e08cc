package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.storage.StorageLevel

/** The one cache primitive. A library site that reads a frame more than
  * once caches it with [[pin]] (lazy: the first consumer populates) or
  * [[fill]] (eager: one job populates every partition before the caller
  * fans out concurrent scans over it). Nothing else under
  * `src/main/scala` calls `persist()`/`cache()`; `ContractSpec` enforces
  * it. The exceptions are the resident HNSW shard RDDs (`HnswSpark`,
  * `HnswPersistence`): long-lived serving artifacts whose lifetime the
  * caller manages, since evicting one would force a nondeterministic
  * rebuild; and, until they fold into one soak harness, the `*Soak` and
  * `AbBench` mains.
  *
  * Lifetime: operators pin; the SESSION OWNER releases. Lazy consumers
  * may execute a returned plan much later (a harness builds several
  * queries before running any), so releasing eagerly or on-next-call
  * would evict a cache a victim still needs (measured as a 3s → 8.5s
  * recompute regression). Bench and Verify call [[releaseAll]] after
  * each query's action completes, keeping storage memory flat across a
  * run; library users call it at their own pipeline boundaries. A loop
  * that drops each round's cache early (`unpersist`) still pins it, so
  * a round that throws leaves nothing behind after `releaseAll()`.
  */
object CacheTracker {

  private val live = new java.util.ArrayList[DataFrame]()
  private val liveBc = new java.util.ArrayList[org.apache.spark.broadcast.Broadcast[_]]()

  private def register(df: DataFrame): Unit =
    live.synchronized { live.add(df) }

  /** Cached under any frame with the same plan, or a cut-lineage frame
    * whose checkpoint RDD is persisted: its first pinner owns it.
    */
  private def held(ds: Dataset[_]): Boolean =
    ds.storageLevel != StorageLevel.NONE ||
      org.apache.spark.sql.graftbridge.Bridge.checkpointRdd(ds.toDF())
        .exists(_.getStorageLevel != StorageLevel.NONE)

  /** Persist + register unless already held; true when it persisted. */
  private def persistUnlessHeld(ds: Dataset[_]): Boolean = {
    val fresh = !held(ds)
    if (fresh) register(ds.persist().toDF())
    fresh
  }

  /** Cache `ds` for the session owner to release; no job runs. A plan
    * that is already held comes back untouched and is not registered a
    * second time. A Dataset is registered through its frame (same plan,
    * so releasing the frame frees the Dataset's cache).
    */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    persistUnlessHeld(ds)
    ds
  }

  /** [[pin]], then populate with one job when the pin did the persist:
    * concurrent first scans of an unpopulated cache each recompute the
    * upstream plan ("Block … already exists"). A held frame runs no job.
    * The job opens each partition's iterator and reads no row: a cached
    * block is stored whole before its iterator is returned, and unlike
    * `count()` no aggregate exchange adds two more jobs. It runs on a
    * frame planned afresh from the analyzed plan: a Dataset keeps the
    * plan its `rdd` was first built from, which for a memoized frame
    * re-pinned after a release would fill the released cache, and a
    * re-analyzed plan can miss the cache (a typed aggregator resolves
    * to a new instance).
    */
  def fill[T](ds: Dataset[T]): Dataset[T] = {
    if (persistUnlessHeld(ds))
      org.apache.spark.sql.graftbridge.Bridge.ofRows(ds.sparkSession, ds.queryExecution.analyzed)
        .foreachPartition((_: Iterator[Row]) => ())
    ds
  }

  /** The frames registered and not yet released, oldest first — what a
    * caller inspects to see which caches an operator call left pinned.
    */
  private[graft] def registered(): Seq[DataFrame] = live.synchronized {
    (0 until live.size).map(live.get)
  }

  /** Same lifetime contract for broadcast variables referenced from LAZY
    * returned plans (e.g. the encode faces' piece-table broadcast): the
    * operator cannot destroy them before the caller's action, so the
    * session owner releases them here. `unpersist`, not `destroy`: an
    * already-executed plan re-run after release just re-ships the value
    * from the driver instead of crashing.
    */
  def registerBroadcast[T](bc: org.apache.spark.broadcast.Broadcast[T])
      : org.apache.spark.broadcast.Broadcast[T] = {
    liveBc.synchronized { liveBc.add(bc) }
    bc
  }

  /** Unpersist every registered frame. Safe once all frames returned by
    * operator calls so far have been fully executed (or abandoned).
    * Drain-then-unpersist under one lock: a register() racing with the old
    * forEach+clear could be cleared without ever being unpersisted (leak).
    */
  def releaseAll(): Unit = {
    val drained = live.synchronized {
      val copy = new java.util.ArrayList[DataFrame](live)
      live.clear()
      copy
    }
    drained.forEach(df => df.unpersist(blocking = false))
    val drainedBc = liveBc.synchronized {
      val copy =
        new java.util.ArrayList[org.apache.spark.broadcast.Broadcast[_]](liveBc)
      liveBc.clear()
      copy
    }
    drainedBc.forEach(bc => bc.unpersist(false))
  }

  /** Scoped lifetime helper for embedding applications: run `body`, fully
    * CONSUME the frames it returns (caches registered inside may back any
    * lazy result), then release everything registered so far. Example:
    * `CacheTracker.withRelease { Dedup.dedupClusters(...).collect() }`.
    */
  def withRelease[A](body: => A): A =
    try body finally releaseAll()
}
