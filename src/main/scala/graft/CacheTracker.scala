package graft

import org.apache.spark.sql.DataFrame

/** Registry for operator-internal persisted frames whose lifetime must
  * extend past the operator call (lazy consumers may execute the returned
  * plan much later — a harness builds several queries before running any,
  * so releasing eagerly or on-next-call evicts a cache a victim still
  * needs; measured as a 3s → 8.5s recompute regression).
  *
  * Contract: operators register; the SESSION OWNER releases. Bench and
  * Verify release after each query's action completes (the only point
  * where no registered frame can still be needed), keeping storage memory
  * flat across a 60-query run. Library users embedding the operators call
  * `releaseAll()` at their own pipeline boundaries.
  */
object CacheTracker {

  private val live = new java.util.ArrayList[DataFrame]()
  private val liveBc = new java.util.ArrayList[org.apache.spark.broadcast.Broadcast[_]]()

  def register(df: DataFrame): DataFrame = {
    live.synchronized { live.add(df) }
    df
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
    * NOT for long-lived serving artifacts (the resident HNSW shard RDD is
    * deliberately outside this registry — evicting it would cause a
    * nondeterministic rebuild; its lifetime is caller-managed).
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
