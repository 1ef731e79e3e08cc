package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral analytics over the event stream — funnel conversion and
  * cohort retention, the two queries every product-analytics warehouse
  * runs (no reference analog; extension family like [[Relational]]).
  *
  * Scale notes: both operators reduce to per-user equi-keyed aggregates
  * and joins — the event table shuffles keyed by user_id (map-side
  * combined mins/distincts), never by time, and no window over the
  * global stream exists. Integer epoch arithmetic end to end (micros /
  * epoch-days / epoch-weeks via integer division), so both are
  * DuckDB-oracle-checked exactly.
  */
object Behavior {

  /** Ordered-funnel conversion: a user reaches stage i+1 at the earliest
    * event of that type STRICTLY AFTER their stage-i time (the classic
    * strict-sequence funnel). Output one row per stage:
    * (stage, n_users, conversion), conversion = n / n_prev-stage
    * (1.0 for the first stage; 0.0 when the previous stage is empty).
    *
    * Shape: stage k is one filter + one (user_id)-keyed min aggregate
    * joined to stage k-1's frame — a chain of |stages| map-side-combined
    * aggregates, each shuffling one row per qualifying user.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val e = events.select(
      col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    // reached(i): (user_id, t) = earliest time the user completed stage i.
    // Each frame is pinned: stage i+1's join and stage i's count both
    // consume reached(i), and without the cache the chain re-executes
    // its whole prefix per consumer — O(stages²) event-table scans for
    // a k-stage funnel
    val reached = stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (stage, _)) =>
        val evs = e.where(col("event_type") === stage)
        val r = prev match {
          case None =>
            evs.groupBy(col("user_id")).agg(min(col("t")).as("t"))
          case Some(p) =>
            evs.join(p.select(col("user_id"), col("t").as("tp")), Seq("user_id"))
              .where(col("t") > col("tp"))
              .groupBy(col("user_id")).agg(min(col("t")).as("t"))
        }
        Some(graft.CacheTracker.pin(r))
    }.flatten
    val counts = stages.zip(reached).zipWithIndex.map {
      case ((stage, r), i) =>
        r.agg(count(lit(1)).as("n_users"))
          .select(lit(i).as("idx"), lit(stage).as("stage"), col("n_users"))
    }.reduce(_ unionAll _)
    val prev = counts.select(
      (col("idx") + 1).as("idx"), col("n_users").as("n_prev"))
    counts.join(prev, Seq("idx"), "left_outer")
      .orderBy(col("idx"))
      .select(
        col("stage"), col("n_users"),
        when(coalesce(col("n_prev"), col("n_users")) === 0, lit(0.0))
          .otherwise(round(
            col("n_users") / coalesce(col("n_prev"), col("n_users")), 6))
          .as("conversion"))
  }

  /** Weekly cohort retention: users grouped by the epoch week of their
    * FIRST event; n_users = distinct users of cohort w active in week
    * w + offset. Output (cohort_week, week_offset, n_users) — the
    * standard retention triangle.
    *
    * Shape: one (user, week) distinct, one per-user min, one join on
    * user_id, one count per (cohort, offset) cell — all equi-keyed.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val week = expr("unix_micros(ts) div 86400000000 div 7")
    val uw = events.select(col("user_id"), week.as("w")).distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("w")).as("cohort_week"))
    uw.join(first, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("w") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }
}
