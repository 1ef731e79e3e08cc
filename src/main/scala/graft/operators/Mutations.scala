package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mutation-log fold — the WHAT of the reference's Raft-replicated write
  * path without the HOW (SURVEY §2.4/§2.5: consensus maps to zero Spark
  * operators; durable total order comes from an append-only log).
  *
  * The log rows mirror the reference's state-machine commands
  * (reference api/rest/distributed_server.py:95-121 `apply_command`:
  * `{"type": "insert", ...}` / `{"type": "delete", id}`), and the fold
  * preserves its apply-order semantics: later commands win, an insert with
  * an existing id overwrites (reference core/hnsw/graph.py:131-139), a
  * delete removes (graph.py:191-207).
  *
  * Scale: last-writer-wins is a `max_by(…, seq)` AGGREGATE, not a ranking
  * window — partial aggregation combines map-side, so the shuffle carries
  * one row per live id instead of the whole log. The log is append-only
  * parquet, so incremental folds only read new files.
  */
object Mutations {

  /** Fold a mutation log into the visible table.
    *
    * `log` schema: (seq LONG — total order, op STRING 'insert'|'delete',
    * vec_id LONG, label INT nullable for deletes).
    * Returns the post-apply table (vec_id, label).
    */
  def apply(log: DataFrame): DataFrame =
    log
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("op"), col("label")), col("seq")).as("last"))
      .where(col("last.op") === "insert")
      .select(col("vec_id"), col("last.label").as("label"))
      .orderBy(col("vec_id"))

  /** Deterministic demo log built from the embeddings fixture:
    * phase 0 — every row inserted (seq = vec_id);
    * phase 1 — vec_id % 10 == 0 re-inserted with label+100 (overwrite);
    * phase 2 — vec_id % 7 == 0 deleted.
    * Exercises insert, id-overwrite, and delete in one fold.
    */
  def demoLog(emb: DataFrame): DataFrame = {
    val base = emb.select(
      col("vec_id").as("seq"), lit("insert").as("op"), col("vec_id"), col("label"))
    val updates = emb.where(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 1000000L).as("seq"), lit("insert").as("op"),
      col("vec_id"), (col("label") + 100).as("label"))
    val deletes = emb.where(col("vec_id") % 7 === 0).select(
      (col("vec_id") + 2000000L).as("seq"), lit("delete").as("op"),
      col("vec_id"), lit(null).cast("int").as("label"))
    base.unionByName(updates).unionByName(deletes)
  }

  /** The fold applied INCREMENTALLY through a bucket-partitioned
    * [[graft.sources.StateTable]] (r15): the log replays in seq-tier
    * batches (tier = seq / 1_000_000 — the demoLog phases), each batch
    * resolving latest-op-per-id in-batch and then touching ONLY the
    * state buckets its ids land in — partition-pruned read,
    * stage-then-commit partition replace. Result ≡ [[apply]] of the
    * whole log, which is what makes the state-table machinery itself
    * an oracle-checked surface (the `mutations_fold_table` key shares
    * `mutations_fold`'s DuckDB replay).
    *
    * Scale shape: per batch, the read side is the touched ids' buckets
    * (not the table), the write side replaces exactly those buckets,
    * and executor memory holds only the batch — the composed
    * online-ingest loop's state residence, reduced to the fold alone.
    */
  def applyViaStateTable(
      log: DataFrame,
      dir: String,
      nBuckets: Int = 16): DataFrame = {
    val (t, _) = foldThroughTable(log, dir, nBuckets, retention = 2)
    t.read().select(col("vec_id"), col("label")).orderBy(col("vec_id"))
  }

  /** AS-OF (time-travel) read of the state-table fold: the WHOLE log
    * folds through the table with retention wide enough to keep every
    * generation's manifest, then the read resolves the generation the
    * first `keepTiers` seq tiers committed — the state as of that
    * point in the log's total order. ≡ [[apply]] of the log rows in
    * the first `keepTiers` tiers, which is the DuckDB twin the
    * `mutations_fold_at` key replays (demoLog tiers are 0,1,2, so
    * keepTiers=2 ⇔ `seq < 2000000`): the retention/manifest machinery
    * itself is what the hash checks.
    */
  def applyViaStateTableAsOf(
      log: DataFrame,
      dir: String,
      keepTiers: Int,
      nBuckets: Int = 16): DataFrame = {
    // the log's distinct tiers, sorted — may be GAPPED (e.g. {0, 2}):
    // the documented contract is `seq < keepTiers·1e6`, so the travel
    // generation is resolved by tier VALUE (count of tiers below
    // keepTiers), not by tier index — a gapped log travels to the same
    // seq prefix the DuckDB twin replays
    val tierVals = log
      .select((col("seq") / 1000000L).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    require(keepTiers >= 0,
      s"keepTiers=$keepTiers must be non-negative")
    val (t, initGen) = foldThroughTable(log, dir, nBuckets,
      retention = tierVals.length + 2)
    // the fold committed one generation per tier in sorted order on
    // top of the generation ITS OWN init created — captured from the
    // init call, not derived from generations().head, which would be
    // the stale oldest generation if the directory already held
    // retained history from a prior fold (r17 advice)
    t.readAt(initGen + tierVals.count(_ < keepTiers))
      .select(col("vec_id"), col("label")).orderBy(col("vec_id"))
  }

  /** Returns the table AND the generation its init created. */
  private def foldThroughTable(
      log: DataFrame,
      dir: String,
      nBuckets: Int,
      retention: Int): (graft.sources.StateTable, Long) = {
    import graft.sources.StateTable
    val spark = log.sparkSession
    val t = new StateTable(spark, s"$dir/visible", retention)
    val B = StateTable.BucketCol
    val tiers = log.select((col("seq") / 1000000L).cast("long").as("t"))
      .distinct().collect().map(_.getLong(0)).sorted
    // every tier takes the same anti-join-then-union path against an
    // initialized-empty table, so a first tier carrying deletes (or
    // nothing at all) folds identically to [[apply]] instead of being
    // silently treated as insert-only
    t.init(
      log.select(col("vec_id"), col("label")).limit(0)
        .withColumn(B, StateTable.idBucket(col("vec_id"), nBuckets)),
      nBuckets)
    val initGen = t.generation()
    tiers.foreach { tier =>
      val batch = log.where((col("seq") / 1000000L).cast("long") === tier)
      // in-batch resolution: the latest op per id wins within the tier
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("seq").desc)
      val resolved = graft.CacheTracker.pin(batch
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("vec_id"), col("op"), col("label")))
      val inserts = resolved.where(col("op") === "insert")
        .select(col("vec_id"), col("label"))
        .withColumn(B, StateTable.idBucket(col("vec_id"), nBuckets))
      val touched = resolved.select(col("vec_id")).distinct()
      val tb = touched
        .select(StateTable.idBucket(col("vec_id"), nBuckets).as("tb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val staged = t.stage(
        t.readBuckets(tb)
          .join(broadcast(touched), Seq("vec_id"), "left_anti")
          .unionByName(inserts),
        tb.size)
      t.commit(staged, tb)
      resolved.unpersist(blocking = false)
    }
    (t, initGen)
  }
}
