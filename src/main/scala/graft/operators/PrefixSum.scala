package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed prefix sum — the scale-correct replacement for a global
  * `sum(...) over (order by ...)` window, which Spark executes on a SINGLE
  * partition (the classic 100 TB bottleneck; the r1 bench logged the
  * `WindowExec: No Partition Defined` warning to prove it).
  *
  * Pattern (same as a RangePartitioner sample pass):
  *  1. range-repartition on the order columns and sort within partitions —
  *     partition i holds a contiguous ordered slice;
  *  2. one narrow pass computes per-partition totals (one row per
  *     partition collected — bounded by the partition count);
  *  3. scanLeft the totals into per-partition start offsets (broadcast via
  *     closure) and a second narrow pass emits the running total per row.
  *  No row ever leaves its partition after step 1.
  *
  * SIZE GATE: below `smallRowThreshold` rows the whole frame fits one
  * partition comfortably, and the distributed machinery (range-boundary
  * sampling job + range shuffle + totals pass) costs more than it saves —
  * there the operator takes the single-partition window it exists to
  * avoid, because at that size "single partition" IS the right plan.
  * The gate reads PLANNER STATISTICS (optimizedPlan.stats: exact rowCount
  * when the optimizer knows it, else the size estimate at ~256 B/row) —
  * no count job, no cache, so the 100 TB path never pays a full
  * materialization just to learn it isn't small. Both paths are
  * result-identical with identical schemas (spec-gated).
  *
  * Used by TrainingPipeline (token budget) and Packing (sequence spans).
  */
object PrefixSum {

  /** Returns `df` plus a LONG column `out` holding the running total of
    * `value` in `order` (inclusive of the current row; null values count
    * as 0; `order` should be a total order — ties would make the
    * accumulation order arbitrary). Row order within returned partitions
    * follows `order`; partitions are contiguous slices. Internal caches
    * must stay live for the lifetime of the returned (lazy) frame —
    * releasing earlier was tried and evicted a cache a later-executed
    * query still needed (3s → 8.5s recompute) — so they are
    * graft.CacheTracker pins the session owner releases.
    */
  def runningSum(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      out: String,
      smallRowThreshold: Long = 1L << 20): DataFrame = {
    require(!df.columns.contains("__psv"),
      "input already has a column named __psv (internal temp name)")
    require(!df.columns.contains(out),
      s"output column '$out' collides with an input column")
    val spark = df.sparkSession
    // null values sum as 0 (a null would otherwise NPE in the executor-side
    // getLong); callers passing counts never produce nulls, but the
    // operator shouldn't crash on a nullable column
    val prepared = df
      .withColumn("__psv", coalesce(value.cast("long"), lit(0L)))
    // the gate reads planner stats — no job, no cache (see scaladoc); the
    // byte fallback scales with the row threshold so spec overrides
    // (0 / MaxValue) force their path regardless of which stat is known.
    // 8 B/row, DELIBERATELY conservative: sizeInBytes for a parquet scan
    // is compressed on-disk bytes, and a narrow RLE-friendly frame (the
    // typical prefix-sum input is two long columns) can pack far more
    // rows per byte than its raw width suggests — misrouting a big frame
    // to the single-partition window is the failure this operator exists
    // to avoid, while misrouting a small one merely pays the two-pass.
    val stats = prepared.queryExecution.optimizedPlan.stats
    val byteGate =
      if (smallRowThreshold > Long.MaxValue / 8L) Long.MaxValue
      else smallRowThreshold * 8L
    val small = stats.rowCount match {
      case Some(rc) => rc <= BigInt(smallRowThreshold)
      case None => stats.sizeInBytes <= BigInt(byteGate)
    }
    if (small) {
      // small path: single-partition running-sum window (ROWS frame — the
      // default RANGE frame would collapse order ties). One exchange to
      // one partition + one sort; no sampling job, no totals pass.
      // coalesce(…, 0) marks `out` non-nullable: the window sum itself
      // can never be null (the frame always contains the current row and
      // __psv is non-null), but without it the two paths would expose
      // DIFFERENT schemas (nullable here, non-nullable below) and
      // schema-sensitive callers would behave differently by data size.
      val w = Window
        .orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      prepared
        .withColumn(out, coalesce(sum(col("__psv")).over(w), lit(0L)))
        .drop("__psv")
    } else {
      // cache ONLY the post-shuffle slice (read by the totals pass and the
      // output pass); the pre-shuffle projection is NOT cached — the range
      // sampling + shuffle read its lineage twice, which at scale is
      // cheaper than holding a second whole-input cache alongside this one
      val ranged = prepared
        .repartitionByRange(order: _*)
        .sortWithinPartitions(order: _*)
      graft.CacheTracker.pin(ranged)
      val vIdx = ranged.schema.fieldIndex("__psv")
      // pass 1: per-partition totals (empty partitions emit 0 so the offset
      // array stays index-aligned with partition ids)
      val totals = ranged.rdd
        .mapPartitionsWithIndex { (pid, it) =>
          var s = 0L
          it.foreach(r => s += r.getLong(vIdx))
          Iterator.single((pid, s))
        }
        .collect()
        .sortBy(_._1)
        .map(_._2)
      val offsets = totals.scanLeft(0L)(_ + _) // offsets(pid) = sum before pid
      // pass 2: local running sum + partition offset = global prefix sum;
      // reads the cached slice, no second shuffle
      val outRdd = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
        var run = offsets(pid)
        it.map { r =>
          run += r.getLong(vIdx)
          Row.fromSeq(r.toSeq.updated(vIdx, run))
        }
      }
      val schema = StructType(
        ranged.schema.fields.updated(vIdx, StructField(out, LongType, nullable = false)))
      spark.createDataFrame(outRdd, schema)
    }
  }
}
