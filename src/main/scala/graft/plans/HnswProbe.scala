package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.index.{HnswIndex, HnswSpark}

/** The HNSW probe as a FIRST-CLASS operator — the escalation path (c) of
  * SURVEY §4.2: a custom LogicalPlan + SparkStrategy + SparkPlan,
  * registered through SparkSessionExtensions, instead of a flatMap over a
  * typed Dataset (HnswSpark.searchDf).
  *
  * Semantics: for each input row, read the `qv` column (ARRAY<DOUBLE>),
  * probe every broadcast sub-index, emit the merged top-k as k rows of
  * (child columns..., vec_id, distance) — distances rounded exactly like
  * the exact operators (HnswSpark.roundDist6). Being a real operator (not
  * a lambda) keeps the probe visible to Catalyst: column pruning and
  * filters above it compose, EXPLAIN shows `HnswProbe k=...`, and the
  * node reports maxRows = child.maxRows * k for the optimizer.
  */
case class HnswProbePlan(
    child: LogicalPlan,
    index: Broadcast[Array[HnswIndex]],
    k: Int,
    ef: Option[Int],
    // constructor parameters (not body vals) so plan transformations via
    // copy() preserve the output exprIds — regenerating them would orphan
    // references already bound above this node
    vecIdAttr: AttributeReference =
      AttributeReference("vec_id", LongType, nullable = false)(),
    distanceAttr: AttributeReference =
      AttributeReference("distance", DoubleType, nullable = false)())
  extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ vecIdAttr :+ distanceAttr
  override def maxRows: Option[Long] = child.maxRows.map(_ * k)
  // every child column is semantically consumed (qv probes; the rest pass
  // through as this node's output) — without this, column pruning strips
  // qv from the child whenever the caller projects it away above
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(child.output)
  override protected def withNewChildInternal(c: LogicalPlan): HnswProbePlan =
    copy(child = c)
}

/** Physical operator: narrow (no shuffle, no sort) — each partition probes
  * the broadcast shards for its own rows. Parallelism = child partitions.
  */
case class HnswProbeExec(
    child: SparkPlan,
    index: Broadcast[Array[HnswIndex]],
    k: Int,
    ef: Option[Int],
    qvOrdinal: Int,
    output: Seq[Attribute]) extends UnaryExecNode {

  override def nodeName: String = s"HnswProbe k=$k shards=${index.value.length}"

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = index
    val kk = k
    val efv = ef
    val ord = qvOrdinal
    val outAttrs = output
    child.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      rows.flatMap { row =>
        if (row.isNullAt(ord)) Iterator.empty // null qv: no matches, no NPE
        else {
        val qv = row.getArray(ord).toDoubleArray()
        HnswSpark.searchAll(bc.value.toSeq, qv, kk, efv).iterator
          .map { case (id, d) =>
            val right = new GenericInternalRow(2)
            right.setLong(0, id)
            right.setDouble(1, HnswSpark.roundDist6(d))
            proj(joined(row, right)).copy(): InternalRow
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): HnswProbeExec =
    copy(child = c)
}

/** The EXECUTOR-RESIDENT probe as the same first-class operator shape:
  * the sub-indexes live as a cached `RDD[HnswIndex]` on executors (built
  * by HnswSpark.buildResident — they never pass through the driver); the
  * plan node holds that RDD reference, the (small, by contract) query
  * child is collected and broadcast, and the global top-k merge is a
  * bounded `aggregateByKey` (map-side combined — the shuffle carries ≤ k
  * rows per query per shard). This is the 100 TB serving shape, now
  * integrated with the planner like the broadcast shape: EXPLAIN shows
  * `HnswResidentProbe k=...`, and projections/filters above it compose.
  * Output and rounding are row-identical to HnswProbePlan / searchDf
  * (merge on unrounded distances, ties by id, round after the merge).
  */
case class HnswResidentProbePlan(
    child: LogicalPlan,
    shards: RDD[HnswIndex],
    k: Int,
    ef: Option[Int],
    // serializable pure predicate over the external id — shards run the
    // in-traversal filtered beam search when set (HnswIndex.searchFiltered)
    allow: Option[Long => Boolean] = None,
    vecIdAttr: AttributeReference =
      AttributeReference("vec_id", LongType, nullable = false)(),
    distanceAttr: AttributeReference =
      AttributeReference("distance", DoubleType, nullable = false)())
  extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ vecIdAttr :+ distanceAttr
  override def maxRows: Option[Long] = child.maxRows.map(_ * k)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(child.output)
  override protected def withNewChildInternal(c: LogicalPlan): HnswResidentProbePlan =
    copy(child = c)
}

/** Physical resident probe: queries broadcast to the shard RDD, per-shard
  * local top-k, bounded merge keyed by INPUT ROW index (a query_id that
  * appears twice keeps its per-row cardinality), query columns re-attached
  * from the broadcast on the reduce side.
  */
case class HnswResidentProbeExec(
    child: SparkPlan,
    shards: RDD[HnswIndex],
    k: Int,
    ef: Option[Int],
    allow: Option[Long => Boolean],
    qvOrdinal: Int,
    output: Seq[Attribute]) extends UnaryExecNode {

  override def nodeName: String =
    s"HnswResidentProbe k=$k shardPartitions=${shards.getNumPartitions}" +
      (if (allow.isDefined) " filtered" else "")

  override protected def doExecute(): RDD[InternalRow] = {
    val kk = k
    val efv = ef
    val ord = qvOrdinal
    val outAttrs = output
    // query side: collected + broadcast — the small side BY CONTRACT (the
    // point of the resident shape is that the index never moves; the
    // query batch is the thing that fits driver memory). The contract is
    // ENFORCED, not just documented: executeTake(bound + 1) collects at
    // most bound + 1 rows (incremental partition scan — it never
    // materializes an oversized child), so an over-large query frame
    // fails loudly here instead of silently OOMing the driver at scale.
    val maxQueryRows: Long = session.conf
      .get(HnswProbe.MaxQueryRowsKey, (1L << 20).toString).toLong
    // clamp BEFORE adding 1: a Long.MaxValue "unlimited" setting must not
    // overflow to executeTake(0) and silently return zero results — the
    // exact silent failure this guard exists to prevent. executeTake is
    // Int-bounded anyway, so bounds above Int.MaxValue−1 mean "take all".
    val cappedBound = math.min(maxQueryRows, Int.MaxValue.toLong - 1)
    val taken = child.executeTake((cappedBound + 1).toInt)
    if (taken.length > cappedBound) {
      throw new IllegalStateException(
        s"HnswResidentProbe query side exceeds $maxQueryRows rows " +
          s"(${HnswProbe.MaxQueryRowsKey}): the resident shape broadcasts " +
          "the QUERY side to executor-resident shards, so the query batch " +
          "must stay driver-memory-small — batch the queries, or raise the " +
          "bound if the driver heap genuinely accommodates it")
    }
    val qRows: Array[InternalRow] = taken.map(_.copy())
    val queries: Array[(Int, Array[Double])] = qRows.iterator.zipWithIndex
      .filterNot { case (r, _) => r.isNullAt(ord) } // null qv: no matches
      .map { case (r, i) => (i, r.getArray(ord).toDoubleArray()) }
      .toArray
    val sc = shards.sparkContext
    val bcQ = sc.broadcast(queries)
    val bcRows = sc.broadcast(qRows)
    // keep the k smallest by (unrounded distance, id) — same ordering and
    // same round-after-merge as the broadcast path, so rows are identical
    def bound(buf: scala.collection.mutable.ArrayBuffer[(Long, Double)])
      : scala.collection.mutable.ArrayBuffer[(Long, Double)] =
      if (buf.length <= kk) buf
      else {
        val kept = buf.sortBy { case (id, d) => (d, id) }.take(kk)
        buf.clear(); buf ++= kept
      }
    val allowF = allow.getOrElse(HnswIndex.AllowAll)
    val partial: RDD[(Int, (Long, Double))] = shards.flatMap { idx =>
      bcQ.value.iterator.flatMap { case (rowIdx, qv) =>
        idx.searchFiltered(qv, kk, allowF, efv)
          .iterator.map { case (id, d) => (rowIdx, (id, d)) }
      }
    }
    val merged = partial.aggregateByKey(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Double)])(
      (b, x) => bound(b += x),
      (a, b) => bound(a ++= b))
    merged.mapPartitions { it =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      it.flatMap { case (rowIdx, topk) =>
        val qRow = bcRows.value(rowIdx)
        topk.sortBy { case (id, d) => (d, id) }.iterator.take(kk).map {
          case (id, d) =>
            val right = new GenericInternalRow(2)
            right.setLong(0, id)
            right.setDouble(1, HnswSpark.roundDist6(d))
            proj(joined(qRow, right)).copy(): InternalRow
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): HnswResidentProbeExec =
    copy(child = c)
}

/** DataFrame-facing constructors for the probe operators. */
object HnswProbe {
  /** Upper bound (rows) on the resident probe's collected query side —
    * the enforcement knob for the small-side contract. Session-settable:
    * `spark.conf.set(HnswProbe.MaxQueryRowsKey, n)`.
    */
  val MaxQueryRowsKey = "spark.graft.residentProbe.maxQueryRows"

  /** queries must carry a `qv` ARRAY<DOUBLE> column; all query columns
    * pass through, plus (vec_id, distance) per result. Requires
    * HnswProbeStrategy to be registered (GraftExtensions / install).
    */
  def apply(
      queries: org.apache.spark.sql.DataFrame,
      index: Broadcast[Array[HnswIndex]],
      k: Int,
      ef: Option[Int] = None): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.ofRows(
      queries.sparkSession,
      HnswProbePlan(queries.queryExecution.analyzed, index, k, ef))

  /** Resident-shard variant: same contract, but probes a cached
    * `RDD[HnswIndex]` (HnswSpark.buildResident) in place of a broadcast.
    */
  def resident(
      queries: org.apache.spark.sql.DataFrame,
      shards: RDD[HnswIndex],
      k: Int,
      ef: Option[Int] = None,
      allow: Option[Long => Boolean] = None): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.ofRows(
      queries.sparkSession,
      HnswResidentProbePlan(queries.queryExecution.analyzed, shards, k, ef, allow))
}

/** Plans the probe logical nodes into their execs, resolving the `qv`
  * ordinal.
  */
object HnswProbeStrategy extends SparkStrategy {
  private def qvOrdinal(child: LogicalPlan): Int = {
    val ord = child.output.indexWhere(a => a.name == "qv" &&
      (a.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }))
    require(ord >= 0,
      s"HnswProbe child must provide qv ARRAY<DOUBLE>; got ${child.output}")
    ord
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: HnswProbePlan =>
      HnswProbeExec(
        planLater(p.child), p.index, p.k, p.ef, qvOrdinal(p.child), p.output) :: Nil
    case p: HnswResidentProbePlan =>
      HnswResidentProbeExec(
        planLater(p.child), p.shards, p.k, p.ef, p.allow,
        qvOrdinal(p.child), p.output) :: Nil
    case _ => Nil
  }
}
