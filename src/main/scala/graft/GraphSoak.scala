package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.operators.GraphOps

/** Graph-operator scale soak (suite `graph`) — the measured point under
  * the PageRank / label-propagation 100 TB claims: run both fixed-iteration walks on a
  * deterministic synthetic graph at quarter and full scale and print
  * one JSON line. The graph is generated DISTRIBUTED (range → explode;
  * no driver-side array): each of n nodes emits k out-edges, edge 0
  * into a 1024-node hub set (the in-degree skew a real similarity
  * graph has), the rest xxhash-uniform. All destinations land in
  * [0, n) so the closed-graph contract holds by construction.
  *
  * Usage: graft.Soak graph [nNodes] [kOut] [iterations]
  *
  * Reported: per-size wall seconds for each walk, the full/quarter
  * scaling ratio (≈4 ⇒ linear in edges), conserved PageRank mass, and
  * the label-propagation spread count (seeds = every 100th node).
  */
object GraphSoak {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val k = if (args.length > 1) args(1).toInt else 8
    val iters = if (args.length > 2) args(2).toInt else 5

    def edges(nn: Long): DataFrame =
      spark.range(nn).toDF("src_id")
        .select(col("src_id"),
          explode(sequence(lit(0), lit(k - 1))).as("j"))
        .select(col("src_id"),
          when(col("j") === 0, col("src_id") % 1024)
            .otherwise(pmod(xxhash64(col("src_id"), col("j")), lit(nn)))
            .as("nbr_id"))
        .where(col("nbr_id") =!= col("src_id"))

    def prMass(nn: Long): (Long, Double) = timed {
      GraphOps.pageRank(edges(nn), iterations = iters)
        .agg(sum(col("pr_micro"))).collect()(0).getLong(0)
    }
    def lpSpread(nn: Long): (Long, Double) = timed {
      val seeds = spark.range(nn).where(col("id") % 100 === 0)
        .select(col("id").as("vec_id"), (col("id") % 10).as("label"))
      GraphOps.labelPropagation(edges(nn), seeds, iterations = iters)
        .where(col("label") >= 0).count()
    }

    val (massQ, prQSec) = prMass(n / 4)
    CacheTracker.releaseAll()
    val (mass, prSec) = prMass(n)
    CacheTracker.releaseAll()
    val (spreadQ, lpQSec) = lpSpread(n / 4)
    CacheTracker.releaseAll()
    val (spread, lpSec) = lpSpread(n)
    CacheTracker.releaseAll()

    emit("n" -> n, "k" -> k, "iterations" -> iters,
      "pr_quarter_sec" -> fixed(prQSec, 1), "pr_sec" -> fixed(prSec, 1),
      "pr_scaling" -> fixed(prSec / prQSec, 2),
      "pr_mass_quarter" -> massQ, "pr_mass" -> mass,
      "lp_quarter_sec" -> fixed(lpQSec, 1), "lp_sec" -> fixed(lpSec, 1),
      "lp_scaling" -> fixed(lpSec / lpQSec, 2),
      "lp_spread_quarter" -> spreadQ, "lp_spread" -> spread)
  }
}
