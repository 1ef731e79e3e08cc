package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.operators.SemanticDedup

/** Semantic-dedup scale soak (suite `semantic`) — the measured
  * 100×-fixture point for [[SemanticDedup]], mirroring what the dedup
  * suite does for shingles: generate a distributed corpus with PLANTED near-identical
  * embedding blobs, run semanticDedup end to end, and print one JSON
  * line, so the "cluster sizes bound the pair square" claim rests on a
  * measurement, not just the plan shape.
  *
  * Usage: graft.Soak semantic [nVecs] [dim] [nCentroids] [eps] [mode]
  * Defaults: 500000 64 707 (≈√N) 0.01 det
  * mode=trained uses MLlib spherical k-means centers
  * (IvfTrained.train → semanticDedupWith — the SemDeDup paper's
  * configuration); real cluster centers shrink the boundary-straddle
  * recall gap the deterministic-centroid mode measures.
  *
  * Corpus (distributed, deterministic — the hnsw suite's Box-Muller policy; no
  * driver-side array): ids with id % 100 < 5 form 5-member blobs around
  * a shared Box-Muller base vector (jitter σ=0.01 per element ⇒ mutual
  * cosine distance ~5e-5, far inside eps); all other ids are unique
  * Gaussians (mutual distance ~1, far outside). TRUE droppable set =
  * the 4 non-minimum members of each blob = 0.04·nVecs. Planted recall
  * lands below 1.0 for two DOCUMENTED reasons, both inherent to
  * SemDeDup: blobs whose ids fall inside the centroid range self-assign
  * (each member IS a centroid at distance 0), and a blob whose base
  * sits near a Voronoi boundary can have its jittered members assigned
  * to different cells (the paper's cluster-boundary miss). Measured at
  * 50k/707: recall 0.9715, zero false drops.
  *
  * Reported: corpus_pairs (the N·(N−1)/2 square nothing may shuffle),
  * intra_cluster_pairs (Σ sz·(sz−1)/2 — the analytic candidate volume
  * the clustering bounds), max_cluster, n_dropped, planted recall,
  * false drops, end-to-end seconds, and peak per-stage shuffle-write MB
  * (SparkListener — the observable that the pair square never hits a
  * shuffle: only id+vector rows × (salt+1) do).
  */
object SemanticSoak {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 500000
    val dim = if (args.length > 1) args(1).toInt else 64
    val nCents = if (args.length > 2) args(2).toInt else math.sqrt(n.toDouble).toInt
    val eps = if (args.length > 3) args(3).toDouble else 0.01
    val mode = if (args.length > 4) args(4) else "det"

    val ((nVecs, trainSec, agg, sec, szAgg), c) = census(spark) {
      // deterministic distributed corpus: blob members share the base
      // id's Box-Muller vector plus a small per-member jitter (see scaladoc)
      val emb = CacheTracker.fill(spark.range(0, n, 1, cpus(spark))
        .select(
          col("id").as("vec_id"),
          when(col("id") % 100 < 5, col("id") - col("id") % 100)
            .otherwise(col("id")).as("__base"))
        .select(
          col("vec_id"),
          vector(dim, s"${gaussianElem("__base", 1, 2)} + 0.01 * ${gaussianElem("vec_id", 3, 4)}")
            .as("embedding")))
      val nVecs = emb.count()

      // mode=trained: k-means centers first (timed separately — training
      // is a one-off amortized over every dedup run against the model)
      val (trainedCents, trainSec) = timed(
        if (mode == "trained") {
          val m = graft.operators.IvfTrained.train(emb, nCents, spherical = true)
          import spark.implicits._
          Some(m.centroids.toSeq.toDF("cent_id", "cv"))
        } else None)

      val ((out, agg), sec) = timed {
        val out = CacheTracker.pin(trainedCents match {
          case Some(cents) =>
            SemanticDedup.semanticDedupWith(emb, cents, eps, "vec_id", 8)
          case None => SemanticDedup.semanticDedup(emb, eps, nCents)
        })
        (out, out.agg(
          sum(when(col("kept") === 0, 1L).otherwise(0L)).as("dropped"),
          sum(when(col("kept") === 0 && col("vec_id") % 100 >= 1
            && col("vec_id") % 100 <= 4, 1L).otherwise(0L)).as("planted_dropped"),
          sum(when(col("kept") === 0 && (col("vec_id") % 100 === 0
            || col("vec_id") % 100 >= 5), 1L).otherwise(0L)).as("false_drops"))
          .head())
      }
      val szAgg = out.groupBy(col("cent_id")).agg(count(lit(1)).as("sz")).agg(
        max(col("sz")).as("mx"),
        sum(col("sz") * (col("sz") - 1) / 2).cast("long").as("pairs")).head()
      CacheTracker.releaseAll()
      (nVecs, trainSec, agg, sec, szAgg)
    }
    // count, don't derive: 4·⌊n/100⌋ miscounts a partial trailing blob
    // (e.g. n=450 has droppable members 401-404) and divides by zero
    // below 100
    val trueDroppable = (0L until n.toLong)
      .count(id => id % 100 >= 1 && id % 100 <= 4).toLong
    val recall =
      if (trueDroppable == 0) 1.0
      else agg.getLong(1).toDouble / trueDroppable

    emit("n_vecs" -> nVecs, "dim" -> dim, "n_centroids" -> nCents, "eps" -> eps,
      "mode" -> mode, "train_sec" -> rounded(trainSec, 2),
      "corpus_pairs" -> n.toLong * (n - 1) / 2,
      "intra_cluster_pairs" -> szAgg.getLong(1),
      "max_cluster" -> szAgg.getLong(0),
      "n_dropped" -> agg.getLong(0),
      "true_droppable" -> trueDroppable,
      "planted_recall" -> rounded(recall, 4),
      "false_drops" -> agg.getLong(2),
      "dedup_sec" -> rounded(sec, 2),
      "peak_shuffle_write_mb" -> c.peakStageShuffleWrite.get / 1048576)
  }
}
