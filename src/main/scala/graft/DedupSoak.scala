package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SoakKit._
import graft.operators.Dedup

/** Dedup-suite scale soak (suite `dedup`) — what `hnsw` is for ANN, this is for the
  * near-dup pipeline: run prefix-filtered candidate generation →
  * ngram-Jaccard pairs → connected components END-TO-END at 10-100×
  * fixture scale and print one JSON line of measurements, so the
  * 100 TB claims for the dedup suite rest on a measured point, not just
  * plan-shape arguments.
  *
  * Usage: graft.Soak dedup [nDocs] [threshold] [full|core] [docsPerPartition]
  *
  * Corpus (distributed generation, no driver-side array — same policy as
  * the hnsw suite's resident mode): nDocs documents of 24 tokens, each containing
  *  - ONE planted stop phrase ("in the united states" — two 3-gram
  *    shingles with document frequency = nDocs, the exact hot-posting-
  *    list hazard VERDICT r4 flagged),
  *  - 20 content tokens hash-derived from the doc's cluster base id, and
  *  - a member suffix token.
  * Docs with id % 100 < 5 form planted 5-member near-dup cliques (they
  * share 21 of 22 shingles, J ≈ 0.91); all other docs are unique. So the
  * TRUE pair count is 10·(nDocs/100) and every cross-cluster pair shares
  * ONLY the two hot shingles (J ≈ 0.05, far below threshold).
  *
  * Reported:
  *  - legacy_join_rows: Σ df·(df−1)/2 over the full inverted index —
  *    the pair-row volume the UN-prefixed self-join would shuffle
  *    (computed analytically from the df table; at 500k docs it is
  *    ~2.5e11 rows, which is WHY the legacy path cannot run here).
  *  - n_candidates: distinct candidate pairs out of the prefix-filtered
  *    index (should be ≈ the true pair count — linear in docs, the
  *    prefix filter's whole point).
  *  - n_pairs: verified pairs ≥ threshold; pairs_sec end-to-end.
  *  - cc rounds + per-round changed counts (connectedComponentsWithStats
  *    telemetry) + cc_sec + cluster-structure sanity counts.
  *  - peak_shuffle_write_mb: max per-stage shuffle write across the run
  *    (SparkListener; the observable for "no stage shuffles the square").
  */
object DedupSoak {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 500000
    val threshold = if (args.length > 1) args(1).toDouble else 0.3
    // "core" runs ONLY prefix-filtered candidates → verified pairs → cc
    // (the pieces whose posting-list and round-count behavior is the
    // 100 TB question); "full" adds the winnow/substring/passage sweeps,
    // each of which has its own measured line at 500k. At 10M the full
    // sweep's SIX pipelines exceed this box's scratch disk — core is
    // what the 20×-scale linearity claim actually needs.
    val scope = if (args.length > 2) args(2) else "full"
    val cpus = SoakKit.cpus(spark)
    // Size shuffle partitions to the CORPUS, not the core count — the
    // 10M lesson: at 32 partitions the ppjoin's shuffled-hash build side
    // is ~10M·prefix rows / 32 ≈ a 256 MB+ hash relation per task, and
    // LongHashedRelation build cannot spill ("Can't acquire memory").
    // One partition per ~100k docs keeps every build side comfortably
    // in-memory at any n; a real cluster sizes the same knob the same
    // way (floor = cpus so small runs keep full parallelism). Arg 4
    // sweeps the docs-per-partition sizing (the r15 operating-rule
    // measurement: 50k / 100k / 200k at 10M).
    val docsPerPartition = if (args.length > 3) args(3).toInt else 100000
    val shufflePartitions = math.max(cpus, n / docsPerPartition)
    val sessionPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    try {
      val ((nDocs, fields), c) = census(spark)(measure(spark, n, threshold, scope, cpus))
      emit(Seq("n_docs" -> nDocs, "threshold" -> threshold, "scope" -> scope,
        "docs_per_partition" -> docsPerPartition,
        "shuffle_partitions" -> shufflePartitions) ++ fields ++ Seq(
        "peak_shuffle_write_mb" -> c.peakStageShuffleWrite.get / 1048576,
        "mem_spilled_mb" -> c.memorySpilled.get / 1048576,
        "disk_spilled_mb" -> c.diskSpilled.get / 1048576): _*)
    } finally spark.conf.set("spark.sql.shuffle.partitions", sessionPartitions)
  }

  /** The timed pipeline: the corpus size and the measured fields in order. */
  private def measure(spark: SparkSession, n: Int, threshold: Double,
      scope: String, cpus: Int): (Long, Seq[(String, Any)]) = {
    // deterministic distributed corpus (see scaladoc)
    val docs = CacheTracker.fill(spark.range(0, n, 1, cpus)
      .select(
        col("id").as("doc_id"),
        when(col("id") % 100 < 5, col("id") - col("id") % 100)
          .otherwise(col("id")).as("__base"),
        (col("id") % 100).as("__m"))
      .select(
        col("doc_id"),
        concat_ws(" ",
          lit("in the united states"),
          expr("concat_ws(' ', transform(sequence(0, 19), " +
            "j -> concat('c', abs(xxhash64(__base, j)))))"),
          concat(lit("m"), col("__m"))).as("text")))
    val nDocs = docs.count()

    // the analytic legacy join volume: Σ df·(df−1)/2 over the FULL index
    val legacyJoinRows = Dedup.shingles(docs, 3)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1) / 2).cast("long")).head().getLong(0)

    // each timed window stands alone: it releases the operator caches it
    // pinned (keeping the corpus), so a later window recomputes
    def window[A](f: => A): (A, Double) = {
      val r = timed(f)
      releaseAllBut(docs)
      r
    }
    // candidate generation alone: the prefix-filtered index
    val (nCand, candSec) = window(Dedup.candidatePairs(docs, 3,
      Dedup.jaccardPrefixLen(threshold), Dedup.jaccardOverlapFloor(threshold))
      .count())
    // verified pairs end-to-end (recomputes candidates), cached for the
    // connected components that follow
    val pairs = Dedup.ngramJaccardPairs(docs, 3, threshold)
      .select(col("doc_a"), col("doc_b"))
    val (nPairs, pairsSec) = timed(CacheTracker.fill(pairs).count())
    // connected components with telemetry
    val ((stats, nMerged, nClusters), ccSec) = window {
      val (labels, stats) = Dedup.connectedComponentsWithStats(
        docs.select(col("doc_id")), pairs)
      (stats, labels.where(col("doc_id") =!= col("cluster_id")).count(),
        labels.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("sz")).where(col("sz") > 1).count())
    }
    // winnow (MOSS fingerprint) pair path at the same scale — measures
    // the q-extended prefix machinery end-to-end: planted clique members
    // share their 20 hash-derived content tokens, so winnow fingerprints
    // overlap heavily within cliques and barely across them
    val (nWinnowPairs, winnowSec) = window(
      if (scope == "core") -1L
      else Dedup.winnowPairs(docs, k = 12, w = 6, minShared = 30).count())
    // substring-duplication coverage at the same scale: clique members
    // share ~all their character k-grams, unique docs share only the
    // planted stop phrase's k-grams — so mean dup_fraction must separate
    // the two populations, and the postings volume (docs × ~chars) is
    // the measured linear-scale point for the operator
    val (sub, subSec) = window(
      if (scope == "core") Map.empty[Boolean, (Long, Double, Long)]
      else byPlanted(Dedup.substringDupStats(docs, k = 20)
        .select(col("doc_id"), col("n_kgrams"), col("dup_fraction"),
          (col("doc_id") % 100 < 5).as("planted"))
        .groupBy(col("planted"))
        .agg(count(lit(1)).as("n"),
          avg(col("dup_fraction")).as("avg_dup"),
          sum(col("n_kgrams")).as("postings"))))
    // PASSAGE-level span scrubbing at the same scale: clique members
    // share their whole 20-token content block, so every clique passage
    // dedups to its first member while unique docs keep almost everything
    // except the shared stop-phrase windows — mean kept fraction must
    // separate the populations, and the postings volume (docs ×
    // ~passages) is the measured linear point for the operator
    val (pd, pdSec) = timed(
      if (scope == "core") Map.empty[Boolean, (Long, Double, Long)]
      else byPlanted(Dedup.passageDedup(docs, passageTokens = 4)
        .select((col("doc_id") % 100 < 5).as("planted"),
          col("n_passages"), col("n_kept"))
        .groupBy(col("planted"))
        .agg(count(lit(1)).as("n"),
          avg(col("n_kept") / col("n_passages")).as("avg_kept_frac"),
          sum(col("n_passages")).as("passages"))))
    CacheTracker.releaseAll()

    // .get with a zero default: either population can be absent (all its
    // docs shorter than k chars are omitted by the winnow contract)
    def mean(m: Map[Boolean, (Long, Double, Long)], planted: Boolean) =
      rounded(m.get(planted).fold(0.0)(_._2), 4)
    (nDocs, Seq("legacy_join_rows" -> legacyJoinRows,
      "n_candidates" -> nCand, "cand_sec" -> rounded(candSec, 2),
      "n_pairs" -> nPairs, "pairs_sec" -> rounded(pairsSec, 2),
      "n_winnow_pairs" -> nWinnowPairs, "winnow_sec" -> rounded(winnowSec, 2),
      "substr_postings" -> sub.values.map(_._3).sum,
      "substr_avg_dup_planted" -> mean(sub, true),
      "substr_avg_dup_unique" -> mean(sub, false),
      "substr_sec" -> rounded(subSec, 2),
      "passage_postings" -> pd.values.map(_._3).sum,
      "passage_avg_kept_planted" -> mean(pd, true),
      "passage_avg_kept_unique" -> mean(pd, false),
      "passage_sec" -> rounded(pdSec, 2),
      "cc_rounds" -> stats.rounds, "cc_changed_per_round" -> stats.changedPerRound,
      "cc_sec" -> rounded(ccSec, 2),
      "n_merged_docs" -> nMerged, "n_multi_clusters" -> nClusters))
  }

  /** planted → (docs, mean, postings) from a (planted, n, mean, sum) frame. */
  private def byPlanted(df: org.apache.spark.sql.DataFrame)
      : Map[Boolean, (Long, Double, Long)] =
    df.collect().map(r =>
      r.getBoolean(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
}
