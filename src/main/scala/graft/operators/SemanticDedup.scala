package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space, then WITHIN each
  * cluster drop every item whose cosine distance to a lower-id item of
  * the same cluster is ≤ eps — "keep one representative per semantic
  * blob" with no corpus-wide pair join anywhere. This is the semantic
  * (paraphrase/re-render) complement to the token-level dedup suite in
  * [[Dedup]]: MinHash/shingle dedup finds docs that SHARE TEXT; this
  * finds docs that MEAN the same thing in embedding space (no reference
  * analog — the reference serves vectors, it never dedups them).
  *
  * Scale shape (the paper's own design point): the only corpus-sized
  * shuffles are the centroid assignment (one broadcast crossJoin into a
  * bounded graft_topk(k=1) hash-aggregate argmin — deliberately NOT
  * [[Ivf.assign]]'s min(struct(...)), which plans as a SortAggregate
  * that sorts the whole N × nCentroids stream; see assign()) and the
  * within-cluster pair join, whose key is (cent_id, __salt). With the
  * operating contract nCentroids = O(N / targetClusterSize) — clusters
  * stay bounded-size as the corpus grows — each cluster's pair square is
  * a constant, the join fan-out per key never goes doc-quadratic, and
  * the salt (same dial as [[Ivf.knnGraph]]'s candidate exchange) spreads
  * any hot cluster's square over `saltFactor` tasks instead of one.
  * Nothing here touches the driver.
  *
  * Deterministic: centroids are the lowest-nCentroids ids of the
  * normalized corpus, assignment argmin ties break on cent_id, distances
  * round to 6 decimals — hence oracle-checkable end to end even though
  * clustering-based dedup is "approximate" in recall terms (a near-dup
  * pair straddling a cluster boundary is missed; that is the documented
  * SemDeDup trade, not a defect — the token-level suite catches exact
  * and shingle-level copies regardless of cluster).
  */
object SemanticDedup {

  /** Salt fan-out for the within-cluster pair join — see scaladoc. */
  private[graft] val SaltFactor = 8

  /** Per-vector semantic-dedup verdict: (idCol, cent_id, kept) for every
    * input vector, kept = 0 iff a lower-id vector in the same cluster is
    * within cosine distance eps (i.e. this vector is the DROPPED member
    * of a semantic duplicate pair; min-id representatives and singletons
    * keep 1). Kept is INT, not BOOLEAN, for engine-portable hashing.
    */
  def semanticDedup(
      emb: DataFrame,
      eps: Double,
      nCentroids: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      saltFactor: Int = SaltFactor): DataFrame = {
    // centroids pass RAW and normalize exactly once inside
    // semanticDedupWith — re-normalizing an already-unit vector divides
    // by a sqrt that is only ≈1.0, shifting rounded distances off the
    // oracle's normalize-once arithmetic
    semanticDedupWith(
      normalized(emb, idCol, vecCol),
      emb.orderBy(col(idCol)).limit(nCentroids)
        .select(col(idCol).as("cent_id"), col(vecCol).as("cv")),
      eps, idCol, saltFactor)
  }

  /** semanticDedup with CALLER-SUPPLIED centroids — the paper's actual
    * configuration uses k-means clusters, so a trained centroid frame
    * (e.g. MLlib k-means via [[IvfTrained]]) plugs in here;
    * `centroids` = (cent_id LONG, cv ARRAY<DOUBLE>), normalized by this
    * method, broadcast-sized by contract. The deterministic-centroid
    * overload above routes through this (spec-gated identical), keeping
    * one pair-join/argmin implementation.
    */
  def semanticDedupWith(
      emb: DataFrame,
      centroids: DataFrame,
      eps: Double,
      idCol: String,
      saltFactor: Int,
      vecCol: String = "embedding"): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    val normed =
      if (emb.columns.contains("nv")) emb else normalized(emb, idCol, vecCol)
    // cast: the graft_topk argmin carries LONG ids; trained centroid
    // tables (e.g. MLlib cluster indices) often arrive as INT
    val cents = centroids.select(
      col("cent_id").cast("long").as("cent_id"),
      VectorFunctions.l2Normalize(col("cv")).as("cv"))
    // Argmin assignment via the bounded graft_topk aggregate (k=1) —
    // ObjectHashAggregate, so the N × nCentroids crossJoin stream is
    // consumed by a per-partition hash map keyed on the vector id and
    // NEVER sorted or buffered (a min(struct(...)) argmin plans as a
    // SortAggregate, which sorts the whole pair stream — ruinous at
    // soak scale); map-side partials mean the shuffle carries one row
    // per vector. The normalized vector rides along (first()) so the
    // pair join needs no join back.
    val assigned = assign(normed, cents, idCol)
    // both sides of the pair join + the output read it
    graft.CacheTracker.pin(assigned)
    // Within-cluster salted pair join: side a (the "is this a dup?" side)
    // carries one hash-derived salt, side b (the lower-id witness side)
    // replicates across all salts, so every same-cluster (a, b) pair
    // meets exactly once, at key (cent_id, salt_a).
    val a = assigned.select(
      col(idCol).as("id_a"), col("nv").as("va"), col("cent_id"),
      pmod(xxhash64(col(idCol)), lit(saltFactor.toLong)).as("__salt"))
    val b = assigned.select(
      col(idCol).as("id_b"), col("nv").as("vb"), col("cent_id"),
      explode(sequence(lit(0L), lit(saltFactor - 1L))).as("__salt"))
    val dups = a.join(b, Seq("cent_id", "__salt"))
      .where(col("id_b") < col("id_a"))
      .where(VectorFunctions.roundDist(
        lit(1.0) - VectorFunctions.dot(col("va"), col("vb"))) <= eps)
      .select(col("id_a").as(idCol))
      .distinct()
    assigned
      .join(dups.withColumn("__dup", lit(1)), Seq(idCol), "left_outer")
      .select(
        col(idCol), col("cent_id"),
        when(col("__dup").isNull, lit(1)).otherwise(lit(0)).as("kept"))
      .orderBy(col(idCol))
  }

  /** Normalize ONCE (codegen'd ArrayL2Normalize); on unit vectors cosine
    * distance is 1 − dot — one array pass per candidate pair, zero-norm
    * vectors stay zero and get distance 1.0, the reference's semantics.
    */
  private def normalized(
      emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), VectorFunctions.l2Normalize(col(vecCol)).as("nv"))

  /** Nearest-centroid assignment on pre-normalized vectors:
    * (idCol, nv, cent_id), ties on rounded distance break by cent_id
    * (graft_topk's tie order, the same contract knnGraph's oracle
    * proves).
    */
  private def assign(
      normed: DataFrame, cents: DataFrame, idCol: String): DataFrame =
    normed
      .crossJoin(broadcast(cents))
      .select(
        col(idCol), col("nv"),
        VectorFunctions.roundDist(
          lit(1.0) - VectorFunctions.dot(col("nv"), col("cv"))).as("cd"),
        col("cent_id"))
      .groupBy(col(idCol))
      .agg(
        first(col("nv")).as("nv"),
        VectorFunctions.topK(col("cd"), col("cent_id"), 1).as("c1"))
      .select(col(idCol), col("nv"),
        element_at(col("c1.vec_id"), 1).as("cent_id"))
}
