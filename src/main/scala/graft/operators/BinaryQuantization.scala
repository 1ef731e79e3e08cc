package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Binary (1-bit sign) quantization for embedding columns — the extreme
  * end of the quantization family next to SQ8 (Quantization.scala) and PQ
  * (ProductQuantization.scala). Each dimension keeps ONE bit: is the
  * value above the vector's own mean? 64 dims pack into two 32-bit words
  * stored as longs — 16 bytes per vector vs 512 for float64, a 32×
  * reduction. At 100 TB of embeddings that is the difference between a
  * Hamming scan that streams 3 TB of codes and one that streams the full
  * corpus; candidate generation runs over the packed words with
  * `bit_count(xor)` (both codegen'd integer built-ins) and only the
  * `k × candFactor` survivors touch the full-precision vectors for the
  * exact rerank — the standard two-stage ANN contract.
  *
  * Determinism: the per-vector mean is a sequential left-to-right double
  * sum (identical order in Spark's `aggregate` and DuckDB's `list_sum`),
  * the threshold compare is exact, and packing/Hamming are integer
  * arithmetic — so unlike most binarizers the whole pipeline is
  * oracle-checkable. Per-vector (not corpus) thresholds also keep encode
  * MAP-ONLY: no training pass, no global stats exchange, new rows encode
  * without touching history — the property that lets the codes ride an
  * ingest stream.
  *
  * Word layout: bit j of word w covers dimension `w·32 + j` (LSB-first),
  * 32 bits per long word so every partial sum stays exactly representable
  * on the way through double-typed SQL renderings.
  */
object BinaryQuantization {

  val BitsPerWord = 32

  private def wordsFor(v: Column, mu: Column, nWords: Int): Column =
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(sequence(lit(0), lit(BitsPerWord - 1)), lit(0L), (acc, j) =>
        acc + when(
          (w * BitsPerWord + j) < size(v) &&
            element_at(v, (w * BitsPerWord + j + 1).cast("int")) > mu,
          pow(lit(2.0), j).cast("long")).otherwise(lit(0L))))

  /** (id, words ARRAY<BIGINT>) — the packed sign codes. `dim` bounds the
    * word count at plan time; vectors shorter than `dim` zero-fill (the
    * in-array guard uses the observed size).
    */
  def bqEncode(
      emb: DataFrame,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    val nWords = (dim + BitsPerWord - 1) / BitsPerWord
    emb
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("mu", aggregate(col("v"), lit(0.0), _ + _) / size(col("v")))
      .select(col(idCol), wordsFor(col("v"), col("mu"), nWords).as("words"))
  }

  /** The candFactor sizing RULE, pure and spec-gated: the r12 1M curve
    * established that BQ's Hamming cut cannot rank WITHIN a cluster, so
    * the shortlist behaves (at worst) like a uniform within-cluster
    * draw — recall ≈ k·candFactor / S with S the occupancy of the
    * query's cluster. Sizing candFactor = ⌈targetRecall·Ŝ/k⌉ therefore
    * GUARANTEES recall ≥ targetRecall even under total within-cluster
    * blindness (measured recall beats it by the residual Hamming
    * signal; the bqautosize soak shows the margin). Ŝ is the
    * membership-weighted mean cell size Σn_c²/n — the expected size of
    * a random query's own cluster. Above `maxCandFactor` the rule
    * FAILS LOUDLY: that is the automated "BQ is the wrong tool here"
    * signal (reach for PQ/SQ8 fine ranking instead).
    */
  def candFactorFor(
      cellCounts: Seq[Long],
      k: Int,
      targetRecall: Double,
      maxCandFactor: Int = 64): Int = {
    require(k >= 1 && targetRecall > 0.0 && targetRecall <= 1.0,
      "k >= 1, 0 < targetRecall <= 1")
    require(cellCounts.nonEmpty && cellCounts.forall(_ >= 0),
      "cellCounts must be a non-empty occupancy vector")
    val n = cellCounts.map(_.toDouble).sum
    require(n > 0, "empty corpus")
    val occ = cellCounts.map(c => c.toDouble * c / n).sum
    val cf = math.max(1, math.ceil(targetRecall * occ / k).toInt)
    require(cf <= maxCandFactor,
      f"BQ cannot reach recall@$k >= $targetRecall here: measured cluster " +
        f"occupancy $occ%.0f implies candFactor $cf > cap $maxCandFactor " +
        "(shortlist ~ cluster size). Use PQ/SQ8 fine ranking, or more " +
        "bits per dimension — the Hamming cut has no within-cluster " +
        "resolution to buy with a bigger shortlist.")
    cf
  }

  /** Measure cluster occupancy with the integer-exact trainer and apply
    * [[candFactorFor]] — the constant-8 default replaced by a corpus
    * statistic. `kCells` sets the granularity the occupancy is measured
    * AT: the recall bound holds when the Hamming-blindness sets sit
    * inside the measured cells, so pick kCells AT OR BELOW the semantic
    * cluster count you expect Hamming to separate (too few cells merges
    * clusters and sizes conservatively; too many splits a blindness set
    * across cells and the bound weakens — the bqautosize soak measures
    * both geometries). Occupancy is a corpus statistic, not per-row
    * state: at 100 TB measure it on a sample, like codebook training.
    */
  def autoCandFactor(
      emb: DataFrame,
      k: Int,
      targetRecall: Double,
      kCells: Int = 256,
      iterations: Int = 2,
      maxCandFactor: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Int = {
    val counts = Kmeans.assignFace(emb, kCells, iterations, idCol, vecCol)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
      .collect() // bounded: kCells rows
      .map(_.getLong(1)).toSeq
    candFactorFor(counts, k, targetRecall, maxCandFactor)
  }

  /** Hamming distance between two packed-word arrays (long). */
  def hamming(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  /** Per-word popcount face — (id, word_idx, word, n_set), one row per
    * packed word, all scalar integer columns (oracle-checkable shape).
    */
  def bqStats(
      emb: DataFrame,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    bqEncode(emb, dim, idCol, vecCol)
      .select(col(idCol), posexplode(col("words")).as(Seq("word_idx", "word")))
      .select(
        col(idCol), col("word_idx").cast("long").as("word_idx"), col("word"),
        bit_count(col("word")).cast("long").as("n_set"))
      .orderBy(col(idCol), col("word_idx"))

  /** Batch twin of [[bqKnn]] — the knnBatch shape applied to the
    * two-stage contract: queries broadcast against the packed codes,
    * per-query candidate cut via the bounded `graft_topk` aggregate
    * over the Hamming distance (exact as a double below 2^53 — map-side
    * k·candFactor heaps, so the shuffle carries heap rows, never the
    * corpus), then the exact cosine rerank joins ONLY the bounded
    * candidate frame (broadcast) back to the full vectors.
    */
  def bqKnnBatch(
      emb: DataFrame,
      queries: DataFrame, // columns: query_id, qv
      k: Int,
      candFactor: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && candFactor >= 1, "k and candFactor must be >= 1")
    val enc = bqEncode(emb, dim, idCol, vecCol)
    val qenc = bqEncode(
      queries.select(col("query_id").as(idCol), col("qv").as(vecCol)),
      dim, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("words").as("qwords"))
    val cand = enc
      .crossJoin(broadcast(qenc))
      .select(col("query_id"), col(idCol),
        hamming(col("words"), col("qwords")).cast("double").as("hd"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("hd"), col(idCol), k * candFactor).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("r"))
      .select(col("query_id"), col("r.vec_id").as(idCol),
        col("r.distance").cast("long").as("hamming"))
    val reranked = emb
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .join(broadcast(cand.select(col("query_id"), col(idCol))), idCol)
      .join(broadcast(queries.select(col("query_id"),
        col("qv").cast("array<double>").as("qv"))), "query_id")
      .select(col("query_id"), col(idCol),
        VectorFunctions.roundDist(VectorFunctions.cosine(col("v"), col("qv")))
          .as("distance"))
      .groupBy(col("query_id"))
      .agg(VectorFunctions.topK(col("distance"), col(idCol), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "r")))
      .select(col("query_id"), col("r.vec_id").as(idCol),
        col("r.distance").as("distance"),
        (col("pos") + 1).cast("long").as("rank"))
    reranked
      .join(broadcast(cand), Seq("query_id", idCol)) // re-attach hamming
      .select(col("query_id"), col(idCol), col("hamming"),
        col("distance"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** BQ → SQ8 two-stage serving composition — the operating guidance
    * the 1M bqrecall curve produced, as a first-class operator: the
    * Hamming prefilter cuts to k·candFactor survivors (32×-compressed
    * scan), then the SQ8 ASYMMETRIC euclidean rerank ranks only those
    * survivors from their 8×-compressed codes. Sign bits cannot rank
    * within a cluster (the curve's structural finding); SQ8 can — and
    * the query path touches NO full-precision vectors at all
    * (16 B + ~dim B of codes per vector). Both stages deterministic
    * (round-6 distances, id tiebreaks) ⇒ oracle-checkable.
    */
  def bqSq8Knn(
      emb: DataFrame,
      query: DataFrame, // one row, col "qv"
      k: Int,
      candFactor: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && candFactor >= 1, "k and candFactor must be >= 1")
    val cand = hammingShortlist(emb, query, k * candFactor, dim, idCol, vecCol)
    Quantization.sq8Encode(emb, idCol, vecCol)
      .join(broadcast(cand), idCol)
      .crossJoin(broadcast(query.select(col("qv").cast("array<double>").as("qv"))))
      .select(
        col(idCol), col("hamming"),
        VectorFunctions.roundDist(
          VectorFunctions.euclidean(
            Quantization.sq8DecodeCol(col("vmin"), col("vmax"), col("codes")),
            col("qv")))
          .as("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }

  /** The single-query Hamming shortlist: the n packed codes closest to
    * the query's sign bits, ties by id — (id, hamming). The cut is a
    * `TakeOrderedAndProject` over the 32×-compressed frame.
    */
  private def hammingShortlist(
      emb: DataFrame, query: DataFrame, n: Int, dim: Int,
      idCol: String, vecCol: String): DataFrame = {
    val enc = bqEncode(emb, dim, idCol, vecCol)
    val qwords = bqEncode(
      query.select(lit(0L).as(idCol), col("qv").as(vecCol)), dim, idCol, vecCol)
      .select(col("words").as("qwords"))
    enc
      .crossJoin(broadcast(qwords))
      .select(col(idCol), hamming(col("words"), col("qwords")).as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(n)
  }

  /** Two-stage ANN: Hamming scan over the packed codes keeps the
    * `k × candFactor` closest candidates (ties by id), then the exact
    * cosine rerank over ONLY those rows emits the top k. The candidate
    * cut is a `TakeOrderedAndProject` over the 32×-compressed frame; the
    * rerank side is `candidates ⋈ corpus` with the bounded candidate list
    * broadcast, so the full-precision vectors are touched `k × candFactor`
    * times, never scanned.
    */
  def bqKnn(
      emb: DataFrame,
      query: DataFrame, // one row, col "qv"
      k: Int,
      candFactor: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && candFactor >= 1, "k and candFactor must be >= 1")
    val cand = hammingShortlist(emb, query, k * candFactor, dim, idCol, vecCol)
    emb
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .join(broadcast(cand), idCol)
      .crossJoin(broadcast(query.select(col("qv").cast("array<double>").as("qv"))))
      .select(
        col(idCol), col("hamming"),
        VectorFunctions.roundDist(VectorFunctions.cosine(col("v"), col("qv")))
          .as("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }
}
