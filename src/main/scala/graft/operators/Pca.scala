package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.GramianAggregate

/** Distributed PCA — the data-dependent dimensionality reduction next to
  * the data-oblivious JL projection ([[Projection]]): one corpus pass
  * accumulates the second-moment/covariance statistics through the
  * bounded [[GramianAggregate]] (per-partition dense buffers, shuffle =
  * one ~dim²/2 buffer per partition, never n·dim² exploded rows), the
  * dim×dim eigenproblem is solved on the DRIVER (bounded — dim², not n),
  * and the projection applies through the same native
  * [[graft.functions.ArrayMatVec]] loop the JL path uses.
  *
  * 100 TB shape: the corpus is touched exactly twice (one stats pass,
  * one map-only projection pass); everything between is O(dim²) driver
  * work. dim=1024 → a 4 MB buffer and a ~1 s Jacobi solve.
  */
object Pca {

  private def gramCol(vec: Column, dim: Int): Column =
    Bridge.column(GramianAggregate(
      Bridge.expression(vec.cast("array<double>")), dim)
      .toAggregateExpression())

  /** Covariance matrix in oracle-checkable LONG FORM: (i, j, cov) for
    * i ≤ j, cov = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n) rounded to 6 decimals —
    * the identically-parenthesized expression a DuckDB replay states
    * over exploded (vec_id, dim, value) rows. Lazy end to end: the
    * single Gramian row explodes against a driver-built (pos → i, j)
    * index map (bounded dim²), sums and n join back from the same row.
    */
  def covariance(
      emb: DataFrame,
      dim: Int,
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val triLen = dim * (dim + 1) / 2
    val ex = emb.agg(gramCol(col(vecCol), dim).as("g"))
      .select(posexplode(col("g")).as(Seq("pos", "v")))
    // bounded: dim(dim+1)/2 + dim + 1 rows
    graft.CacheTracker.pin(ex)
    val idx = (for (i <- 0 until dim; j <- i until dim)
      yield (i * dim - i * (i - 1) / 2 + (j - i), i.toLong, j.toLong))
      .toDF("pos", "i", "j")
    val n = ex.where(col("pos") === triLen + dim).select(col("v").as("n"))
    val sums = ex.where(col("pos") >= triLen && col("pos") < triLen + dim)
      .select((col("pos") - triLen).cast("long").as("k"), col("v").as("s"))
    ex.where(col("pos") < triLen)
      .join(broadcast(idx), "pos")
      .join(broadcast(sums.withColumnRenamed("k", "i")
        .withColumnRenamed("s", "si")), "i")
      .join(broadcast(sums.withColumnRenamed("k", "j")
        .withColumnRenamed("s", "sj")), "j")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (round(col("v") / col("n") -
          (col("si") / col("n")) * (col("sj") / col("n")), 6) + 0.0)
          .as("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** The raw second-moment statistics buffer (the GramianAggregate
    * layout: upper triangle, per-dim sums, n) — the INCREMENTAL-fit
    * face: buffers from disjoint batches merge by elementwise addition
    * into exactly the single-pass buffer of the union, so a nightly
    * PCA refresh folds yesterday's stats with today's batch instead of
    * rescanning history. Spec-gated exact (same partition-level adds the
    * aggregate itself performs).
    */
  def stats(emb: DataFrame, dim: Int, vecCol: String = "embedding"): Array[Double] =
    emb.agg(gramCol(col(vecCol), dim).as("g"))
      .head().getSeq[Double](0).toArray

  /** Elementwise merge of two stats buffers — addition, the aggregate's
    * own merge operation surfaced for caller-side incremental flows.
    */
  def mergeStats(a: Array[Double], b: Array[Double]): Array[Double] = {
    require(a.length == b.length, s"buffer shapes differ: ${a.length} vs ${b.length}")
    a.zip(b).map { case (x, y) => x + y }
  }

  /** Top-c eigenpairs of the covariance matrix by cyclic Jacobi — plain
    * deterministic driver math (fixed sweep order, rotation threshold
    * 1e−12, bounded sweeps). Returns (eigenvalues desc, row-major c×dim
    * eigenvector matrix). Sign convention: each vector's largest-|x|
    * component (smallest index on ties) is made positive, so the basis
    * is unique and runs reproduce bit-for-bit.
    *
    * EAGER-ACTION CONTRACT (the incrementalBloom precedent): the
    * covariance statistics collect AT CALL TIME — bounded at dim² — so
    * the returned model is a snapshot of the input as of the call.
    */
  def fitComponents(
      emb: DataFrame,
      dim: Int,
      c: Int,
      vecCol: String = "embedding")
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(c >= 1 && c <= dim, s"c=$c outside [1, $dim]")
    val triLen = dim * (dim + 1) / 2
    val buf = emb.agg(gramCol(col(vecCol), dim).as("g"))
      .head().getSeq[Double](0).toArray
    val n = buf(triLen + dim)
    require(n > 0, "fitComponents on an empty frame")
    val a = Array.ofDim[Double](dim, dim)
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      val cov = buf(idx) / n - (buf(triLen + i) / n) * (buf(triLen + j) / n)
      a(i)(j) = cov; a(j)(i) = cov
      idx += 1
    }
    // cyclic Jacobi: rotate out (p, q) in fixed row-major order until the
    // off-diagonal mass is numerically zero
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 && sweep < 64) {
      off = 0.0
      for (p <- 0 until dim; q <- p + 1 until dim) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-15) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 // theta == 0 ⇒ 45° rotation
              case x => x
            }
          val cth = 1.0 / math.sqrt(t * t + 1.0)
          val sth = t * cth
          var k = 0
          while (k < dim) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = cth * akp - sth * akq
            a(k)(q) = sth * akp + cth * akq
            k += 1
          }
          k = 0
          while (k < dim) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = cth * apk - sth * aqk
            a(q)(k) = sth * apk + cth * aqk
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = cth * vkp - sth * vkq
            v(k)(q) = sth * vkp + cth * vkq
            k += 1
          }
        }
      }
      sweep += 1
    }
    val order = (0 until dim).sortBy(k => (-a(k)(k), k)).take(c)
    val vals = order.map(k => a(k)(k)).toArray
    val vecs = order.map { k =>
      val col0 = Array.tabulate(dim)(i => v(i)(k))
      // sign convention: largest-|x| slot (smallest index on ties) positive
      var best = 0
      for (i <- 1 until dim)
        if (math.abs(col0(i)) > math.abs(col0(best))) best = i
      if (col0(best) < 0) col0.map(x => -x) else col0
    }.toArray
    val mu = Array.tabulate(dim)(i => buf(triLen + i) / n)
    (vals, vecs, mu)
  }

  /** Project every vector onto the top-c principal components (centered,
    * 6-decimal rounded through the native matvec — one map-only pass).
    * Long-form scalar output: (id, component, value). The projection of
    * x is Wᵀ(x − μ) = Wᵀx − Wᵀμ; the constant Wᵀμ folds into a per-
    * component literal subtraction so the pass needs no join.
    */
  def pcaProject(
      emb: DataFrame,
      dim: Int,
      c: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (_, w, mu) = fitComponents(emb, dim, c, vecCol)
    projectWith(emb, w, mu, dim, c, idCol, vecCol)
  }

  /** PCA WHITENING projection: the top-c components additionally scaled
    * by 1/√(λ+eps), so the projected coordinates have (near-)unit
    * variance and zero correlation. The calibration step that makes one
    * distance threshold mean the same thing in every direction — an
    * embedding-cosine near-dup eps or a semantic-decontamination radius
    * tuned on whitened vectors transfers across models whose raw
    * variance profiles differ. Same two-pass scale shape as
    * [[pcaProject]]; eps floors the division against tiny trailing
    * eigenvalues.
    */
  def whitenProject(
      emb: DataFrame,
      dim: Int,
      c: Int,
      eps: Double = 1e-6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (vals, w, mu) = fitComponents(emb, dim, c, vecCol)
    val scaled = w.zip(vals).map { case (row, l) =>
      val s = 1.0 / math.sqrt(math.max(l, 0.0) + eps)
      row.map(_ * s)
    }
    projectWith(emb, scaled, mu, dim, c, idCol, vecCol)
  }

  private def projectWith(
      emb: DataFrame,
      w: Array[Array[Double]],
      mu: Array[Double],
      dim: Int,
      c: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    // Wᵀ(x − μ) = Wᵀx − Wᵀμ: the constant Wᵀμ rides INSIDE the matvec as
    // per-output offsets, so the projection pass is join-free
    val shift = w.map(row => row.zip(mu).map { case (a, b) => a * b }.sum)
    val proj = Bridge.column(graft.functions.ArrayMatVec(
      Bridge.expression(col(vecCol).cast("array<double>")),
      w.flatten.toSeq, dim, c, divisor = 1.0, roundDecimals = 6,
      offsets = shift.toSeq))
    // posexplode_outer: the inner variant's inferred size/notnull filter
    // would re-evaluate the matvec twice more per row (the Projection
    // lesson); the generator never returns null/empty on non-null input
    emb.select(col(idCol),
        posexplode_outer(proj).as(Seq("component", "value")))
      .select(col(idCol), col("component").cast("long").as("component"),
        col("value"))
      .orderBy(col(idCol), col("component"))
  }
}
