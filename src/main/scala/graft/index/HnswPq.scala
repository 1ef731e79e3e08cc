package graft.index

/** PQ-coded resident HNSW serving — the step past [[HnswSq8Index]] on
  * the same DiskANN axis (Subramanya et al. 2019; Jégou et al. 2011 for
  * ADC): the serving copy stores m ONE-BYTE subspace codes per vector
  * (m·1 B vs SQ8's dim·1 B vs float's dim·8 B) against PER-SHARD
  * codebooks trained locally at compress time, and traversal scores
  * each hop with an ASYMMETRIC DISTANCE TABLE built once per (query,
  * shard): dist(node) = Σ_sub table(sub)(code_sub) — m lookups instead
  * of dim multiplies, so traversal gets FASTER as it gets smaller.
  * Exact ranks come back through the bounded rerank join
  * ([[HnswSpark.searchResidentRerank]]), and at exhaustive ef with a
  * corpus-covering candFactor the answer equals exact kNN REGARDLESS
  * of codebook quality — which is what lets the hnsw_pq_knn face
  * hash-check while the codebooks themselves stay local float k-means.
  *
  * Every additive metric fits the table form: euclidean² per subspace,
  * manhattan per subspace, negated dot per subspace; cosine encodes
  * L2-NORMALIZED vectors (at compress time) and scores −q̂·x per
  * subspace — a monotone transform of cosine distance, which is all a
  * beam comparison needs. This class is only the codec (codes, books,
  * the table and its lookup): the graph snapshot, the varint adjacency
  * and the one beam search shared with SQ8 are [[PackedHnsw]]'s; the
  * float [[HnswIndex]] keeps its own beam over its mutable adjacency.
  */
final class HnswPqIndex private (
    src: HnswIndex,
    codes: Array[Array[Byte]], // m bytes per node
    books: Array[Array[Array[Double]]]) // m × kSub × dsub
  extends PackedHnsw(src) {

  private val m = books.length
  private val dsub = if (m == 0) 0 else dim / m

  protected type Query = Array[Array[Double]]

  /** Per-node m code bytes plus the (shard-global, node-independent)
    * codebooks.
    */
  protected def payloadBytes: Long =
    codes.length.toLong * m + books.map(_.map(_.length.toLong * 8).sum).sum

  /** Per-(query, shard) ADC table: table(sub)(code) = this metric's
    * additive contribution of subspace `sub` when the node's code is
    * `code`. For cosine the query is normalized here and the stored
    * codebooks already quantize normalized vectors, so Σ = −q̂·x̂ —
    * monotone in cosine distance.
    */
  protected def prepare(q0: Array[Double]): Array[Array[Double]] = {
    val q = if (metricCode == 3) {
      var s = 0.0; var i = 0
      while (i < q0.length) { s += q0(i) * q0(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) q0 else q0.map(_ / n)
    } else q0
    Array.tabulate(m) { sub =>
      val off = sub * dsub
      books(sub).map { c =>
        (metricCode: @annotation.switch) match {
          case 0 | 3 => // euclidean² / normalized-L2² (monotone in cosine)
            var s = 0.0; var i = 0
            while (i < dsub) { val d = q(off + i) - c(i); s += d * d; i += 1 }
            s
          case 1 =>
            var s = 0.0; var i = 0
            while (i < dsub) { s += math.abs(q(off + i) - c(i)); i += 1 }
            s
          case _ =>
            var s = 0.0; var i = 0
            while (i < dsub) { s += q(off + i) * c(i); i += 1 }
            -s
        }
      }
    }
  }

  protected def dist(table: Array[Array[Double]], idx: Int): Double = {
    val c = codes(idx)
    var s = 0.0
    var sub = 0
    while (sub < m) { s += table(sub)(c(sub) & 0xff); sub += 1 }
    s
  }
}

object HnswPqIndex {

  /** Local per-subspace Lloyd's over the shard's vectors: first-k
    * init, nearest by squared euclidean (ties to the lower index),
    * empty clusters keep their centroid — deterministic given the
    * shard's (insertion-ordered) vector sequence. Plain driver-free
    * float math: these books are SHARD-LOCAL serving artifacts, not
    * oracle surfaces (the exhaustive face is codebook-independent).
    */
  private def trainBook(
      data: Array[Array[Double]], off: Int, dsub: Int, k: Int,
      iters: Int): Array[Array[Double]] = {
    val n = data.length
    val cents = Array.tabulate(math.min(k, math.max(n, 1))) { i =>
      val src = data(i % math.max(n, 1))
      java.util.Arrays.copyOfRange(src, off, off + dsub)
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var s = 0.0; var j = 0
          while (j < dsub) {
            val d = data(i)(off + j) - cents(c)(j); s += d * d; j += 1
          }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.ofDim[Double](cents.length, dsub)
      val counts = new Array[Int](cents.length)
      i = 0
      while (i < n) {
        val a = assign(i)
        counts(a) += 1
        var j = 0
        while (j < dsub) { sums(a)(j) += data(i)(off + j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < cents.length) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dsub) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Quantize a built index into its PQ serving copy: L2-normalize the vectors when the metric is cosine,
    * train m shard-local books, encode every node (the graph snapshot
    * and adjacency pack are [[PackedHnsw]]'s).
    */
  def fromHnsw(
      ix: HnswIndex, m: Int, kSub: Int = 256,
      iters: Int = 5): HnswPqIndex = {
    require(ix.dim % m == 0, s"m=$m must divide dim=${ix.dim}")
    require(kSub >= 1 && kSub <= 256, "codes are one byte: kSub in [1, 256]")
    val dsub = ix.dim / m
    val vecs0 = ix.vecs.toArray
    val vecs =
      if (ix.metricCode == 3) vecs0.map { v =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val n = math.sqrt(s)
        if (n == 0.0) v else v.map(_ / n)
      }
      else vecs0
    val books = Array.tabulate(m)(sub =>
      if (vecs.isEmpty) Array.empty[Array[Double]]
      else trainBook(vecs, sub * dsub, dsub, kSub, iters))
    val codes = vecs.map { v =>
      val c = new Array[Byte](m)
      var sub = 0
      while (sub < m) {
        val book = books(sub)
        val off = sub * dsub
        var best = 0; var bd = Double.MaxValue
        var ci = 0
        while (ci < book.length) {
          var s = 0.0; var j = 0
          while (j < dsub) { val d = v(off + j) - book(ci)(j); s += d * d; j += 1 }
          if (s < bd) { bd = s; best = ci }
          ci += 1
        }
        c(sub) = best.toByte
        sub += 1
      }
      c
    }
    new HnswPqIndex(ix, codes, books)
  }
}
