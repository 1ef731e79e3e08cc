package graft.index

/** SQ8-compressed resident HNSW serving index — the DiskANN idea
  * (Subramanya et al. 2019, public) applied to the executor-resident
  * shards: the GRAPH is built once over full-precision vectors
  * (HnswIndex — topology quality is a build-time property), then the
  * serving copy stores ONE BYTE per dimension plus a per-vector
  * (min, max) pair (the Quantization.sq8Encode convention: code =
  * ⌊(x−min)/span·255 + 0.5⌋, decode = min + c/255·span) and traverses
  * with asymmetric distances — full-precision query against
  * decoded-on-the-fly nodes. Callers restore exact ranks by reranking
  * the bounded candidate output against the corpus frame
  * (HnswSpark.searchResidentRerank), exactly the ADC → exact-rerank
  * composition the PQ family uses.
  *
  * Memory: n·(dim + 16 + 8) bytes of vector payload vs the float
  * index's n·dim·8 — ~7.3× smaller at dim 64 (and the ratio grows with
  * dim) — plus the packed graph's delta-varint adjacency. This class is
  * only the codec: the graph snapshot, its adjacency format and the one
  * beam search that serves both SQ8 and PQ live in [[PackedHnsw]]; the
  * float [[HnswIndex]] keeps its own beam because its adjacency is
  * mutable (`IntVec` lists that inserts and deletes rewrite in place).
  */
final class HnswSq8Index private (
    src: HnswIndex,
    codes: Array[Array[Byte]],
    vmins: Array[Double],
    vmaxs: Array[Double])
  extends PackedHnsw(src) {

  protected type Query = Array[Double]
  protected def prepare(q: Array[Double]): Array[Double] = q

  // code bytes + (min, max) per node
  protected def payloadBytes: Long = codes.length.toLong * (dim.toLong + 16L)

  /** Asymmetric distance: full-precision query vs the decoded node. The
    * decode is folded into the metric loop — no scratch allocation per
    * hop (this runs once per visited edge).
    */
  protected def dist(q: Array[Double], idx: Int): Double = {
    val c = codes(idx)
    val lo = vmins(idx)
    val span = (vmaxs(idx) - lo) / 255.0
    (metricCode: @annotation.switch) match {
      case 0 => // euclidean
        var s = 0.0; var i = 0
        while (i < q.length) {
          val d = q(i) - (lo + (c(i) & 0xff) * span); s += d * d; i += 1
        }
        math.sqrt(s)
      case 1 => // manhattan
        var s = 0.0; var i = 0
        while (i < q.length) {
          s += math.abs(q(i) - (lo + (c(i) & 0xff) * span)); i += 1
        }
        s
      case 2 => // negated dot
        var s = 0.0; var i = 0
        while (i < q.length) { s += q(i) * (lo + (c(i) & 0xff) * span); i += 1 }
        -s
      case _ => // cosine (zero-norm → 1.0, the module-wide convention)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < q.length) {
          val x = lo + (c(i) & 0xff) * span
          dot += q(i) * x; na += q(i) * q(i); nb += x * x; i += 1
        }
        val prod = math.sqrt(na) * math.sqrt(nb)
        if (prod == 0.0) 1.0 else 1.0 - dot / prod
    }
  }
}

object HnswSq8Index {

  /** Quantize a built index into its serving copy (one pass over the
    * snapshot; the source index is untouched and independent).
    */
  def fromHnsw(ix: HnswIndex): HnswSq8Index = {
    val vecs = ix.vecs
    val n = vecs.length
    val codes = new Array[Array[Byte]](n)
    val vmins = new Array[Double](n)
    val vmaxs = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = vecs(i)
      var lo = Double.MaxValue; var hi = Double.MinValue
      var j = 0
      while (j < v.length) {
        if (v(j) < lo) lo = v(j); if (v(j) > hi) hi = v(j); j += 1
      }
      val c = new Array[Byte](v.length)
      if (hi > lo) {
        val span = hi - lo
        j = 0
        while (j < v.length) {
          // the Quantization.sq8Encode expression term for term, so the
          // resident codes equal the DataFrame face's codes bit for bit
          c(j) = math.floor((v(j) - lo) / span * 255.0 + 0.5).toInt.toByte
          j += 1
        }
      }
      codes(i) = c; vmins(i) = lo; vmaxs(i) = if (hi > lo) hi else lo
      i += 1
    }
    new HnswSq8Index(ix, codes, vmins, vmaxs)
  }
}
