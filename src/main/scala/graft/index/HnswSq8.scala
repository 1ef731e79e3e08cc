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
  * Memory: n·(dim + 24 + 8) bytes of vector payload (codes, (min, max),
  * the cached decoded norm, id) vs the float index's n·dim·8 — ~5.3×
  * smaller at dim 64 (and the ratio grows with dim) — plus the packed
  * graph's delta-varint adjacency. This class is only the codec: the
  * graph snapshot, its adjacency format and the one beam search that
  * serves both SQ8 and PQ live in [[PackedHnsw]]; the float
  * [[HnswIndex]] keeps its own beam because its adjacency is mutable
  * (`IntVec` lists that inserts and deletes rewrite in place).
  */
final class HnswSq8Index private (
    src: HnswIndex,
    codes: Array[Array[Byte]],
    vmins: Array[Double],
    vmaxs: Array[Double],
    norms: Array[Double]) // Euclidean norm of each DECODED vector
  extends PackedHnsw(src) {

  /** The query and, under cosine, its norm — taken once per search. */
  protected type Query = HnswSq8Index.Probe
  protected def prepare(q: Array[Double]): HnswSq8Index.Probe =
    new HnswSq8Index.Probe(q, if (metricCode == 3) HnswIndex.norm(q) else 0.0)

  // code bytes + (min, max) + decoded norm per node
  protected def payloadBytes: Long = codes.length.toLong * (dim.toLong + 24L)

  /** Asymmetric distance: full-precision query vs the decoded node. The
    * decode is folded into the metric loop — no scratch allocation per
    * hop (this runs once per visited edge). Cosine reads both norms from
    * the probe and the per-node cache, so its loop keeps only the dot.
    */
  protected def dist(p: HnswSq8Index.Probe, idx: Int): Double = {
    val q = p.q
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
        var dot = 0.0; var i = 0
        while (i < q.length) { dot += q(i) * (lo + (c(i) & 0xff) * span); i += 1 }
        val prod = p.norm * norms(idx)
        if (prod == 0.0) 1.0 else 1.0 - dot / prod
    }
  }
}

object HnswSq8Index {

  private[index] final class Probe(val q: Array[Double], val norm: Double)

  /** Quantize a built index into its serving copy (one pass over the
    * snapshot; the source index is untouched and independent).
    */
  def fromHnsw(ix: HnswIndex): HnswSq8Index = {
    val vecs = ix.vecs
    val n = vecs.length
    val codes = new Array[Array[Byte]](n)
    val vmins = new Array[Double](n)
    val vmaxs = new Array[Double](n)
    val norms = new Array[Double](n)
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
      // the decoded norm, with `dist`'s own decode expression
      val step = (vmaxs(i) - lo) / 255.0
      var nb = 0.0
      j = 0
      while (j < c.length) { val x = lo + (c(j) & 0xff) * step; nb += x * x; j += 1 }
      norms(i) = math.sqrt(nb)
      i += 1
    }
    new HnswSq8Index(ix, codes, vmins, vmaxs, norms)
  }
}
