package graft.index

/** The immutable graph half of a compressed resident HNSW serving index,
  * shared by both codecs ([[HnswSq8Index]], [[HnswPqIndex]]): a snapshot
  * of a built [[HnswIndex]]'s topology with delta-varint adjacency, and
  * the ONE beam search that serves it. A codec supplies only its payload
  * and its distance — `prepare` turns the query into whatever the codec
  * scores against (the query itself for SQ8, a per-query ADC table for
  * PQ) and `dist` scores one node. Both are abstract methods rather than
  * closures, so the beam's call site sees at most two receiver types and
  * the JIT inlines it.
  *
  * Adjacency: each layer's neighbor list is sorted, de-duplicated, and
  * gap-encoded as LEB128 varints (~1.5 B per edge vs 4 B int slots) —
  * at M=16 int adjacency would otherwise dominate the compressed copy
  * and cap the total ratio around 2.5×. Sorting changes neighbor VISIT
  * order inside a beam step — harmless: the exhaustive-ef faces visit
  * the whole component (order-free), and operating-point recall is
  * gated by measurement, not by order parity with the float index.
  * Traversal semantics are otherwise IDENTICAL to HnswIndex's (greedy
  * descent ef=1 above layer 0, the same beam and stop rule, id
  * tie-breaks). The float index keeps its own beam over its mutable
  * `IntVec` adjacency: decoding that into varints (or this format into
  * int arrays) per hop would allocate on the serving hot path.
  *
  * A search allocates one [[BeamScratch]] and resets it per layer, and
  * `prepare` runs once per search, so per-query work a codec hoists
  * there (SQ8's query norm, PQ's table) is never redone per hop. Nothing
  * search-local lives on the instance: one cached shard serves
  * concurrent searches.
  */
abstract class PackedHnsw private[index] (src: HnswIndex) extends Serializable {

  final val dim: Int = src.dim
  final val efSearch: Int = src.efSearch
  protected final val metricCode: Int = src.metricCode
  private[this] val ids: Array[Long] = src.ids.toArray
  private[this] val levels: Array[Int] = src.levels.toArray
  // node → layer → varint gap list
  private[this] val conns: Array[Array[Array[Byte]]] =
    src.conns.iterator.map(_.map(v => PackedHnsw.packAdj(v.toArray))).toArray
  private[this] val dead: java.util.BitSet = {
    val b = new java.util.BitSet(ids.length)
    b.or(src.dead)
    b
  }
  private[this] val entry: Int = src.entry

  /** What the codec scores nodes against for one query. */
  protected type Query
  protected def prepare(q: Array[Double]): Query
  /** The codec's (asymmetric) distance from the prepared query to node `idx`. */
  protected def dist(q: Query, idx: Int): Double
  /** Resident bytes of the codec payload (per-node codes + shared books). */
  protected def payloadBytes: Long

  def size: Int = ids.length - dead.cardinality

  /** Approximate resident bytes: id + level + packed adjacency per node,
    * plus the codec payload — the soak's memory line.
    */
  final def memoryBytes: Long = {
    var adj = 0L
    var i = 0
    while (i < conns.length) {
      var l = 0
      while (l < conns(i).length) { adj += conns(i)(l).length; l += 1 }
      i += 1
    }
    ids.length.toLong * (8L + 4L) + adj + payloadBytes
  }

  /** Top-k by codec distance (HnswIndex.search semantics; the returned
    * distances are codec values — the rerank restores exact ones).
    */
  final def search(q: Array[Double], k: Int, ef: Option[Int] = None)
      : Seq[(Long, Double)] =
    searchFiltered(q, k, HnswIndex.AllowAll, ef)

  /** Predicate-filtered search — HnswIndex.searchFiltered's semantics
    * over the codec distance: the beam TRAVERSES the graph unfiltered
    * (connectivity must not depend on the predicate), only
    * `allow`-passing ids enter the result pool, and the beam keeps
    * expanding until the pool holds ef passing nodes or the frontier
    * closes — self-oversampling, no caller-side ef inflation. At scale
    * the compressed index is the one serving, so predicates must not
    * force the float path.
    */
  final def searchFiltered(
      q: Array[Double], k: Int, allow: Long => Boolean,
      ef: Option[Int] = None): Seq[(Long, Double)] = {
    if (entry < 0) return Seq.empty
    require(q.length == dim, s"dimension mismatch: ${q.length} != $dim")
    val pq = prepare(q)
    val efUsed = math.max(ef.getOrElse(efSearch), k)
    val s = new BeamScratch(ids.length, efUsed)
    // greedy ef=1 descent: each layer keeps at most one result
    var cur = entry
    var lc = levels(entry)
    while (lc > 0) {
      searchLayer(pq, cur, 1, lc, HnswIndex.AllowAll, s)
      if (s.results.nonEmpty) cur = s.results.topIdx
      lc -= 1
    }
    searchLayer(pq, cur, efUsed, 0, allow, s)
    s.results.topK(k, i => ids(i))
  }

  /** HnswIndex's filtered beam (and stop rule) over the varint adjacency
    * and the codec distance: candidates admit every live node, results
    * only `allow`-passing ones; the frontier closes once the pool holds
    * ef nodes AND the nearest open candidate can no longer improve it.
    * Leaves up to `ef` nodes in `s.results`.
    */
  private def searchLayer(
      q: Query, ep: Int, ef: Int, layer: Int,
      allow: Long => Boolean, s: BeamScratch): Unit = {
    val allowAll = allow eq HnswIndex.AllowAll
    s.reset()
    val visited = s.visited
    val candidates = s.candidates
    val results = s.results
    visited.set(ep)
    val d0 = dist(q, ep)
    candidates.add(d0, ep)
    if (!dead.get(ep) && (allowAll || allow(ids(ep)))) results.add(d0, ep)
    var open = true
    while (open && candidates.nonEmpty) {
      val cd = candidates.topDist
      val c = candidates.topIdx
      candidates.pop()
      if (results.size >= ef && cd > results.topDist) {
        open = false
      } else {
        val layerConns = conns(c)
        if (layer < layerConns.length) {
          // decode the gap-varint neighbor list in place — no
          // materialized int array per hop
          val packed = layerConns(layer)
          var pos = 0
          var nb = -1 // gaps are (value + 1) deltas so dup-free lists
                      // can start at node 0
          while (pos < packed.length) {
            var shift = 0
            var v = 0
            var b = 0
            do {
              b = packed(pos) & 0xff
              v |= (b & 0x7f) << shift
              shift += 7
              pos += 1
            } while ((b & 0x80) != 0)
            nb += v
            if (!visited.get(nb) && !dead.get(nb)) {
              visited.set(nb)
              val d = dist(q, nb)
              if (results.size < ef || d < results.topDist) {
                candidates.add(d, nb)
                if (allowAll || allow(ids(nb))) {
                  results.add(d, nb)
                  if (results.size > ef) results.pop()
                }
              }
            }
          }
        }
      }
    }
  }
}

object PackedHnsw {

  /** Sorted-distinct gap LEB128 pack of one neighbor list: gaps are
    * (v₀ + 1, v₁ − v₀, …) so every varint is ≥ 1 and the decoder can
    * start from −1; duplicates (possible in the source adjacency after
    * bidirectional linking + prune churn) collapse — the visited set
    * deduped them during traversal anyway.
    */
  private[index] def packAdj(src: Array[Int]): Array[Byte] = {
    if (src.isEmpty) return Array.emptyByteArray
    val a = src.clone()
    java.util.Arrays.sort(a)
    val out = new java.io.ByteArrayOutputStream(a.length * 2)
    var prev = -1
    var i = 0
    while (i < a.length) {
      if (a(i) != prev) {
        var g = a(i) - prev
        prev = a(i)
        while ((g & ~0x7f) != 0) { out.write((g & 0x7f) | 0x80); g >>>= 7 }
        out.write(g)
      }
      i += 1
    }
    out.toByteArray
  }
}
