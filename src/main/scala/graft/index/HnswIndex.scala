package graft.index

import scala.collection.mutable

/** In-memory HNSW (Hierarchical Navigable Small World) index.
  *
  * A from-scratch Scala implementation of the *semantics* of the reference's
  * HNSW graph (reference: core/hnsw/graph.py) — not a port of its code:
  *
  *  - geometric level draw `⌊−ln(U)·ml⌋`, `ml = 1/ln 2`    (graph.py:75-76)
  *  - greedy descent with ef=1 above the target layer      (graph.py:146-148, :182-186)
  *  - beam search per layer: candidate min-heap + bounded
  *    size-ef result max-heap, stop when the nearest
  *    candidate is farther than the worst kept result      (graph.py:88-125)
  *  - SIMPLE M-nearest neighbor selection — the reference's
  *    `_get_neighbors_heuristic` ignores its extend/layer
  *    args and just takes the closest M (NOT the HNSW
  *    paper's Algorithm 4); preserved deliberately          (graph.py:78-86)
  *  - degree caps M_max = M, M_max0 = 2M with prune-on-
  *    overflow to the closest                               (graph.py:57-59, :158-168)
  *  - delete removes the node and its incoming edges but
  *    does NOT re-link the hole; entry point falls back to
  *    the surviving node with max level                     (graph.py:191-207)
  *  - duplicate external id overwrites the node             (graph.py:131-139)
  *  - search: ef defaults to max(efSearch, k); empty index
  *    → empty result; ascending distance, ≤ k rows          (graph.py:175-189)
  *
  * Deterministic: the level RNG is seeded, and all orderings tie-break on id.
  * Serializable so per-partition sub-indexes can be collected + broadcast.
  *
  * Search path: each node's Euclidean norm is cached beside its vector
  * (computed once at insert/import with the kernel's own loop, so the
  * cached value is the one the kernel would recompute) and the query's
  * norm is taken once per search, so a cosine hop runs one dot product;
  * a beam step scores its unvisited neighbors four at a time (four
  * independent dot chains, each still summed in index order). A search
  * or insert allocates one [[BeamScratch]] (visited set, heaps, neighbor
  * batch) and resets it per layer; nothing search-local lives on the
  * index, so concurrent searches of one shared index are safe.
  */
final class HnswIndex(
    val dim: Int,
    val m: Int = 16,
    val efConstruction: Int = 200,
    val efSearch: Int = 50,
    val metric: String = "cosine",
    val seed: Long = 42L)
  extends Serializable {

  private val mMax = m
  private val mMax0 = 2 * m
  private val ml = 1.0 / math.log(2.0)
  private val rng = new java.util.Random(seed)
  // number of level draws so far — persisted so a reloaded index's RNG
  // resumes where the original left off instead of replaying from `seed`
  private var draws: Long = 0L

  // parallel arrays indexed by internal node index (package-visible so
  // PackedHnsw can snapshot the graph into its immutable varint form)
  private[index] val ids = mutable.ArrayBuffer.empty[Long]
  private[index] val vecs = mutable.ArrayBuffer.empty[Array[Double]]
  // norms(i) = HnswIndex.norm(vecs(i)): the cosine kernel's node norm
  private var norms = new Array[Double](16)
  private[index] val levels = mutable.ArrayBuffer.empty[Int]
  // conns(i)(layer) = neighbor internal indexes, unboxed (IntVec): adjacency
  // iteration dominates search time and ArrayBuffer[Int] boxes every element
  private[index] val conns = mutable.ArrayBuffer.empty[Array[IntVec]]
  private val idToIdx = mutable.HashMap.empty[Long, Int]
  private[index] val dead = new java.util.BitSet
  private[index] var entry: Int = -1
  // next auto-assigned external id — the reference's `current_id` counter:
  // auto inserts take it, and an externally-supplied id bumps it past
  // itself so auto ids never collide (reference core/hnsw/graph.py:131-136)
  private var nextId: Long = 0L
  // lifetime counters (reference graph.py:72-73, surfaced by get_stats
  // :209-234): searches/insertions ever served, independent of deletes
  // atomic: a shared resident shard serves concurrent searches
  private val searches = new java.util.concurrent.atomic.AtomicLong(0L)
  private var insertions: Long = 0L

  def size: Int = idToIdx.size
  def maxLevel: Int = if (entry < 0) -1 else levels(entry)
  def containsId(id: Long): Boolean = idToIdx.contains(id)

  // metric resolved to an int once — `distance` runs per graph hop and a
  // string match would re-compare the metric name on every call
  private[index] val metricCode: Int = metric match {
    case "euclidean" => 0
    case "manhattan" => 1
    case "dot_product" => 2
    case "cosine" => 3
    case other => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** Distance semantics identical to graft.functions.VectorFunctions /
    * reference graph.py:24-43 (cosine zero-norm → 1.0; dot negated).
    */
  def distance(a: Array[Double], b: Array[Double]): Double = (metricCode: @annotation.switch) match {
    case 0 =>
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    case 1 =>
      var s = 0.0; var i = 0
      while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
      s
    case 2 =>
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      -s
    case _ =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val prod = math.sqrt(na) * math.sqrt(nb)
      if (prod == 0.0) 1.0 else 1.0 - dot / prod
  }

  private def randomLevel(): Int = {
    draws += 1
    math.floor(-math.log(rng.nextDouble() + 1e-300) * ml).toInt
  }

  /** `distance(q, vecs(idx))`, with cosine's norms read from the cache
    * (`qNorm` is the query's): one accumulator per hop instead of three.
    */
  private def distTo(q: Array[Double], qNorm: Double, idx: Int): Double =
    if (metricCode == 3) {
      val b = vecs(idx)
      var dot = 0.0; var i = 0
      while (i < q.length) { dot += q(i) * b(i); i += 1 }
      cosine(dot, qNorm, idx)
    } else distance(q, vecs(idx))

  /** `dists(j) = distTo(q, qNorm, nodes(j))` for j < cnt. Cosine scores
    * four nodes per pass over the query: four independent dot chains,
    * each summed in index order, so every value is bit-identical to the
    * one-node loop's.
    */
  private def distBatch(
      q: Array[Double], qNorm: Double, nodes: Array[Int], cnt: Int,
      dists: Array[Double]): Unit = {
    var j = 0
    if (metricCode == 3) {
      while (j + 4 <= cnt) {
        val b0 = vecs(nodes(j)); val b1 = vecs(nodes(j + 1))
        val b2 = vecs(nodes(j + 2)); val b3 = vecs(nodes(j + 3))
        var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
        var i = 0
        while (i < q.length) {
          val qi = q(i)
          d0 += qi * b0(i); d1 += qi * b1(i); d2 += qi * b2(i); d3 += qi * b3(i)
          i += 1
        }
        dists(j) = cosine(d0, qNorm, nodes(j))
        dists(j + 1) = cosine(d1, qNorm, nodes(j + 1))
        dists(j + 2) = cosine(d2, qNorm, nodes(j + 2))
        dists(j + 3) = cosine(d3, qNorm, nodes(j + 3))
        j += 4
      }
    }
    while (j < cnt) { dists(j) = distTo(q, qNorm, nodes(j)); j += 1 }
  }

  private def cosine(dot: Double, qNorm: Double, idx: Int): Double = {
    val prod = qNorm * norms(idx)
    if (prod == 0.0) 1.0 else 1.0 - dot / prod
  }

  private def appendNorm(idx: Int, v: Array[Double]): Unit = {
    if (idx >= norms.length) norms = java.util.Arrays.copyOf(norms, 2 * idx)
    norms(idx) = HnswIndex.norm(v)
  }

  /** Beam search within one layer (reference graph.py:88-125), with
    * result-pool filtering: candidates (traversal) admit every live node,
    * results admit only `allow`-passing ones. The frontier closes once the
    * pool holds ef nodes AND the nearest open candidate is farther than the
    * worst of them — with a short pool the beam keeps expanding (built-in
    * oversampling). Under [[HnswIndex.AllowAll]] this is exactly the
    * reference's unfiltered stop rule: until the pool first overflows no
    * result was ever popped, so every candidate sits in the pool and
    * `cd <= topDist`. Leaves up to `ef` nodes in `s.results`.
    */
  private def searchLayer(
      q: Array[Double], qNorm: Double, entryPoints: Array[Int], ef: Int,
      layer: Int, allow: Long => Boolean, s: BeamScratch): Unit = {
    val allowAll = allow eq HnswIndex.AllowAll
    s.reset()
    val visited = s.visited
    // candidates: min-heap by (dist, idx); results: max-heap, bounded to ef
    val candidates = s.candidates
    val results = s.results
    var e = 0
    while (e < entryPoints.length) {
      val ep = entryPoints(e)
      if (!visited.get(ep)) {
        visited.set(ep)
        val d = distTo(q, qNorm, ep)
        candidates.add(d, ep)
        if (!dead.get(ep) && (allowAll || allow(ids(ep)))) results.add(d, ep)
      }
      e += 1
    }
    var open = true
    while (open && candidates.nonEmpty) {
      val cd = candidates.topDist
      val c = candidates.topIdx
      candidates.pop()
      if (results.size >= ef && cd > results.topDist) {
        open = false // pool full and the frontier can no longer improve it
      } else {
        val layerConns = conns(c)
        if (layer < layerConns.length) {
          // gather the unvisited live neighbors, score them together
          // (independent accumulators overlap), then admit them in
          // adjacency order — the same visits and heap updates as
          // scoring each on its own
          val adj = layerConns(layer)
          val fresh = s.batch(adj.length)
          var cnt = 0
          var i = 0
          while (i < adj.length) {
            val nb = adj(i)
            if (!visited.get(nb) && !dead.get(nb)) {
              visited.set(nb)
              fresh(cnt) = nb
              cnt += 1
            }
            i += 1
          }
          val dists = s.dists
          distBatch(q, qNorm, fresh, cnt, dists)
          i = 0
          while (i < cnt) {
            val nb = fresh(i)
            val d = dists(i)
            if (results.size < ef || d < results.topDist) {
              candidates.add(d, nb)
              if (allowAll || allow(ids(nb))) {
                results.add(d, nb)
                if (results.size > ef) results.pop()
              }
            }
            i += 1
          }
        }
      }
    }
  }

  /** Greedy ef=1 descent from the entry point down to layer `stop + 1`,
    * leaving the layer-`stop` entry in `ep(0)`. Each layer keeps at most
    * one result, so the single survivor is the nearest.
    */
  private def descend(
      q: Array[Double], qNorm: Double, stop: Int, s: BeamScratch): Array[Int] = {
    val ep = Array(entry)
    var lc = levels(entry)
    while (lc > stop) {
      searchLayer(q, qNorm, ep, 1, lc, HnswIndex.AllowAll, s)
      if (s.results.nonEmpty) ep(0) = s.results.topIdx
      lc -= 1
    }
    ep
  }

  /** Insert; duplicate id overwrites (old node tombstoned, edges dangle —
    * the reference's replace-in-dict leaves dangling edges the same way,
    * graph.py:131-139 with :155-157).
    */
  def insert(id: Long, vector: Array[Double]): Unit = {
    require(vector.length == dim, s"dimension mismatch: ${vector.length} != $dim")
    if (id >= nextId) nextId = id + 1
    insertions += 1
    idToIdx.get(id).foreach(tombstone)
    val idx = ids.length
    val level = randomLevel()
    ids += id
    vecs += vector
    appendNorm(idx, vector)
    levels += level
    conns += Array.fill(level + 1)(new IntVec)
    idToIdx(id) = idx

    if (entry < 0) { entry = idx; return }

    val qNorm = norms(idx)
    val s = new BeamScratch(ids.length, efConstruction)
    // greedy descent above the node's level; the beam (like the
    // reference's current_nearest, graph.py:145-148) is a node LIST —
    // ef=1 keeps it a singleton here, but the connect loop below widens it
    var beam = descend(vector, qNorm, level, s)
    // connect at each layer from min(level, maxLevel) down to 0
    var layer = math.min(level, levels(entry))
    while (layer >= 0) {
      searchLayer(vector, qNorm, beam, efConstruction, layer, HnswIndex.AllowAll, s)
      val found = s.results.drainSorted(i => ids(i))
      // simple M-nearest selection (reference graph.py:78-86), selecting up
      // to M_max0 at the base layer (graph.py:153-154 passes M_max0)
      val cap = if (layer == 0) mMax0 else mMax
      val neighbors = Array.tabulate(math.min(found, cap))(s.results.node)
      neighbors.foreach { nb =>
        conns(idx)(layer) += nb
        conns(nb)(layer) += idx
        if (conns(nb)(layer).length > cap) {
          val pruned = conns(nb)(layer).toArray
            .map(x => (distTo(vecs(nb), norms(nb), x), x))
            .sortBy(t => (t._1, ids(t._2)))
            .take(cap)
            .map(_._2)
          conns(nb)(layer) = IntVec.of(pruned)
        }
      }
      // seed the next layer with ALL selected neighbors, not just the
      // closest — the reference's current_nearest = neighbors (graph.py:169)
      if (neighbors.nonEmpty) beam = neighbors
      layer -= 1
    }
    if (level > levels(entry)) entry = idx
  }

  private def tombstone(idx: Int): Unit = {
    dead.set(idx)
    idToIdx.remove(ids(idx))
    // Remove incoming edges by walking only the dead node's own adjacency —
    // the reference's delete does exactly this (graph.py:195-198: discard
    // node_id from each of the node's OWN neighbors), O(degree) not O(nodes).
    // Asymmetric edges (a neighbor pruned its back-edge, or an edge whose
    // back-pointer predates an overwrite) can leave dangling references to
    // this idx; searchLayer/exportEdges skip them via the `dead` bitset.
    val layers = conns(idx)
    var l = 0
    while (l < layers.length) {
      val adj = layers(l)
      var i = 0
      while (i < adj.length) {
        val nb = adj(i)
        if (!dead.get(nb) && l < conns(nb).length) conns(nb)(l).removeValue(idx)
        i += 1
      }
      l += 1
    }
    if (entry == idx) {
      entry = -1
      var best = -1
      conns.indices.foreach { i =>
        if (!dead.get(i) && (best < 0 || levels(i) > levels(best))) best = i
      }
      entry = best
    }
  }

  /** Insert without an id: assigns the next auto id (monotonic, never
    * reused, bumped past any externally-supplied id) and returns it —
    * the reference's `current_id` assignment path (graph.py:131-136).
    */
  def insertAuto(vector: Array[Double]): Long = {
    val id = nextId
    insert(id, vector)
    id
  }

  /** The id the next `insertAuto` would assign (reference `current_id`). */
  def nextAutoId: Long = nextId

  /** Delete by external id; false for unknown (reference graph.py:191-207). */
  def delete(id: Long): Boolean =
    idToIdx.get(id) match {
      case Some(idx) => tombstone(idx); true
      case None => false
    }

  /** Top-k approximate search (reference graph.py:175-189). */
  def search(q: Array[Double], k: Int, ef: Option[Int] = None): Seq[(Long, Double)] =
    searchFiltered(q, k, HnswIndex.AllowAll, ef)

  /** Predicate-filtered search (the hnswlib `filter_function` shape —
    * public knowledge, searchBaseLayerST's has_deletions/filter variant):
    * the base-layer beam TRAVERSES the graph unfiltered (connectivity must
    * not depend on the predicate) but only ids passing `allow` enter the
    * result pool, and the beam keeps expanding until the pool holds ef
    * passing nodes or the frontier closes — the search self-oversamples
    * exactly as much as the selectivity requires, so the caller needs no
    * ef inflation or refill loop. Worst case for a predicate with ~zero
    * survivors is a component scan; pre-filter + exact kNN is the right
    * operator there (Knn.filteredKnn), documented trade.
    */
  def searchFiltered(
      q: Array[Double], k: Int, allow: Long => Boolean,
      ef: Option[Int] = None): Seq[(Long, Double)] = {
    // counted before validation/empty-check — the reference increments
    // total_searches first thing under its lock (graph.py:177), so even
    // empty-index and failing searches count there; exact parity here
    searches.incrementAndGet()
    if (entry < 0) return Seq.empty
    require(q.length == dim, s"dimension mismatch: ${q.length} != $dim")
    val efUsed = math.max(ef.getOrElse(efSearch), k)
    val qNorm = HnswIndex.norm(q)
    val s = new BeamScratch(ids.length, efUsed)
    searchLayer(q, qNorm, descend(q, qNorm, 0, s), efUsed, 0, allow, s)
    s.results.topK(k, i => ids(i))
  }

  /** Current entry-point external id, if any (persisted so a reloaded
    * index descends from the same node — reference engine.py:30 saves
    * `entry_point` in the msgpack header the same way).
    */
  def entryPointId: Option[Long] = if (entry < 0) None else Some(ids(entry))

  /** Export live nodes: (id, vector, level). ≙ S1's per-node topology +
    * vector matrix (reference core/storage/engine.py:23-68).
    */
  def exportNodes: Iterator[(Long, Array[Double], Int)] =
    ids.indices.iterator.filterNot(dead.get).map(i => (ids(i), vecs(i), levels(i)))

  /** Export live edges: (id, layer, neighborId). */
  def exportEdges: Iterator[(Long, Int, Long)] =
    ids.indices.iterator.filterNot(dead.get).flatMap { i =>
      conns(i).indices.iterator.flatMap { l =>
        conns(i)(l).toArray.iterator.filterNot(dead.get).map(nb => (ids(i), l, ids(nb)))
      }
    }

  /** Rebuild adjacency verbatim from exported rows — S2's load path
    * (reference core/storage/engine.py:70-115 rehydrates nodes without
    * re-running construction). Private plumbing for HnswIndex.fromExport.
    */
  private[index] def importExport(
      nodes: Seq[(Long, Array[Double], Int)],
      edges: Seq[(Long, Int, Long)],
      entryId: Option[Long]): Unit = {
    nodes.foreach { case (id, vec, level) =>
      val idx = ids.length
      ids += id; vecs += vec; levels += level
      appendNorm(idx, vec)
      conns += Array.fill(level + 1)(new IntVec)
      idToIdx(id) = idx
      if (id >= nextId) nextId = id + 1
    }
    edges.foreach { case (id, layer, nb) =>
      conns(idToIdx(id))(layer) += idToIdx(nb)
    }
    entry = entryId.map(idToIdx).getOrElse(-1)
  }

  /** Number of tombstoned slots still occupying memory. */
  def deadCount: Int = dead.cardinality

  /** Level draws consumed so far (persisted alongside `seed` so a reloaded
    * index resumes the RNG stream instead of replaying it).
    */
  def levelDraws: Long = draws

  /** Lifetime counters: (total_searches, total_insertions) — the
    * reference's engine metrics (graph.py:72-73, get_stats :209-234).
    * Persisted in the meta table; a reloaded index keeps counting.
    */
  def totalSearches: Long = searches.get
  def totalInsertions: Long = insertions

  private[index] def restoreCounters(s: Long, i: Long): Unit = {
    searches.set(s)
    insertions = i
  }

  /** Restore the auto-id counter on reload. importExport already bumps it
    * past every LIVE id, but that is not enough: a deleted id larger than
    * every survivor would otherwise be re-assigned after a save/load
    * cycle, breaking the never-reused invariant — so the counter itself
    * is persisted in the meta table and re-applied here (monotone: never
    * moves backwards past what live nodes imply).
    */
  private[index] def restoreNextId(n: Long): Unit =
    if (n > nextId) nextId = n

  private[index] def skipDraws(n: Long): Unit = {
    var i = 0L
    while (i < n) { rng.nextDouble(); i += 1 }
    draws = n
  }

  /** Compaction: rebuild the arrays with only live nodes, preserving the
    * graph verbatim (export → import, no reconstruction). The reference
    * never reclaims deleted nodes' memory (graph.py delete leaves the
    * dict entry's neighbors pruned but history unbounded under churn);
    * this closes that gap for delete-heavy workloads. Search results are
    * identical before and after.
    */
  def compacted(): HnswIndex =
    HnswIndex.fromExport(
      dim, m, efConstruction, efSearch, metric,
      exportNodes.toSeq, exportEdges.toSeq, entryPointId,
      seed = seed, rngDraws = draws,
      totalSearches = searches.get, totalInsertions = insertions,
      nextAutoId = nextId)

  /** Approximate resident bytes of the FULL-PRECISION vector payload +
    * adjacency — the baseline the SQ8 serving index's memory line is
    * compared against (vectors: n·dim·8; id 8 B, level 4 B and cached
    * norm 8 B per node; adjacency: 4 B per edge slot).
    */
  def memoryBytes: Long = {
    var adj = 0L
    var i = 0
    while (i < conns.length) {
      var l = 0
      while (l < conns(i).length) { adj += 4L * conns(i)(l).length; l += 1 }
      i += 1
    }
    ids.length.toLong * (8L + 8L * dim + 4L + 8L) + adj
  }

  /** Per-level stats, the analog of the reference's get_stats
    * (graph.py:209-234): (level, nodeCount, avgConnections at that layer).
    */
  def levelStats: Seq[(Int, Int, Double)] = {
    val alive = conns.indices.filterNot(dead.get)
    (0 to maxLevel).map { l =>
      val at = alive.filter(i => levels(i) >= l)
      val avgConn =
        if (at.isEmpty) 0.0
        else at.map(i => conns(i)(l).length).sum.toDouble / at.size
      (l, at.count(i => levels(i) == l), avgConn)
    }
  }
}

object HnswIndex {
  /** The allow-all predicate: `search` is `searchFiltered` under it, and
    * the beams recognise it by reference to skip the per-node id lookup.
    * A serializable singleton, so that identity survives shipping to
    * executors.
    */
  object AllowAll extends (Long => Boolean) with Serializable {
    def apply(id: Long): Boolean = true
  }

  /** Euclidean norm with the cosine kernel's own accumulation order
    * (`s += v(i) * v(i)`), so a cached norm equals the recomputed one.
    */
  private[index] def norm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Rehydrate an index from exported nodes/edges without rebuilding —
    * the S2 load path (reference core/storage/engine.py:70-115).
    */
  def fromExport(
      dim: Int, m: Int, efConstruction: Int, efSearch: Int, metric: String,
      nodes: Seq[(Long, Array[Double], Int)],
      edges: Seq[(Long, Int, Long)],
      entryId: Option[Long],
      seed: Long = 42L,
      rngDraws: Long = 0L,
      totalSearches: Long = 0L,
      totalInsertions: Long = 0L,
      nextAutoId: Long = 0L): HnswIndex = {
    val idx = new HnswIndex(dim, m, efConstruction, efSearch, metric, seed)
    // resume the level-RNG stream where the exporting index left off, so
    // post-reload inserts draw the continuation, not a replay from `seed`
    idx.skipDraws(rngDraws)
    idx.importExport(nodes, edges, entryId)
    idx.restoreCounters(totalSearches, totalInsertions)
    idx.restoreNextId(nextAutoId)
    idx
  }
}
