package graft.index

/** Growable primitive int array — the adjacency-list cell. scala.collection
  * ArrayBuffer[Int] boxes every element; adjacency iteration is the hottest
  * loop in HNSW search, so the index stores neighbors unboxed.
  */
private[index] final class IntVec(initialCapacity: Int = 8) extends Serializable {
  private var elems = new Array[Int](math.max(initialCapacity, 1))
  private var n = 0

  def length: Int = n
  def apply(i: Int): Int = elems(i)

  def +=(v: Int): Unit = {
    if (n == elems.length) elems = java.util.Arrays.copyOf(elems, n * 2)
    elems(n) = v
    n += 1
  }

  /** Remove every occurrence of `v`, preserving order. */
  def removeValue(v: Int): Unit = {
    var r = 0; var w = 0
    while (r < n) {
      if (elems(r) != v) { elems(w) = elems(r); w += 1 }
      r += 1
    }
    n = w
  }

  def toArray: Array[Int] = java.util.Arrays.copyOf(elems, n)
}

private[index] object IntVec {
  def of(vs: Iterable[Int]): IntVec = {
    val iv = new IntVec(math.max(vs.size, 1))
    vs.foreach(iv += _)
    iv
  }
}

/** Binary heap over parallel (distance, node) primitive arrays, with the
  * same ordering semantics as the boxed PriorityQueue it replaces:
  * min-heap pops smallest (dist, idx); max-heap pops largest (dist, idx) —
  * ties always broken by idx for determinism.
  */
private[index] final class DistHeap(max: Boolean, initialCapacity: Int = 16) {
  private var ds = new Array[Double](math.max(initialCapacity, 2))
  private var xs = new Array[Int](ds.length)
  private var n = 0

  def size: Int = n
  def nonEmpty: Boolean = n > 0
  def topDist: Double = ds(0)
  def topIdx: Int = xs(0)

  // "a should be nearer the top than b"
  private def before(da: Double, xa: Int, db: Double, xb: Int): Boolean =
    if (max) da > db || (da == db && xa > xb)
    else da < db || (da == db && xa < xb)

  def add(d: Double, x: Int): Unit = {
    if (n == ds.length) {
      ds = java.util.Arrays.copyOf(ds, n * 2)
      xs = java.util.Arrays.copyOf(xs, n * 2)
    }
    var i = n
    n += 1
    while (i > 0) {
      val p = (i - 1) >> 1
      if (before(d, x, ds(p), xs(p))) { ds(i) = ds(p); xs(i) = xs(p); i = p }
      else { ds(i) = d; xs(i) = x; return }
    }
    ds(0) = d; xs(0) = x
  }

  def pop(): Unit = {
    n -= 1
    val d = ds(n); val x = xs(n)
    var i = 0
    while (true) {
      val l = 2 * i + 1
      if (l >= n) { ds(i) = d; xs(i) = x; return }
      var c = l
      val r = l + 1
      if (r < n && before(ds(r), xs(r), ds(l), xs(l))) c = r
      if (before(ds(c), xs(c), d, x)) { ds(i) = ds(c); xs(i) = xs(c); i = c }
      else { ds(i) = d; xs(i) = x; return }
    }
  }

  def clear(): Unit = n = 0

  /** The i-th entry left by [[drainSorted]]. */
  def dist(i: Int): Double = ds(i)
  def node(i: Int): Int = xs(i)

  /** Sort the entries in place ascending by (distance, external id) —
    * `java.lang.Double.compare` on the distance (-0.0 before 0.0, NaN
    * last), then `extId(node)` — the order `sortBy { case (d, id) =>
    * (d, id) }` gives; read them with dist(i)/node(i), i < the returned
    * count. The heap is empty afterwards. Max-heap only: popping fills
    * the array from the back (in-place heapsort) in the heap's own
    * (dist, node) order, and one insertion pass applies the exact order,
    * which differs from it only at -0.0, NaN and equal distances.
    */
  def drainSorted(extId: Int => Long): Int = {
    val cnt = n
    while (n > 1) {
      val d = ds(0); val x = xs(0)
      pop()
      ds(n) = d; xs(n) = x
    }
    n = 0
    var i = 1
    while (i < cnt) {
      val d = ds(i); val x = xs(i); val id = extId(x)
      var j = i - 1
      var shift = true
      while (shift && j >= 0) {
        val c = java.lang.Double.compare(ds(j), d)
        if (c > 0 || (c == 0 && extId(xs(j)) > id)) {
          ds(j + 1) = ds(j); xs(j + 1) = xs(j); j -= 1
        } else shift = false
      }
      ds(j + 1) = d; xs(j + 1) = x
      i += 1
    }
    cnt
  }

  /** The k nearest as (external id, distance), ascending by
    * (distance, id) — a search's answer, drained from its result heap.
    */
  def topK(k: Int, extId: Int => Long): Seq[(Long, Double)] = {
    val out = new Array[(Long, Double)](math.max(0, math.min(drainSorted(extId), k)))
    var i = 0
    while (i < out.length) { out(i) = (extId(xs(i)), ds(i)); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}

/** One beam search's working set: the visited set, the candidate
  * min-heap and the bounded result max-heap, reset between layers. A
  * search allocates one per call and never keeps it on the index: a
  * cached resident shard is one object that concurrent tasks and
  * threads search at the same time.
  */
private[index] final class BeamScratch(graphSize: Int, ef: Int) {
  val visited = new java.util.BitSet(graphSize)
  val candidates = new DistHeap(max = false)
  val results = new DistHeap(max = true, initialCapacity = ef + 2)
  // one expansion's unvisited neighbors and their distances
  private var fresh = new Array[Int](64)
  var dists = new Array[Double](64)

  /** The neighbor buffer, grown to hold `n`; `dists` grows with it. */
  def batch(n: Int): Array[Int] = {
    if (n > fresh.length) { fresh = new Array[Int](n); dists = new Array[Double](n) }
    fresh
  }

  def reset(): Unit = { visited.clear(); candidates.clear(); results.clear() }
}
