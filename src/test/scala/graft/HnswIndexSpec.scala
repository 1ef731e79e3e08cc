package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.index.HnswIndex

/** HNSW semantics + recall gate (BASELINE.md: recall@10 ≥ 0.9 vs exact at
  * reference defaults M=16, ef_construction=200, ef_search=50).
  */
class HnswIndexSpec extends AnyFunSuite {

  private def randomVectors(n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rng.nextGaussian()))
  }

  private def bruteKnn(
      vecs: Array[Array[Double]], idx: HnswIndex, q: Array[Double], k: Int): Seq[Long] =
    vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, idx.distance(q, v)) }
      .sortBy { case (id, d) => (d, id) }
      .take(k)
      .map(_._1)
      .toSeq

  test("empty index returns empty result (reference graph.py:178-179)") {
    val idx = new HnswIndex(dim = 4)
    assert(idx.search(Array(1.0, 2.0, 3.0, 4.0), 10).isEmpty)
  }

  test("k larger than index size returns all rows (reference graph.py:188-189)") {
    val idx = new HnswIndex(dim = 2)
    idx.insert(1L, Array(1.0, 0.0))
    idx.insert(2L, Array(0.0, 1.0))
    assert(idx.search(Array(1.0, 0.0), 10).map(_._1).toSet == Set(1L, 2L))
  }

  test("results ascend by distance and are exact on tiny data") {
    val idx = new HnswIndex(dim = 2, metric = "euclidean")
    idx.insert(1L, Array(0.0, 0.0))
    idx.insert(2L, Array(1.0, 0.0))
    idx.insert(3L, Array(5.0, 0.0))
    val r = idx.search(Array(0.1, 0.0), 3)
    assert(r.map(_._1) == Seq(1L, 2L, 3L))
    assert(r.map(_._2) == r.map(_._2).sorted)
  }

  test("duplicate id overwrites (reference graph.py:131-139)") {
    val idx = new HnswIndex(dim = 2, metric = "euclidean")
    idx.insert(1L, Array(0.0, 0.0))
    idx.insert(1L, Array(9.0, 9.0))
    assert(idx.size == 1)
    val r = idx.search(Array(9.0, 9.0), 1)
    assert(r.head._1 == 1L && r.head._2 < 1e-9)
  }

  test("delete removes from results; unknown id returns false (graph.py:191-207)") {
    val idx = new HnswIndex(dim = 2, metric = "euclidean")
    idx.insert(1L, Array(0.0, 0.0))
    idx.insert(2L, Array(1.0, 0.0))
    assert(idx.delete(1L))
    assert(!idx.delete(99L))
    assert(idx.search(Array(0.0, 0.0), 5).map(_._1) == Seq(2L))
  }

  test("delete of the entry point promotes a survivor (graph.py:200-205)") {
    val idx = new HnswIndex(dim = 2, metric = "euclidean", seed = 7L)
    (0 until 50).foreach(i => idx.insert(i.toLong, Array(i.toDouble, 0.0)))
    // delete whatever currently serves as entry by deleting highest-level ids
    (0 until 25).foreach(i => idx.delete(i.toLong))
    val r = idx.search(Array(30.0, 0.0), 5)
    assert(r.nonEmpty && r.forall(_._1 >= 25L))
  }

  test("compaction reclaims tombstones and preserves search results exactly") {
    val idx = new HnswIndex(dim = 8, metric = "euclidean", seed = 21L)
    val vecs = randomVectors(300, 8, seed = 31L)
    vecs.zipWithIndex.foreach { case (v, i) => idx.insert(i.toLong, v) }
    (0 until 300 by 3).foreach(i => idx.delete(i.toLong)) // 100 deletes
    assert(idx.deadCount == 100)
    val queries = randomVectors(10, 8, seed = 41L)
    val before = queries.map(q => idx.search(q, 10))
    val compact = idx.compacted()
    assert(compact.deadCount == 0 && compact.size == 200)
    val after = queries.map(q => compact.search(q, 10))
    assert(before.toSeq == after.toSeq)
  }

  test("recall@10 >= 0.9 vs brute force at reference defaults (cosine, n=500)") {
    val dim = 32
    val vecs = randomVectors(500, dim, seed = 42L)
    val idx = new HnswIndex(dim, m = 16, efConstruction = 200, efSearch = 50)
    vecs.zipWithIndex.foreach { case (v, i) => idx.insert(i.toLong, v) }
    val queries = randomVectors(20, dim, seed = 777L)
    val recalls = queries.map { q =>
      val exact = bruteKnn(vecs, idx, q, 10).toSet
      val approx = idx.search(q, 10).map(_._1).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9")
  }

  test("levelStats aggregates mirror get_stats shape (graph.py:209-234)") {
    val idx = new HnswIndex(dim = 4, seed = 1L)
    val vecs = randomVectors(200, 4, seed = 5L)
    vecs.zipWithIndex.foreach { case (v, i) => idx.insert(i.toLong, v) }
    val stats = idx.levelStats
    assert(stats.map(_._2).sum == 200) // every node counted at its own level
    assert(stats.head._3 > 0.0)        // layer 0 has connections
  }

  test("concurrent searches of one index match a sequential run and count every search") {
    val idx = new HnswIndex(dim = 16, m = 8, efConstruction = 64, seed = 3L)
    val vecs = randomVectors(1500, 16, seed = 9L)
    vecs.zipWithIndex.foreach { case (v, i) => idx.insert(i.toLong, v) }
    (0 until 1500 by 9).foreach(i => idx.delete(i.toLong))
    val queries = randomVectors(500, 16, seed = 10L)
    val allow: Long => Boolean = _ % 2 == 0
    // alternate plain and filtered searches so the scratch of both shapes races
    def run(t: Int, i: Int): Seq[(Long, Double)] =
      if ((t + i) % 2 == 0) idx.search(queries(i), 10)
      else idx.searchFiltered(queries(i), 10, allow)
    val expected = (0 until 4).map(t => queries.indices.map(i => run(t, i)))
    val before = idx.totalSearches
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[IndexedSeq[Seq[(Long, Double)]]] {
          def call(): IndexedSeq[Seq[(Long, Double)]] = {
            start.await()
            queries.indices.map(i => run(t, i))
          }
        })
      }
      start.countDown()
      futures.zip(expected).foreach { case (f, exp) => assert(f.get() == exp) }
    } finally pool.shutdown()
    assert(idx.totalSearches - before == 2000L)
  }
}
