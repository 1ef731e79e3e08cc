package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.index.{HnswIndex, HnswSpark, HnswSq8Index}
import graft.operators.Knn

/** SQ8-compressed resident serving gates: the memory claim, exactness of
  * the exhaustive-ef + corpus-covering-rerank face (the hnsw_sq8_knn
  * oracle's argument), and operating-point behavior.
  */
class HnswSq8Spec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("compression shrinks the resident index (payload ~7x + varint adjacency, total >= 3.5x)") {
    val ix = new HnswIndex(dim = 64)
    val rnd = new java.util.Random(7)
    (0 until 2000).foreach { i =>
      ix.insert(i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val sq8 = HnswSq8Index.fromHnsw(ix)
    assert(sq8.size == ix.size)
    val ratio = ix.memoryBytes.toDouble / sq8.memoryBytes
    assert(ratio >= 3.5, s"memory ratio $ratio (full=${ix.memoryBytes}, " +
      s"sq8=${sq8.memoryBytes})")
  }

  test("exhaustive ef + corpus-covering rerank reproduces exact batch top-k") {
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = Knn.knnBatch(emb, queries, 10, VectorFunctions.cosine)
      .select(col("query_id"), col("vec_id"), col("distance"),
        col("rank").cast("int").as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val full = HnswSpark.buildResident(
      emb, HnswSpark.Params(dim = 64), numPartitions = 4)
    val sq8 = HnswSpark.compressResident(full)
    full.unpersist(blocking = false)
    val got = HnswSpark.searchResidentRerank(spark, sq8, emb, queries,
      k = 10, candFactor = 50, ef = Some(60000))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    sq8.unpersist(blocking = false)
    assert(got == exact)
  }

  test("SQ8 traversal at default ef keeps the self-match and search semantics") {
    val ix = new HnswIndex(dim = 8, seed = 3L)
    val rnd = new java.util.Random(11)
    (0 until 500).foreach { i =>
      ix.insert(i.toLong, Array.fill(8)(rnd.nextDouble()))
    }
    val sq8 = HnswSq8Index.fromHnsw(ix)
    val rnd2 = new java.util.Random(11)
    (0 until 500).foreach { i =>
      val v = Array.fill(8)(rnd2.nextDouble())
      val got = sq8.search(v, 5)
      assert(got.nonEmpty && got.size <= 5)
      // ascending quantized distance, ties by id
      assert(got == got.sortBy { case (id, d) => (d, id) })
      assert(got.head._1 == i.toLong, s"self-match lost for $i: $got")
    }
    // empty-index semantics match HnswIndex
    val empty = HnswSq8Index.fromHnsw(new HnswIndex(dim = 8))
    assert(empty.search(Array.fill(8)(0.5), 3).isEmpty)
  }

  test("PQ index: ~10x smaller than float, exhaustive face still exact") {
    val ix = new HnswIndex(dim = 64)
    val rnd = new java.util.Random(7)
    (0 until 2000).foreach { i =>
      ix.insert(i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val pq = graft.index.HnswPqIndex.fromHnsw(ix, m = 8, kSub = 64, iters = 3)
    assert(pq.size == ix.size)
    val ratio = ix.memoryBytes.toDouble / pq.memoryBytes
    assert(ratio >= 7.0, s"memory ratio $ratio (full=${ix.memoryBytes}, " +
      s"pq=${pq.memoryBytes})")
    // the PQ copy must be smaller than the SQ8 copy
    assert(pq.memoryBytes < HnswSq8Index.fromHnsw(ix).memoryBytes)
    // exhaustive ef visits the whole component regardless of codebooks
    val q = Array.fill(64)(0.1)
    val all = pq.search(q, 2000, Some(100000))
    assert(all.size == 2000)
  }

  test("PQ resident: exhaustive ef + corpus-covering rerank reproduces exact top-k") {
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = Knn.knnBatch(emb, queries, 10, VectorFunctions.cosine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val full = HnswSpark.buildResident(
      emb, HnswSpark.Params(dim = 64), numPartitions = 4)
    val pq = HnswSpark.compressResidentPq(full, m = 8, kSub = 64, iters = 4)
    full.unpersist(blocking = false)
    val got = HnswSpark.searchResidentRerank(spark, pq, emb, queries,
      k = 10, candFactor = 50, ef = Some(60000))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    pq.unpersist(blocking = false)
    assert(got == exact)
  }

  test("filtered exhaustive face reproduces exact filtered top-k on both compressed paths") {
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exactF = Knn.knnBatch(emb.where(col("vec_id") % 2 === 0),
      queries, 10, VectorFunctions.cosine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val full = HnswSpark.buildResident(
      emb, HnswSpark.Params(dim = 64), numPartitions = 4)
    val sq8 = HnswSpark.compressResident(full)
    val pq = HnswSpark.compressResidentPq(full, m = 8, kSub = 64, iters = 4)
    full.unpersist(blocking = false)
    val even = Some((id: Long) => id % 2 == 0)
    val gotS = HnswSpark.searchResidentRerank(spark, sq8, emb, queries,
      k = 10, candFactor = 50, ef = Some(60000), allow = even)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val gotP = HnswSpark.searchResidentRerank(spark, pq, emb, queries,
      k = 10, candFactor = 50, ef = Some(60000), allow = even)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    sq8.unpersist(blocking = false)
    pq.unpersist(blocking = false)
    assert(gotS == exactF)
    assert(gotP == exactF)
  }

  test("filtered traversal recall per selectivity at operating ef (compressed paths)") {
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val full = HnswSpark.buildResident(
      emb, HnswSpark.Params(dim = 64), numPartitions = 4)
    val sq8 = HnswSpark.compressResident(full)
    val pq = HnswSpark.compressResidentPq(full, m = 8, kSub = 64, iters = 4)
    full.unpersist(blocking = false)
    // selectivity 50% / 20% / 5% — the pool self-oversamples (the beam
    // expands until it holds ef PASSING nodes), so recall must hold
    // WITHOUT caller-side ef inflation as the filter sharpens
    for (mod <- Seq(2, 5, 20)) {
      val exact = Knn.knnBatch(emb.where(col("vec_id") % mod === 0),
        queries, 10, VectorFunctions.cosine)
        .select(col("query_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val allow = Some((id: Long) => id % mod == 0)
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select(col("query_id"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (got & exact).size.toDouble / exact.size
      }
      val rs = recallOf(HnswSpark.searchResidentRerank(spark, sq8, emb,
        queries, k = 10, candFactor = 4, ef = Some(100), allow = allow))
      val rp = recallOf(HnswSpark.searchResidentRerank(spark, pq, emb,
        queries, k = 10, candFactor = 4, ef = Some(100), allow = allow))
      assert(rs >= 0.9, s"SQ8 filtered recall at 1/$mod selectivity: $rs")
      assert(rp >= 0.9, s"PQ filtered recall at 1/$mod selectivity: $rp")
    }
    sq8.unpersist(blocking = false)
    pq.unpersist(blocking = false)
  }

  test("searchFiltered returns only allowed ids, sorted, on both index classes") {
    val ix = new HnswIndex(dim = 8, seed = 3L)
    val rnd = new java.util.Random(11)
    (0 until 500).foreach { i =>
      ix.insert(i.toLong, Array.fill(8)(rnd.nextDouble()))
    }
    val sq8 = HnswSq8Index.fromHnsw(ix)
    val pq = graft.index.HnswPqIndex.fromHnsw(ix, m = 4, kSub = 32, iters = 3)
    val q = Array.fill(8)(0.5)
    for (got <- Seq(sq8.searchFiltered(q, 5, _ % 3 == 0),
        pq.searchFiltered(q, 5, _ % 3 == 0))) {
      assert(got.size == 5)
      assert(got.forall(_._1 % 3 == 0))
      assert(got == got.sortBy { case (id, d) => (d, id) })
    }
    // empty predicate -> empty result, no hang (the frontier closes)
    assert(sq8.searchFiltered(q, 5, _ => false).isEmpty)
    assert(pq.searchFiltered(q, 5, _ => false).isEmpty)
  }

  test("search equals searchFiltered under an allow-all predicate on all three index classes") {
    // the one-beam property: unfiltered search IS the filtered beam with
    // an allow-all predicate, through deletes, overwrites and every metric
    for (metric <- Seq("cosine", "euclidean", "dot_product", "manhattan")) {
      val ix = new HnswIndex(dim = 8, seed = 3L, metric = metric)
      val rnd = new java.util.Random(11)
      (0 until 1500).foreach { i =>
        ix.insert(i.toLong, Array.fill(8)(rnd.nextDouble() * 2 - 1))
        if (i % 7 == 3) ix.delete((i / 2).toLong)
        if (i % 11 == 5) ix.insert((i / 3).toLong, Array.fill(8)(rnd.nextDouble()))
      }
      assert(ix.deadCount > 0)
      val sq8 = HnswSq8Index.fromHnsw(ix)
      val pq = graft.index.HnswPqIndex.fromHnsw(ix, m = 4, kSub = 32, iters = 3)
      val faces: Seq[(String, (Array[Double], Int, Option[Int]) => Seq[(Long, Double)],
          (Array[Double], Int, Long => Boolean, Option[Int]) => Seq[(Long, Double)])] = Seq(
        ("float", ix.search, ix.searchFiltered),
        ("sq8", sq8.search, sq8.searchFiltered),
        ("pq", pq.search, pq.searchFiltered))
      val qr = new java.util.Random(5)
      for (_ <- 0 until 10) {
        val q = Array.fill(8)(qr.nextDouble() * 2 - 1)
        for ((name, plain, filtered) <- faces; k <- Seq(1, 10);
             ef <- Seq(Some(5), None, Some(200))) {
          val got = plain(q, k, ef)
          assert(got.nonEmpty)
          assert(got == filtered(q, k, _ => true, ef), s"$name $metric k=$k ef=$ef")
        }
      }
    }
  }

  test("compression is a snapshot: mutating the source leaves the copy intact") {
    val ix = new HnswIndex(dim = 4)
    (0 until 50).foreach(i => ix.insert(i.toLong, Array.fill(4)(i / 50.0)))
    val sq8 = HnswSq8Index.fromHnsw(ix)
    val before = sq8.search(Array.fill(4)(0.3), 5)
    (0 until 25).foreach(i => ix.delete(i.toLong))
    assert(sq8.size == 50)
    assert(sq8.search(Array.fill(4)(0.3), 5) == before)
  }
}
