package graft

import org.apache.spark.sql.functions._

import graft.index.{HnswIndex, HnswSpark}
import graft.functions.VectorFunctions
import graft.operators.Knn

/** Partitioned build + broadcast probe against the sf0.001 fixture:
  * recall@10 ≥ 0.9 vs the exact kNN operator (BASELINE.md ANN gate).
  */
class HnswSparkSpec extends SparkSpec {

  test("partitioned HNSW recall@10 >= 0.9 vs exact kNN on sf0.001") {
    val emb = Tables.embeddings(spark, sfDir)
    val params = HnswSpark.Params(dim = 64)
    val indexes = HnswSpark.build(emb, params, numPartitions = 4)
    assert(indexes.length == 4)
    assert(indexes.map(_.size).sum == emb.count())

    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

    val recalls = queries.map { case (qid, qv) =>
      val exact = Knn.knn(
        emb,
        emb.where(col("vec_id") === qid).select(col("embedding").as("qv")),
        k = 10, metric = VectorFunctions.cosine)
        .collect().map(_.getLong(0)).toSet
      val approx = HnswSpark.searchAll(indexes.toSeq, qv, 10).map(_._1).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9")
  }

  test("incremental insert/overwrite/delete on a built index (A1/A3 parity)") {
    val emb = Tables.embeddings(spark, sfDir)
    val indexes = HnswSpark.build(emb, HnswSpark.Params(dim = 64), numPartitions = 3)
    val before = indexes.map(_.size).sum

    // insert two new vectors; one overwrites an existing id
    val novel = Array.fill(64)(9.9)
    val (ins, del, miss) = HnswSpark.applyMutations(
      indexes,
      inserts = Seq(100000L -> novel, 0L -> novel),
      deletes = Seq(7L, 999999L))
    assert((ins, del, miss) == (2, 1, 1)) // 999999 unknown → miss (graph.py:193-194)
    assert(indexes.map(_.size).sum == before + 1 - 1) // +new, overwrite, -deleted

    // the new vector is its own nearest neighbor; overwritten id moved too
    val hits = HnswSpark.searchAll(indexes.toSeq, novel, 3).map(_._1)
    assert(hits.take(2).toSet == Set(100000L, 0L)) // both sit at the same point
    // deleted id no longer appears anywhere
    val q7 = emb.where(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    assert(!HnswSpark.searchAll(indexes.toSeq, q7, 20).map(_._1).contains(7L))
    // round-trip through persistence keeps the mutated state
    val dir = java.nio.file.Files.createTempDirectory("hnsw_mut").toString
    graft.index.HnswPersistence.save(spark, indexes, dir)
    val reloaded = graft.index.HnswPersistence.load(spark, dir)
    assert(HnswSpark.searchAll(reloaded.toSeq, novel, 2).map(_._1).toSet
      == Set(100000L, 0L))
  }

  test("searchDf returns k rows per query through the broadcast path") {
    val emb = Tables.embeddings(spark, sfDir)
    val indexes = HnswSpark.build(emb, HnswSpark.Params(dim = 64), numPartitions = 2)
    val bc = spark.sparkContext.broadcast(indexes)
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val out = HnswSpark.searchDf(spark, bc, queries, k = 5)
    val counts = out.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(counts.length == 3 && counts.forall(_ == 5))
    // each query's own vector is its nearest neighbor at distance ~0
    val self = out.where(col("query_id") === col("vec_id")).collect()
    assert(self.length == 3 && self.forall(_.getDouble(2) < 1e-5))
  }

  test("searchAllPar equals searchAll and the sorted concatenation of shard answers") {
    val rnd = new java.util.Random(17)
    def vec(): Array[Double] = Array.fill(8)(rnd.nextGaussian())
    def shards(n: Int): IndexedSeq[HnswIndex] = (0 until n).map { s =>
      val ix = new HnswIndex(dim = 8, m = 6, efConstruction = 40, seed = s.toLong)
      (0 until 150).foreach(i => ix.insert(s * 1000L + i, vec()))
      ix
    }
    val one = shards(1)
    val four = shards(4)
    // equal distances across shards: one vector under a different id in each
    val twin = vec()
    four.zipWithIndex.foreach { case (ix, s) => ix.insert(9000L + s, twin) }
    val emptied = shards(4)
    (0 until 150).foreach(i => emptied(2).delete(2000L + i))
    assert(emptied(2).size == 0)
    val small = shards(3)
    small.zipWithIndex.foreach { case (ix, s) =>
      (5 until 150).foreach(i => ix.delete(s * 1000L + i))
    }
    val queries = Seq.fill(20)(vec()) :+ twin
    for ((ixs, k) <- Seq((one, 10), (four, 10), (four, 1), (emptied, 10), (small, 40));
         q <- queries) {
      val par = HnswSpark.searchAllPar(ixs, q, k)
      val concat = ixs.flatMap(_.search(q, k)).sortBy { case (id, d) => (d, id) }.take(k)
      assert(par == HnswSpark.searchAll(ixs, q, k))
      assert(par == concat)
    }
    // k above the 15 live ids: every id the unrelinked graphs still reach
    val all = HnswSpark.searchAllPar(small, queries.head, 40)
    assert(all.nonEmpty && all.length <= 15 && all.map(_._1).distinct == all.map(_._1))
  }
}
