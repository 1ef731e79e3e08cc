package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Knn, ProductQuantization => PQ}

/** End-to-end compressed-serving flow: train codebooks → encode → persist
  * the code table as parquet → reload → ADC shortlist → exact rerank
  * against the full-precision table. The shape a 100 TB deployment uses:
  * the scan-heavy step reads only the code table.
  */
class PqStorageIntegrationSpec extends SparkSpec {

  test("persisted code table round-trips and serves shortlist+rerank") {
    import spark.implicits._
    val rnd = new java.util.Random(17L)
    val dim = 32
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian() * 2.0))
    // unit-norm like the engine's embeddings: there the euclidean ADC
    // shortlist and the cosine rerank rank in the same order
    val rows = (0 until 1000).map { i =>
      val v = centers(i % 8).map(x => x + 0.2 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / norm).toSeq)
    }
    val data = rows.toDF("vec_id", "embedding")
    val models = PQ.fitExact(data, dim, m = 4, kSub = 16, iterations = 5)

    val dir = Files.createTempDirectory("graft_pq").toString
    PQ.encodeExact(data, models, dim)
      .write.mode("overwrite").parquet(s"$dir/codes")
    data.write.mode("overwrite").parquet(s"$dir/full")

    // compression is real on disk: the code table is much smaller than
    // the full-precision table
    def bytes(p: String): Long =
      Files.walk(java.nio.file.Paths.get(p)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => f.toString.endsWith(".parquet")).map(Files.size).sum
    val ratio = bytes(s"$dir/full").toDouble / bytes(s"$dir/codes")
    assert(ratio > 5.0, s"compression ratio only $ratio")

    val codes = spark.read.parquet(s"$dir/codes")
    val full = spark.read.parquet(s"$dir/full")
    val q = full.where(col("vec_id") === 3)
    val exact = Knn.knn(full, q.select(col("embedding").as("qv")), 10,
        VectorFunctions.cosine)
      .collect().map(_.getLong(0)).toSet
    val served = PQ.exactAdcKnnBatchFrom(full, codes, models,
        q.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        k = 10, candFactor = 8)
      .collect().map(_.getLong(1)).toSet
    assert((exact & served).size >= 9, s"exact=$exact served=$served")
  }
}
