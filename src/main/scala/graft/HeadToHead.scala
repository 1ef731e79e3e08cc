package graft

import org.apache.spark.sql.functions._

import graft.index.HnswIndex

/** Single-node head-to-head against the reference implementation: ONE
  * index, single-threaded inserts over the same fixture embeddings and
  * identical parameters (M=16, efC=200, efS=50, cosine) — the same
  * workload `/root/reference` runs in one process. Prints one JSON line.
  * Usage: graft.HeadToHead [sfDir]
  */
object HeadToHead {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.local(GraftSession.cpus(4))
    val rows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Double]](1).toArray))
    spark.stop()

    val idx = new HnswIndex(dim = rows.head._2.length)
    val t0 = System.nanoTime()
    rows.foreach { case (id, v) => idx.insert(id, v) }
    val build = (System.nanoTime() - t0) / 1e9

    val queries = rows.take(200)
    queries.take(20).foreach { case (_, v) => idx.search(v, 10) } // warm-up
    val t1 = System.nanoTime()
    val res = queries.map { case (_, v) => idx.search(v, 10) }
    val qMs = (System.nanoTime() - t1) / 1e6 / queries.length

    // recall@10 vs brute force
    var rec = 0.0
    queries.zip(res).foreach { case ((_, q), got) =>
      val truth = rows.map { case (id, v) => (idx.distance(q, v), id) }
        .sortBy(t => (t._1, t._2)).take(10).map(_._2).toSet
      rec += (truth & got.map(_._1).toSet).size / 10.0
    }
    println(
      s"""{"n":${rows.length},"build_sec":${math.round(build * 100) / 100.0},""" +
      s""""query_ms":${math.round(qMs * 1000) / 1000.0},""" +
      s""""recall_at_10":${math.round(rec / queries.length * 1000) / 1000.0}}""")
  }
}
