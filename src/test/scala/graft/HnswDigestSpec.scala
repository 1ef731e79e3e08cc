package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}

import graft.index.{HnswIndex, HnswPqIndex, HnswSpark, HnswSq8Index}

/** Bit identity of the HNSW index family: one MD5 over every exported
  * graph and every search and filtered-search result of a fixed-seed
  * workload, pinned to the value the implementation produced before the
  * search path was tuned (cached norms, per-search scratch, sort-free
  * merge). Any change to a returned id, distance bit, level, edge,
  * entry point or lifetime counter moves the digest.
  *
  * Per metric (euclidean, manhattan, dot_product, cosine): 600 inserts
  * with duplicate vectors (exact distance ties, broken by id) and zero
  * vectors (cosine's zero-norm 1.0, dot's -0.0), every 7th id deleted,
  * every 11th overwritten, 200 later inserts; then the SQ8 and PQ
  * serving copies, a `fromExport` reload that takes 50 more inserts, and
  * a `refreshResident` copy of the built index.
  */
class HnswDigestSpec extends SparkSpec {

  test("search results and exported graphs are bit-identical to the pinned digest") {
    assert(HnswDigestSpec.digest(spark) == "1dea14c2b1f6cdf4f7a4e75a6c56da5b")
  }
}

object HnswDigestSpec {

  private val dim = 16
  private val metrics = Seq("euclidean", "manhattan", "dot_product", "cosine")

  def digest(spark: org.apache.spark.sql.SparkSession): String = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    metrics.foreach(m => digestMetric(spark, m, out))
    out.close()
    java.security.MessageDigest.getInstance("MD5").digest(bytes.toByteArray)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  private def vectors(rnd: java.util.Random, n: Int): IndexedSeq[Array[Double]] =
    (0 until n).map { i =>
      if (i % 97 == 13) new Array[Double](dim)
      else Array.fill(dim)(rnd.nextGaussian())
    }

  private def digestMetric(
      spark: org.apache.spark.sql.SparkSession, metric: String,
      out: DataOutputStream): Unit = {
    val rnd = new java.util.Random(20240611L)
    val base = vectors(rnd, 600)
    val ix = new HnswIndex(dim, m = 8, efConstruction = 64, efSearch = 24,
      metric = metric, seed = 7L)
    base.indices.foreach { i =>
      // ids 500..519 repeat vectors 0..19: equal distances, distinct ids
      ix.insert(i.toLong, if (i >= 500 && i < 520) base(i - 500) else base(i))
    }
    (0 until 600 by 7).foreach(i => ix.delete(i.toLong))
    val over = vectors(rnd, 600)
    (3 until 600 by 11).foreach(i => ix.insert(i.toLong, over(i)))
    vectors(rnd, 200).zipWithIndex.foreach { case (v, i) =>
      ix.insert(1000L + i, v)
    }
    val queries = vectors(rnd, 30) ++ Seq(new Array[Double](dim), base(1), base(501))
    val allow: Long => Boolean = id => id % 3 != 1

    def searches(
        search: (Array[Double], Int, Option[Int]) => Seq[(Long, Double)],
        filtered: (Array[Double], Int, Long => Boolean, Option[Int]) => Seq[(Long, Double)]): Unit =
      queries.foreach { q =>
        Seq(search(q, 10, None), search(q, 5, Some(200)), search(q, 1000, None),
          filtered(q, 10, allow, None), filtered(q, 7, allow, Some(90)))
          .foreach { hits =>
            out.writeInt(hits.length)
            hits.foreach { case (id, d) =>
              out.writeLong(id); out.writeLong(java.lang.Double.doubleToLongBits(d))
            }
          }
      }

    def graph(x: HnswIndex): Unit = {
      out.writeInt(x.size)
      out.writeLong(x.entryPointId.getOrElse(-1L))
      out.writeLong(x.levelDraws); out.writeLong(x.nextAutoId)
      out.writeLong(x.totalSearches); out.writeLong(x.totalInsertions)
      x.exportNodes.foreach { case (id, v, level) =>
        out.writeLong(id); out.writeInt(level)
        v.foreach(d => out.writeLong(java.lang.Double.doubleToLongBits(d)))
      }
      x.exportEdges.foreach { case (id, layer, nb) =>
        out.writeLong(id); out.writeInt(layer); out.writeLong(nb)
      }
    }

    def float(x: HnswIndex): Unit = {
      searches(x.search(_, _, _), x.searchFiltered(_, _, _, _))
      graph(x)
    }

    float(ix)
    val sq8 = HnswSq8Index.fromHnsw(ix)
    searches(sq8.search(_, _, _), sq8.searchFiltered(_, _, _, _))
    val pq = HnswPqIndex.fromHnsw(ix, m = 4, kSub = 16, iters = 3)
    searches(pq.search(_, _, _), pq.searchFiltered(_, _, _, _))

    val reloaded = HnswIndex.fromExport(
      dim, ix.m, ix.efConstruction, ix.efSearch, ix.metric,
      ix.exportNodes.toSeq, ix.exportEdges.toSeq, ix.entryPointId,
      seed = ix.seed, rngDraws = ix.levelDraws,
      totalSearches = ix.totalSearches, totalInsertions = ix.totalInsertions,
      nextAutoId = ix.nextAutoId)
    vectors(rnd, 50).zipWithIndex.foreach { case (v, i) =>
      reloaded.insert(2000L + i, v)
    }
    float(reloaded)

    import spark.implicits._
    val params = HnswSpark.Params(dim = dim, m = 8, efConstruction = 64,
      efSearch = 24, metric = metric)
    val shards = spark.sparkContext.parallelize(Seq(ix), 1)
    val muts = vectors(rnd, 40).zipWithIndex.map { case (v, i) =>
      (i.toLong, "insert", 3000L + i, Option(v.toSeq))
    } ++ (10 until 60 by 5).map { i =>
      (100L + i, "delete", i.toLong, Option.empty[Seq[Double]])
    }
    val refreshed = HnswSpark.refreshResident(
      shards, muts.toDF("seq", "op", "vec_id", "vec"), params)
    float(refreshed.collect().head)
    refreshed.unpersist()
  }
}
