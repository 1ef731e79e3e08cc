package graft

import java.util.concurrent.atomic.AtomicInteger

/** GraftSession.memo: one build per (session, key), keys kept apart, the
  * fixture loaders served from it, and evict(sc) forgetting a context's
  * entries. Runs on the shared spec session and never stops its context.
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared spec session is the GraftSession.local(4) session") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
  }

  test("a key builds once per (session, key)") {
    val builds = new AtomicInteger
    def lookup(s: org.apache.spark.sql.SparkSession) =
      GraftSession.memo(s, "GraftSessionSpec once") {
        builds.incrementAndGet()
        new Object
      }
    val first = lookup(spark)
    assert(lookup(spark) eq first)
    assert(builds.get == 1)
    val sibling = spark.newSession()
    val other = lookup(sibling)
    assert(builds.get == 2)
    assert(other ne first)
    assert(lookup(sibling) eq other)
  }

  test("two keys on one fixture do not collide") {
    val a = GraftSession.memo(spark, s"GraftSessionSpec a $sfDir")(Seq(1, 2))
    val b = GraftSession.memo(spark, s"GraftSessionSpec b $sfDir")("b")
    assert(a == Seq(1, 2))
    assert(b == "b")
    assert(GraftSession.memo(spark, s"GraftSessionSpec a $sfDir")(Seq(3)) == Seq(1, 2))
  }

  test("Tables.embeddings returns the same frame twice") {
    assert(Tables.embeddings(spark, sfDir) eq Tables.embeddings(spark, sfDir))
  }

  test("evict(sc) drops the context's entries, loader entries included") {
    val builds = new AtomicInteger
    def lookup() = GraftSession.memo(spark, "GraftSessionSpec evict")(builds.incrementAndGet())
    assert(lookup() == 1)
    val emb = Tables.embeddings(spark, sfDir)
    GraftSession.evict(spark.sparkContext)
    assert(lookup() == 2)
    assert(builds.get == 2)
    val reloaded = Tables.embeddings(spark, sfDir)
    assert(reloaded ne emb)
    assert(Tables.embeddings(spark, sfDir) eq reloaded)
    assert(reloaded.count() == emb.count())
  }
}
