package graft

import org.apache.spark.sql.functions.col

import graft.SoakKit._

/** The soak kit's shared pieces: the scoped census and the JSON line. */
class SoakKitSpec extends SparkSpec {

  private def counts(c: Census): Seq[Long] =
    Seq(c.jobs, c.stages, c.tasks, c.failedTasks, c.taskMs,
      c.peakStageShuffleWrite, c.memorySpilled, c.diskSpilled).map(_.get)

  test("a census counts its scope's jobs, and no job after the scope closes") {
    val (n, c) = census(spark) {
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().count()
    }
    assert(n == 7)
    assert(c.jobs.get >= 1 && c.tasks.get >= 4 && c.failedTasks.get == 0)
    assert(c.peakStageShuffleWrite.get > 0)
    val closed = counts(c)
    spark.range(0, 1000, 1, 4).groupBy(col("id") % 5).count().count()
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
    assert(counts(c) == closed, "a closed census still counts")
  }

  test("the JSON line keeps key order and each value's format") {
    assert(json(
      "s" -> "a\"b", "i" -> 3, "l" -> 40000000000L, "d" -> rounded(0.125, 2),
      "r" -> rounded(1234.5678, 1), "f" -> fixed(2.0, 2), "b" -> true,
      "xs" -> Seq(1L, 2L), "fs" -> Seq(0.25, 1.5).map(fixed(_, 1)), "e" -> Nil,
      "o" -> json("k" -> 1)).text ==
      """{"s":"a\"b","i":3,"l":40000000000,"d":0.13,"r":1234.6,"f":2.00,"b":true,""" +
      """"xs":[1,2],"fs":[0.3,1.5],"e":[],"o":{"k":1}}""")
  }

  test("recall and percentiles match their definitions") {
    val truth = Map(1L -> Set(1L, 2L, 3L, 4L), 2L -> Set(5L, 6L))
    assert(recall(Map(1L -> Set(1L, 2L, 9L), 2L -> Set(5L, 6L)), truth) == (0.5 + 1.0) / 2)
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(pct(xs, 0.5) == 3.0 && pct(xs, 0.99) == 5.0 && pct(xs, 0.0) == 1.0)
  }
}
