package graft

import org.apache.spark.sql.SparkSession

/** The one soak main: `graft.Soak <suite> [args]`. Each suite generates
  * its corpus distributed and deterministically at 100–1000× fixture
  * scale, runs one operator family end to end, and prints one JSON line
  * per measurement (the arguments and defaults are each suite's own;
  * see its scaladoc). Suites share [[SoakKit]] and run on the caller's
  * session, so a spec drives them through [[run]] as the main does.
  */
object Soak {

  val suites: Seq[(String, (SparkSession, Array[String]) => Unit)] = Seq(
    "hnsw" -> HnswSoak.run,
    "dedup" -> DedupSoak.run,
    "semantic" -> SemanticSoak.run,
    "retrieval" -> RetrievalSoak.run,
    "pipeline" -> PipelineSoak.run,
    "curation" -> CurationSoak.run,
    "online" -> OnlineSoak.run,
    "graph" -> GraphSoak.run,
    "media" -> MediaSoak.run,
    "bpe" -> TokenizerSoak.bpe,
    "wordpiece" -> TokenizerSoak.wordpiece,
    "unigram" -> TokenizerSoak.unigram,
    "jobs" -> jobs)

  /** Run the suite `args(0)` with the arguments after it. */
  def run(spark: SparkSession, args: Array[String]): Unit =
    suites.toMap.apply(args(0))(spark, args.tail)

  def main(args: Array[String]): Unit = {
    if (!args.headOption.exists(s => suites.exists(_._1 == s))) {
      println(s"usage: graft.Soak <${suites.map(_._1).mkString("|")}> [args]")
      return
    }
    val spark = GraftSession.local(GraftSession.cpus(32))
    try run(spark, args) finally spark.stop()
  }

  /** Per-query driver-round-trip census: run each named query once
    * (after one suite-level warmup) and report how many Spark jobs,
    * stages and tasks ONE invocation schedules, plus summed task time —
    * what separates "the key computes a lot" from "the key pays fixed
    * per-job overhead N times". Usage: `graft.Soak jobs k1,k2,...` over
    * the fixtures in `SPARK_GRAFT_SF_DIR`.
    */
  private def jobs(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try SparkEntry.queries("knn_cosine")(spark, sfDir).count()
    catch { case _: Throwable => () }
    CacheTracker.releaseAll()
    for (q <- args(0).split(",").filter(_.nonEmpty)) {
      val ((_, sec), c) = SoakKit.census(spark) {
        val r = SoakKit.timed(SparkEntry.queries(q)(spark, sfDir).count())
        CacheTracker.releaseAll()
        r
      }
      SoakKit.emit("q" -> q, "sec" -> SoakKit.fixed(sec, 3), "jobs" -> c.jobs.get,
        "stages" -> c.stages.get, "tasks" -> c.tasks.get,
        "task_sec" -> SoakKit.fixed(c.taskMs.get / 1e3, 3))
    }
  }
}
