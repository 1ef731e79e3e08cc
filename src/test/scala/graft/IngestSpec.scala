package graft

import java.nio.file.{Files, Paths}

import graft.sources.Ingest

/** JSONL mutation-log ingestion: schema enforcement + corrupt quarantine. */
class IngestSpec extends SparkSpec {

  test("valid lines parse, malformed and contract-violating lines quarantine") {
    val dir = Files.createTempDirectory("graft_ingest")
    val lines = Seq(
      """{"seq": 1, "op": "insert", "vec_id": 10, "label": 3, "embedding": [0.1, 0.2]}""",
      """{"seq": 2, "op": "delete", "vec_id": 10}""",
      """{"seq": 3, "op": "insert", "vec_id": 11, "label": 1, "embedding": [0.3, 0.4]}""",
      """this is not json at all""",
      """{"seq": 4, "op": "upsert", "vec_id": 12}""", // unknown op: contract violation
      """{"seq": 5, "vec_id": 13}""" // missing op: NULL predicate trap
    )
    Files.write(Paths.get(dir.toString, "log.jsonl"),
      lines.mkString("\n").getBytes)

    val (valid, quarantined) = Ingest.readMutationLog(spark, dir.toString)
    assert(valid.count() == 3)
    assert(valid.count() + quarantined.count() == lines.size) // nothing vanishes
    assert(quarantined.count() == 3) // every bad line lands somewhere
    // quarantine keeps the raw malformed line for replay/debugging
    val rawKept = quarantined.collect()
      .flatMap(r => Option(r.getAs[String]("_corrupt_record")))
    assert(rawKept.exists(_.contains("not json")))
    // the valid frame folds like any other mutation log (last-writer-wins):
    // seq 2 deletes vec 10, so only vec 11 stays visible
    import org.apache.spark.sql.functions._
    val visible = graft.operators.Mutations.apply(
      valid.select(col("seq"), col("op"), col("vec_id"), col("label")))
    assert(visible.collect().map(_.getLong(0)).toSeq == Seq(11L))
    // the parsed log's cache belongs to the session owner: released, no
    // plan over it reads a cache any more
    def readsCache(df: org.apache.spark.sql.DataFrame): Boolean =
      org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, df.queryExecution.logical)
        .queryExecution.withCachedData.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
    assert(readsCache(valid) && readsCache(quarantined))
    CacheTracker.releaseAll()
    assert(!readsCache(valid) && !readsCache(quarantined))
  }
}
