package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL mutation-log ingestion — the batch twin of the reference's JSON
  * REST ingest (reference api/rest/server.py:136-157 accepts insert
  * payloads; distributed_server.py:95-121 turns them into ordered
  * commands). A 100 TB pipeline lands those payloads as JSONL files; this
  * reader enforces the schema up front and QUARANTINES malformed lines
  * instead of failing the job or silently dropping them — the reference
  * returns HTTP 4xx per bad request, the batch analog is a corrupt-record
  * side channel.
  */
object Ingest {

  /** Explicit schema — never inferred: at scale, schema inference is an
    * extra full pass over the data and a drift hazard.
    */
  val mutationSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = true),
    StructField("embedding", ArrayType(DoubleType), nullable = true),
    StructField("_corrupt_record", StringType, nullable = true)))

  /** (valid, quarantined) mutation frames from a JSONL path. A row is
    * quarantined if the line failed to parse OR parsed but violates the
    * command contract (unknown op, missing seq/vec_id).
    */
  def readMutationLog(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    // corrupt-record access requires materialization in Spark — cache,
    // then both branches split the same parsed frame
    val raw = graft.CacheTracker.pin(spark.read
      .schema(mutationSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path))
    // coalesce to false: a parseable line with a NULL op would make the
    // predicate NULL, and a NULL filter drops the row from BOTH branches —
    // silently losing it instead of quarantining it
    val contractOk = coalesce(
      col("_corrupt_record").isNull &&
        col("op").isin("insert", "delete") &&
        col("seq").isNotNull && col("vec_id").isNotNull,
      lit(false))
    val valid = raw.where(contractOk)
      .select(col("seq"), col("op"), col("vec_id"), col("label"), col("embedding"))
    val quarantined = raw.where(!contractOk)
    (valid, quarantined)
  }
}
