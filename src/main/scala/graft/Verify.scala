package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // Round-start fixture canary (the round-9 lesson): if the driver's
    // regeneration changed any table's shape beyond what the normalizing
    // loaders absorb, say so ONCE, LOUDLY, up front — naming tables and
    // columns — instead of leaking it as N inscrutable per-query errors.
    val drift = try Tables.fixtureDrift(spark, sfDir)
                catch { case e: Throwable => Seq(s"canary itself failed: $e") }
    if (drift.nonEmpty) {
      val banner = "!" * 72
      System.err.println(banner)
      System.err.println(s"[fixture-drift] ${drift.size} problem(s) at $sfDir:")
      drift.foreach(n => System.err.println(s"[fixture-drift]   $n"))
      System.err.println(banner)
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query fully written: release operator-internal caches
      CacheTracker.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
