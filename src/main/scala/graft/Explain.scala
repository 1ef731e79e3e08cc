package graft

/** Plan-capture utility: prints the formatted physical plan of one or more
  * SparkEntry queries. Usage: graft.Explain <sfDir> <queryName> [...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val spark = GraftSession.local(GraftSession.cpus(4))
    names.foreach { n =>
      println(s"== $n ==")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // .explain("formatted") — the numbered-operator form the round's
      // plan artifacts commit (plans/r*/<query>_{before,after}.txt)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
