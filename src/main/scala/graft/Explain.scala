package graft

/** Plan-audit CLI: prints the formatted physical plan of named queries
  * (all queries when none named) at a given SF dir — the per-operator
  * "is this the plan I'd want at 100 TB" check (pushed filters, broadcast
  * vs shuffle joins, exchange count, codegen spans) without running them.
  *
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    val spark = CliSession(logLevel = "ERROR")
    val targets: Seq[String] =
      if (names.nonEmpty) names.toSeq else SparkEntry.queries.keys.toSeq.sorted
    targets.foreach { name =>
      println(s"===== $name =====")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } catch {
        case e: Throwable => println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
