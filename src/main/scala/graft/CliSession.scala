package graft

import org.apache.spark.sql.SparkSession

/** The local session the CLI mains (Bench, Profile, Explain, Verify) run
  * in: `local[N]` with N shuffle partitions, N = SPARK_GRAFT_CPUS
  * (default 4), graft's SQL extensions, a UTC session clock, no UI. */
private[graft] object CliSession {
  def apply(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
