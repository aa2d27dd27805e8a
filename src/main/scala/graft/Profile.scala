package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round instrumentation (guide §1): runs named queries with a
  * listener that counts Spark jobs / stages / tasks and sums task time, so a
  * query's wall-clock can be attributed to scheduling overhead (many tiny
  * jobs) vs. compute (few big stages). Not part of the driver contract —
  * a measurement aid only; the timed methodology mirrors Bench exactly
  * (same session configs, same noop sink, same cache sweep between runs).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = CliSession()
    // same warm-up as Bench
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var jobLog = List.empty[String]
    val listener = new SparkListener {
      private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1; t0.put(js.jobId, System.nanoTime())
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val start = Option(t0.get(je.jobId)).getOrElse(System.nanoTime())
        val ms = (System.nanoTime() - start) / 1e6
        jobLog ::= f"    job ${je.jobId}%4d ${ms}%8.1f ms"
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (te.taskInfo != null) taskTimeMs += te.taskInfo.duration
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val only = args.toSet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        util.CacheRegistry.releaseAll(spark)
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L; jobLog = Nil
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // give the listener bus a moment to drain
          Thread.sleep(300)
          println(f"PROFILE $name%-28s ${dt}%7.2f s  jobs=$jobs%-4d stages=$stages%-4d tasks=$tasks%-5d taskTime=${taskTimeMs / 1000.0}%8.1f s")
          jobLog.reverse.foreach(l => if (sys.env.contains("GRAFT_PROFILE_JOBS")) println(l))
        } catch {
          case t: Throwable =>
            println(s"PROFILE $name FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}")
        }
      }
    spark.stop()
  }
}
