package org.apache.spark

/** Lets the benchmark wait until every Spark listener event posted so far
  * has been delivered, so task counters are complete when they are read. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
