package org.apache.spark

/** The one Spark-internal call the benchmark makes: block until every
  * listener event posted so far has been delivered, so a traced
  * iteration's counters are complete before they are read. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
