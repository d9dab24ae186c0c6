package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait
  * until its listener has seen every posted event before it reads
  * the counters back.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
