package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it at op
  * boundaries so every listener event lands in the op that caused it. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
