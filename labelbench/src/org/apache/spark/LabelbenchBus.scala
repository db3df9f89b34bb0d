package org.apache.spark

/** The listener bus is private to Spark; the benchmark only needs to
  * wait for it to drain before it reads the counters its listener kept. */
object LabelbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
