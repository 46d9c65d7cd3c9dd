package org.apache.spark

/** Bridge to the scheduler's listener bus, whose drain call is private to
  * Spark: per-span totals are read only after every event is delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
