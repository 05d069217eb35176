package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so every task and progress event is counted before the
  * metrics are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
