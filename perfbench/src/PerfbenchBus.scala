package org.apache.spark

/** The listener bus's drain is package-private to Spark; this one-line
  * bridge lets the benchmark read its listener only after every event of
  * the timed operation has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
