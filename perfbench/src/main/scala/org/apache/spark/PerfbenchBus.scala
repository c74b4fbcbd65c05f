package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * span's counter deltas include the tasks of the jobs it ran. The bus
  * is private to Spark; this bridge lives in Spark's package for that
  * reason alone. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
