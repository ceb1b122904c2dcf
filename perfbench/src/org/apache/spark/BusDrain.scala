package org.apache.spark

/** Wait until every listener event posted so far has been delivered, so
  * the traced run's counters are complete before they are read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
