package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced request's counters are complete before they are read. The bus is
  * package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
