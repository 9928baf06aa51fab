package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * test's listener counts are complete before they are read. The
  * listener bus is package-private to Spark, hence this object's
  * package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
