package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * traced run must see every event of its timed phase before it sums
  * them. */
object SvcbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
