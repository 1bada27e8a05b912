package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private to Spark, so this one call lives in
  * Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
