package org.apache.spark

/** Access to the one Spark-internal call that listener-based job and
  * stage counting needs: block until every queued listener event has
  * been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
