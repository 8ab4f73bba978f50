package org.apache.spark

/** Test access to the one Spark-internal call job-counting specs need:
  * block until every queued listener event has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
