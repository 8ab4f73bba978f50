package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * queued listener event has been delivered, so a traced call's job,
  * stage and task events are all counted before its numbers are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
