package org.apache.spark

/** Blocks until every queued listener event has been delivered. The
  * bus is package-private to Spark, hence this one-line bridge: the
  * per-call job attribution must not read the tracer before the last
  * job-end event of a call has arrived.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
