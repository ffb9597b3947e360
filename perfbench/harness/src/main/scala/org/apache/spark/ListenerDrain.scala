package org.apache.spark

/** Blocks until every queued listener event has been delivered. The
  * traced run calls it before each query's span closes, so no job or
  * batch event is left in flight; the untraced run calls it once after
  * its warm phase, so every micro-batch progress event is counted. Spark
  * keeps the bus private to its own packages, hence this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
