package org.apache.spark

/** Waits until every queued listener event has been delivered. The listener
  * bus is private to Spark, so this accessor sits in Spark's package; the
  * tracer calls it after each traced op so that op's events are complete
  * before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
