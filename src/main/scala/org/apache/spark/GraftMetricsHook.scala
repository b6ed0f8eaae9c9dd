package org.apache.spark

/** Accessor for the private[spark] listener bus, for diagnostics and
  * specs only (never any query or operator): listener events are
  * delivered asynchronously, so code that reads what a listener saw —
  * `graft.Probe`'s per-query task metrics, RegistryPlanSpec's
  * checkpoint audit — drains the bus first, or a slow delivery bleeds
  * one query's events into the next. The QueryExecutionListener bus
  * rides the same LiveListenerBus, so an empty bus means every posted
  * execution event has been delivered too. */
object GraftMetricsHook {
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
