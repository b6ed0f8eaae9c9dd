package org.apache.spark

/** Accessors for private[spark] state, for diagnostics and specs only
  * (never any query or operator). Listener events are
  * delivered asynchronously, so code that reads what a listener saw —
  * `graft.Probe`'s per-query task metrics, RegistryPlanSpec's
  * checkpoint audit — drains the bus first, or a slow delivery bleeds
  * one query's events into the next. The QueryExecutionListener bus
  * rides the same LiveListenerBus, so an empty bus means every posted
  * execution event has been delivered too. */
object GraftMetricsHook {
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** The operation scope names of a stage's RDDs in RDD id order, such
    * as `Scan parquet`, `WholeStageCodegen (2)` or `Exchange` (the scope
    * type is private to Spark). */
  def scopeNames(info: scheduler.StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
