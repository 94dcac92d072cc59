package org.apache.spark

/** Package-private hooks the benchmark needs from SparkContext. */
object BenchAccess {
  /** Block until every posted listener event has been delivered, so a
    * traced call's jobs, stages and tasks are all recorded before the trace
    * is read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
