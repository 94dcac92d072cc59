package org.apache.spark

/** Test hook for SparkContext's package-private listener bus. */
object ListenerDrain {
  /** Block until every posted listener event has been delivered, so a
    * listener's job counts are complete when a test reads them. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
