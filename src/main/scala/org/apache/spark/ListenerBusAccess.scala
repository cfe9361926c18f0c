package org.apache.spark

/** Access to the package-private listener bus. */
object ListenerBusAccess {

  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
