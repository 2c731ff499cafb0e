package org.apache.spark

/** Test access to the package-private listener bus: block until every
  * posted event (job, SQL execution, query-listener) is delivered.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
