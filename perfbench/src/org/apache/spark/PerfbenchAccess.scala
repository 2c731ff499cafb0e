package org.apache.spark

/** The one Spark-private call the benchmark's tracer needs: wait until
  * every listener queue has delivered its events, so a traced window's
  * counters are complete before they are read or the window closes.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
