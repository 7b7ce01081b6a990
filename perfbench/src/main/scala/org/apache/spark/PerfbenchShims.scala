package org.apache.spark

/** Access to the one `private[spark]` call the benchmark needs: waiting
  * until every queued listener event has been delivered, so counters read
  * after a layer call include all of that call's tasks. */
object PerfbenchShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
