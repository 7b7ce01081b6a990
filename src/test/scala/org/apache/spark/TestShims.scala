package org.apache.spark

/** The one `private[spark]` call the specs need: wait until every queued
  * listener event has been delivered, so a listener read after an action
  * has seen all of that action's jobs. */
object TestShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
