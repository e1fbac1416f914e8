package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: wait until every
  * posted event has reached the listeners, so a spec's job count is
  * exact rather than racing the asynchronous bus.
  */
object ListenerTestBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
