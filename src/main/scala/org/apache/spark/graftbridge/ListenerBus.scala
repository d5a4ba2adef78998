package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: listener events are posted
  * asynchronously, so a reader of listener state drains the bus first.
  * Throws a `TimeoutException` if the queues are not empty within 30 s. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
