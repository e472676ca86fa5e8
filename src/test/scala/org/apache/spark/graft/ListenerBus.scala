package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: a spec that counts
  * events with a `SparkListener` drains the bus before reading its count. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
