package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to the listener bus: listener events arrive
  * asynchronously, so a test that counts Spark jobs drains the bus
  * before reading its count. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
