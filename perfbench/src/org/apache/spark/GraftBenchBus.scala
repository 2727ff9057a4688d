package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far. Listener events arrive asynchronously; the harness drains the
  * bus before it moves from one phase (check, run, verify) to the next,
  * so each event is counted in the phase that caused it. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
