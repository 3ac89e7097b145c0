package org.apache.spark

/** Test access to the listener bus: `waitUntilEmpty` is spark-private.
  * After it returns, every listener has seen every event posted before
  * the call — so a spec can assert on listener-fed state (including
  * `statusTracker`) without polling.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
