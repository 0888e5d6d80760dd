package org.apache.spark

/** Test access to the listener bus: listener callbacks (and the status
  * store behind `statusTracker`) run asynchronously, so a spec asserting
  * on them drains the bus first. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
