package org.apache.spark

/** The listener bus is private[spark]; the traced run must drain it before
  * reading what its listeners saw, or the last jobs of a pass go missing,
  * and the live-heap figure must drain it so queued events do not count. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
