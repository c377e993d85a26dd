package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. The listener bus is
  * private[spark] and delivers events asynchronously, so it is drained
  * before the listener is added and again before the count is read. */
object TestJobs {
  def during[A](sc: SparkContext)(body: => A): (A, Int) = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
