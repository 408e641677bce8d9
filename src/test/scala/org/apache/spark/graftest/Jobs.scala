package org.apache.spark.graftest

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block launches. The listener bus is drained
  * before and after the block, so every job the block started has been
  * delivered and none from earlier work leaks in. Lives under
  * `org.apache.spark` because `SparkContext.listenerBus` is `private[spark]`.
  */
object Jobs {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
