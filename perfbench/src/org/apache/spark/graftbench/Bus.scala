package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: counters read right after an
  * action must include every event that action posted.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
