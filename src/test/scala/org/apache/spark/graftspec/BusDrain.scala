package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously, so a counter read right
  * after an action can miss that action's events. `waitUntilEmpty` is
  * `private[spark]`; this accessor lives in a Spark package so the specs
  * can drain the bus before reading a listener. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
