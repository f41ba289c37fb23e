package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously, so a counter read right
  * after an action can miss that action's last task and stage events.
  * `waitUntilEmpty` is `private[spark]`; this accessor lives in a Spark
  * package so the benchmark can call it at every span boundary. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
