package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so a
  * listener's counters are complete when an operation's trace is read.
  * `listenerBus` is `private[spark]`, hence this one object inside the
  * `org.apache.spark` namespace. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
