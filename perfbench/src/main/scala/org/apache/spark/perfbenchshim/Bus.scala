package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The traced run drains after each step so listener counters can be
  * attributed to the step that produced them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
