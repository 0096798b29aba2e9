package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every queued event,
  * so a trace read right after a call sees all of its jobs. The method
  * is private to Spark's package, hence this one-line bridge. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
