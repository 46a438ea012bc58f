package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private. */
object ListenerBusDrain {
  /** Block until every posted event has reached the listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
