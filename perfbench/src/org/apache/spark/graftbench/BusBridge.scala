package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * Listener events are delivered asynchronously; a span's task metrics are
  * complete only after the bus has delivered every event posted so far. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
