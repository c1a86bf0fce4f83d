package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener-bus drain, so a spec can read
  * what a SparkListener saw once every event posted so far is delivered
  * (listener callbacks arrive asynchronously). */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
