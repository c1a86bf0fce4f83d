package org.apache.spark

/** Reaches the `private[spark]` listener-bus drain. Listener callbacks
  * (SQL executions, jobs, tasks, streaming progress) arrive
  * asynchronously; the benchmark drains the bus at the end of a pass,
  * outside its timed region, before it reads what the listeners saw.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
