package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so
  * a spec counts a body's jobs and SQL executions without polling. Lives
  * in Spark's package to reach the `private[spark]` listener bus.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
