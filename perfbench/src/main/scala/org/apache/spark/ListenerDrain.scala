package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * benchmark reads complete job and task metrics. (`listenerBus` is
  * package-private to Spark.) */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
