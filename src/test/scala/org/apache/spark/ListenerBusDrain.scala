package org.apache.spark

/** Blocks until every listener has seen every event posted so far, so a
  * spec reading `statusTracker` or its own listener sees every job that has
  * ended. The bus is package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
