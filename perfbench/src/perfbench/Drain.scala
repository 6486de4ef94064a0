package org.apache.spark

/** Blocks until every listener has seen every event posted so far, so
  * counters read after a pass cover the whole pass. The bus itself is
  * package-private; this is the only non-public call the benchmark makes. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
