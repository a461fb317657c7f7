package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered (the bus and its `waitUntilEmpty` are `private[spark]`), so
  * the benchmark's listeners have seen a phase's jobs, tasks, queries and
  * micro-batches before their totals are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
