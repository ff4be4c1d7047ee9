package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it so that
  * every task and job event of a finished action has been delivered
  * before its counters are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
