package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Draining before an op's counters are read makes the task-end events
  * of that op's last jobs land on the op instead of on the next one.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
