package org.apache.spark

/** The live listener bus is package-private; the benchmark drains it so
  * every job, task and SQL event of a traced pass is delivered before the
  * span figures are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
