package org.apache.spark

/** Drains Spark's listener bus so every event of a finished op has reached
  * the harness listeners before the op's numbers are read. The bus is
  * package-private, hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
