package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced phase is summarised only after its last task-end has arrived.
  * The bus is package-private; this is the benchmark's only reach inside.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
