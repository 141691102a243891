package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run can close an op's spans knowing all of its job, task and
  * query-execution events have arrived. The bus is Spark-internal, hence
  * this one accessor in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
