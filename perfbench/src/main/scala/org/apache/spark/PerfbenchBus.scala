package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run reads complete per-operation totals. The bus is private
  * to the `org.apache.spark` package, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
