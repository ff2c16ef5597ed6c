package org.apache.spark

/** Test access to the listener bus: specs that read listener events
  * wait for every posted event to be delivered first. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
