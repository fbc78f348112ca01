package org.apache.spark

/** Test access to engine internals: listener events are delivered
  * asynchronously, so a spec that counts them drains the bus first.
  */
object GraftTestAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
