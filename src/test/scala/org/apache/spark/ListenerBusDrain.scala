package org.apache.spark

/** Listeners run on the listener bus's thread, after the action that
  * fed them returns; a spec that reads what a listener saw drains the
  * bus first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
