package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * counter read right after an action already includes that action's jobs,
  * stages and tasks. The bus is private to the spark package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
