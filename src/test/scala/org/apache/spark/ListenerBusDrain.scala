package org.apache.spark

/** Test bridge into `private[spark]` `LiveListenerBus.waitUntilEmpty`:
  * listener events (jobs, SQL executions) are delivered asynchronously,
  * so a suite that counts them must wait for the bus to drain first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
