package org.apache.spark

/** Bridge into `private[spark]` `LiveListenerBus.waitUntilEmpty`:
  * listener events (jobs, tasks, SQL executions) are delivered
  * asynchronously, so code that reads them — a suite counting jobs, the
  * sink waiting on a failed write's tasks through `SparkStatusTracker` —
  * must wait for the bus to drain first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
