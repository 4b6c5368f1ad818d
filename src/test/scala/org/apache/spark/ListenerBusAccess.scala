package org.apache.spark

/** Test access to the `private[spark]` listener bus: Spark delivers
  * listener events asynchronously, so a listener's counters are exact
  * only after every event posted so far has been delivered.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
