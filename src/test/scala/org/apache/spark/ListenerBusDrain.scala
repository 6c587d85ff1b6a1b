package org.apache.spark

/** Test helper: block until every event already posted to the driver's
  * listener bus has been delivered, so a listener's counts are final. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
