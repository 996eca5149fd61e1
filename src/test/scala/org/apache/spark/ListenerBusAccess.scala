package org.apache.spark

/** Test access to the driver's listener bus, whose events (and so the
  * status tracker's job states) land asynchronously.
  */
object ListenerBusAccess {
  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
