package org.apache.spark

/** Blocks until every event posted so far has reached every listener
  * (the bus is `private[spark]`), so a test can read a listener's
  * counts right after the call that ran the jobs. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
