package org.apache.spark

/** Test access to the (private[spark]) listener bus: returns once every
  * event posted so far has reached its listeners, so a listener's counts
  * are complete when a test reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
