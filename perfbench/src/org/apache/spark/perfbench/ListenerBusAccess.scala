package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers task events asynchronously; per-stage numbers
  * are read only after it has drained. `listenerBus` is `private[spark]`,
  * hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
