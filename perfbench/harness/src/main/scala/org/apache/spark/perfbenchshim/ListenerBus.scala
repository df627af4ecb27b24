package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the tracer needs it
  * to read its listeners' state only after every event was delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
