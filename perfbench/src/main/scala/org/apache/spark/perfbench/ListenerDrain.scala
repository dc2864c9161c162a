package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Deterministic drain of Spark's listener bus. Listener events are
  * delivered on a separate thread, so counts read right after an action can
  * miss its last events; `waitUntilEmpty` blocks until every posted event
  * has been handled. It is `private[spark]`, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
