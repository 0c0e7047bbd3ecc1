package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously. Draining the bus after an op
  * makes every event of that op visible before the next op starts;
  * `listenerBus` is `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
