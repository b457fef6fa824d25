package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: blocks until every event
  * posted so far has been delivered to the listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
