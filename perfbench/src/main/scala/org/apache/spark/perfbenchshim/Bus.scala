package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Posts an event onto the context's listener bus (package-private in
  * Spark). Events are delivered to each listener queue in post order,
  * so a marker posted after an action returns reaches a listener only
  * after every event that action posted. */
object Bus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
