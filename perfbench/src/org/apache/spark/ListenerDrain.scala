package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced round's counters are complete before they are read. The
  * listener bus is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Posts a benchmark marker event on the listener bus. The shared queue
  * delivers events in posting order, so a listener on that queue sees
  * every job, task and SQL execution after the marker that preceded it.
  */
object ListenerPost {
  def apply(sc: SparkContext, event: scheduler.SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
