package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached every listener, so a spec can read
  * a listener's tally without racing the asynchronous bus.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
