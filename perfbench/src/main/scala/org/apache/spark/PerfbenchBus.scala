package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The harness reads its listener's records only after every event of
  * the measured calls has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
