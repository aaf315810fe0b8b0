package org.apache.spark

/** Drains Spark's listener bus, so that counts read after a phase include
  * every event the phase posted.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
