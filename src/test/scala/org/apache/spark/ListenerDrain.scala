package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: block until every posted event has reached the
  * registered listeners, so a spec can count jobs and tasks exactly.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
