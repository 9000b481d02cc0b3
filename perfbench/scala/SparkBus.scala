package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Package-private access the benchmark needs: the listener bus delivers
  * events asynchronously, so per-layer counters are read only after it has
  * drained.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
