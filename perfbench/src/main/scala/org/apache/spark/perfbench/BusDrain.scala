package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; the benchmark
  * reads its ledgers only after every queue has caught up. The bus is
  * package-private, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
