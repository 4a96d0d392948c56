package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener has seen every posted event, so counters read after an
  * operation belong to that operation.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
