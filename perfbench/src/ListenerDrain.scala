package org.apache.spark

/** Blocks until every queued listener event has been delivered. Spark
  * delivers listener events asynchronously, so a pass's job, stage and
  * stream-progress records are complete only after this returns. The bus
  * is package-private to Spark, hence this shim's package. */
object PerfbenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
