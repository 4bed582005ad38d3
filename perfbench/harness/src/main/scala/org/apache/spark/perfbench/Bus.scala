package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * a traced op's jobs, tasks and query executions are all attributed to it
  * before the next op starts. The bus is Spark-private; this shim only
  * reads it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
