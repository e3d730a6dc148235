package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two reads Spark keeps package-private, for the benchmark's tracer:
  * waiting for Spark's listener bus to deliver every posted event,
  * and the query execution an execution-end event carries. */
object BenchShim {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
