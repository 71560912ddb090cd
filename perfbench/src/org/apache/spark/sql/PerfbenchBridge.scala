package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private hooks tracing needs: the listener bus's drain
  * (read counters only after every event was delivered) and the query
  * execution an execution-end event carries (its id is the SQL execution
  * id that jobs name, which `QueryExecution.id` is not). */
object PerfbenchBridge {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
