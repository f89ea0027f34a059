package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark members the traced run needs, hence this
  * file's package: waiting for the asynchronous listener bus to drain
  * before reading what the listeners recorded, and the QueryExecution an
  * execution-end event carries, which pairs a QueryExecutionListener
  * callback with its execution id. */
object PerfbenchHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
