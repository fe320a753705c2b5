package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the traced run needs: draining the
  * listener bus, so counters read after an action include every event it
  * posted, and the QueryExecution and name an execution-end event carries.
  * The event ties the QueryExecution to its execution id; a
  * QueryExecutionListener callback gets the QueryExecution without it.
  */
object Events {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  def name(e: SparkListenerSQLExecutionEnd): String = e.executionName.getOrElse("?")
}
