package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the fields Spark attaches to a local SQL execution-end event,
  * which it keeps package-private.
  */
object BenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def actionName(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName
}
