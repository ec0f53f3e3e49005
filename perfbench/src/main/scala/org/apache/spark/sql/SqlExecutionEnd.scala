package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end event's duration and query execution are package-private,
  * hence this file's package.
  */
object SqlExecutionEnd {
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
