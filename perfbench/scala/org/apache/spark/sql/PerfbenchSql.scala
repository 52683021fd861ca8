package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution a successful SQL execution-end event carries. The
  * fields are package-private to Spark, hence this bridge. Reading the
  * query from the event ties its plan and metrics to the SQL execution id,
  * which `QueryExecution.id` is not.
  */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe).filter(_ => e.executionFailure.isEmpty)
}
