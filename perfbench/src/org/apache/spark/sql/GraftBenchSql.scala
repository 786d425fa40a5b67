package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an SQL execution-end event carries — the one
  * Spark hands to every QueryExecutionListener — is package-private to
  * Spark SQL; the trace reads its planning phases by execution id. */
object GraftBenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
