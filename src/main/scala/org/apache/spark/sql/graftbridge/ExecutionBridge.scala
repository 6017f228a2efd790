package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `private[sql]` fields of a SQL execution's end event, the ones a
  * session's QueryExecutionListeners are fed from. */
object ExecutionBridge {
  /** The action name (e.g. "collect", "localCheckpoint") and the query
    * execution of an action that ended without an error. */
  def succeeded(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution)] =
    e.executionName.filter(_ => e.qe != null && e.executionFailure.isEmpty).map(_ -> e.qe)
}
