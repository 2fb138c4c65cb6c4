package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The finished query's plan rides on the execution-end event behind a
  * package-private field; span attribution of plan metrics reads it here.
  */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe).filter(_ => e.executionFailure.isEmpty)
}
