package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries, which Spark keeps
  * package-private: it holds the phase timings and the final plan. */
object SqlEnd {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
