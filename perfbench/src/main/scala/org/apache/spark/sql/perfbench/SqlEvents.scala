package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the query execution an SQL-execution-end event carries (a
  * Spark-internal field), so the planning phases a QueryExecutionListener
  * records can be joined to the jobs of that execution. */
object SqlEvents {
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
