package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Lives in Spark's package to reach two package-private handles the
  * tracer needs: the listener bus (traced figures are read only after
  * every posted event has been delivered) and the query execution an
  * SQL-execution-end event carries (it ties the execution id the jobs
  * report to the plan a QueryExecutionListener saw). */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
