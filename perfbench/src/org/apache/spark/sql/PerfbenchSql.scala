package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Links a finished SQL execution id (what jobs carry) to the id of its
  * QueryExecution (what a QueryExecutionListener sees). The end event's
  * query execution is internal to Spark SQL, hence this accessor in
  * Spark SQL's package. */
object PerfbenchSql {
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
