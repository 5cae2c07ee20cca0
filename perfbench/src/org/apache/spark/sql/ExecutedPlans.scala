package org.apache.spark.sql

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The executed plan a SQL-execution-end event carries. The field is
  * package-private to Spark SQL, hence this file's package. */
object ExecutedPlans {
  def of(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] = Option(e.qe).map(_.executedPlan)
}
