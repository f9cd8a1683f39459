package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end-of-execution event carries the finished query's plan, whose SQL
  * metrics are final by then. The field is package-private to Spark SQL,
  * hence this package. */
object SqlExecutionEnd {
  def plan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] = Option(e.qe).map(_.executedPlan)
}
