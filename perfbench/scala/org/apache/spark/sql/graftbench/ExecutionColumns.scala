package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Shim into the `private[sql]` query execution an execution-end event
  * carries: every column name its analyzed plan produces, so the trace can
  * name a SQL execution by what it computes. */
object ExecutionColumns {
  def apply(e: SparkListenerSQLExecutionEnd): List[String] =
    Option(e.qe).toList
      .flatMap(_.analyzed.collect { case p => p.output.map(_.name) }.flatten)
      .distinct
}
