package org.apache.spark.sql

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Visibility shim for two package-private members the benchmark reads. */
object LakebenchBridge {
  /** Wait until the listener bus has delivered every pending event, so a
    * stage that completes just before an op ends is charged to that op
    * and not to the next one. */
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case NonFatal(_) => () }

  /** The query execution an execution-end event reports on (null when the
    * event did not come from `SQLExecution`). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
