package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark internals the tracer needs, reachable only from inside
  * `org.apache.spark.sql`: the listener bus (private[spark]) and the query
  * execution a SQL execution's end event carries (private[sql]). */
object Bridge {
  /** Block until every event posted so far has reached every listener, so
    * an op's jobs, SQL executions and stream progress are attributed before
    * the next op starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning time of the execution, in ms. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
