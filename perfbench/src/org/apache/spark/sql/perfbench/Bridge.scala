package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer reads: the QueryExecution carried by
  * an execution-end event (its planning tracker and executed plan), and a
  * drain of the listener bus so a segment's tallies are complete.
  */
object Bridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  /** Rows out of an executed plan: the top-most operator that counts them. */
  def outputRows(qe: QueryExecution): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => p.metrics.get("numOutputRows").map(_.value)
        .getOrElse(p.children.headOption.map(walk).getOrElse(0L))
    }
    try walk(qe.executedPlan) catch { case _: Exception => 0L }
  }

  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
