package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.{CommandExecutionMode, QueryExecution, SQLExecution}

/** Spark internals the traced run needs; the package reaches the
  * private[spark] listener bus and the classic DataFrameWriter's
  * command.
  */
object PerfBenchShim {
  /** Block until every queued listener event has been delivered, so
    * that the tasks and jobs of a query are counted before its row
    * is closed. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The noop-sink write of `df`, split in two steps. `df.write.save()`
    * analyses its write command in one QueryExecution and then plans
    * and runs it in a second, NON_ROOT one; this builds that second
    * QueryExecution the same way and forces its physical plan, which
    * runs the optimizer, the graft.plans rules and the planner on the
    * plan the write will execute. */
  def planNoopWrite(df: DataFrame): QueryExecution = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val writer = df.write.format("noop").mode("overwrite").asInstanceOf[classic.DataFrameWriter[Row]]
    val analyzed = session.sessionState
      .executePlan(writer.saveCommand(None), CommandExecutionMode.SKIP).analyzed
    val qe = new QueryExecution(session, analyzed, mode = CommandExecutionMode.NON_ROOT,
      shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(session.sessionState.conf))
    qe.executedPlan
    qe
  }

  /** Run a write planned by `planNoopWrite`, as the eager command
    * execution of `save()` does. */
  def runWrite(qe: QueryExecution): Unit =
    SQLExecution.withNewExecutionId(qe, Some("save")) { qe.executedPlan.executeCollect() }: Unit
}
