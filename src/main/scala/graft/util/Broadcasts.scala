package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper,
  BroadcastQueryStageExec}
import org.apache.spark.sql.graft.GraftSqlShims

/** Collects a query's rows and then frees the broadcast relations the
  * query built, so they do not outlive the command that ran it.
  *
  *  - A broadcast hash join leaves its relation in the block manager
  *    until the context cleaner notices the plan is gone, which takes a
  *    GC and a cleaner pass after the command returns.
  *  - A string-keyed relation holds a whole memory page (16 MiB on a
  *    3 GiB, 4-core driver), however few rows it has. The derived
  *    tables of one export or refresh build dozens of them, and when
  *    their collects finish together they stay pinned for as long as
  *    that GC and pass take.
  *  - Destroying them once the rows are in hand bounds the driver heap
  *    after a command by what the command returns.
  *
  * Only the adaptive plan's materialized broadcast stages are freed:
  * the rows are collected by then, and no other query shares them. The
  * Dataset itself must not be run again, since its plan keeps the
  * destroyed broadcasts; a Dataset derived from it plans its own. */
object Broadcasts extends AdaptiveSparkPlanHelper {

  def collect[T](ds: Dataset[T]): Array[T] = {
    val rows = ds.collect()
    val plan = ds.queryExecution.executedPlan
    // the stage cache also holds stages that a re-optimization dropped
    // from the final plan
    val cached = plan match {
      case a: AdaptiveSparkPlanExec => a.context.stageCache.values.toSeq
      case _ => Nil
    }
    (cached ++ collectWithSubqueries(plan) { case s: BroadcastQueryStageExec => s }).collect {
      case s: BroadcastQueryStageExec if s.isMaterialized => s.broadcast.relationFuture.get()
    }.distinctBy(_.id).foreach(GraftSqlShims.destroyNow)
    rows
  }
}
