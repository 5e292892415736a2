package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one AQE-aware walker for EXECUTED plans — shared by every gate
  * and spec that reads executed-plan scan metrics, so the two AQE
  * gotchas are encoded exactly once: the adaptive root's final plan
  * lives behind `AdaptiveSparkPlanExec.executedPlan`, and AQE CLONES
  * stage plans — the nodes that actually ran sit behind
  * `QueryStageExec.plan`, which `children` never reaches. (Metrics are
  * only populated on a plan whose OWN QueryExecution was executed —
  * `collect()` the same frame, not a derived `count()`.) */
object PlanWalk {

  /** Every node of the executed plan, stages descended. */
  def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
    case qs: QueryStageExec => qs +: executedNodes(qs.plan)
    case other => other +: other.children.flatMap(executedNodes)
  }

  /** The executed plan's file scans (the nodes carrying `numFiles` /
    * `staticFilesNum` and the pushed-filter evidence). */
  def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    executedNodes(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }

  /** The executed plan's DSv2 scans (every snapshot-table read, SQL
    * and programmatic) — same AQE discipline as [[fileScans]]. */
  def batchScans(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
    executedNodes(df.queryExecution.executedPlan)
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }

  /** How many files each snapshot scan in the executed plan reads:
    * manifest pruning at planning, then any runtime filter. */
  def keptFiles(df: DataFrame): Seq[Int] =
    batchScans(df).map(_.scan).collect { case g: graft.catalog.GraftScan => g.keptFileCount }
}
