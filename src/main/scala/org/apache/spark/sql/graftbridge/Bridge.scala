package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ⇄ Column bridge. Spark 4's unified Column API hides the
  * classic `ExpressionUtils` behind `private[sql]`; custom Catalyst
  * expressions (graft.functions.*) still need to surface as `Column`s.
  * Living under `org.apache.spark.sql` grants that access — the one
  * package-private reach-in in this codebase, kept to two one-liners.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on a live session (sessionState is
    * likewise private[sql]). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Column → catalyst Expression via the SESSION converter — unlike
    * [[expression]] (lazy ColumnNodeExpression wrapper) this yields
    * real catalyst nodes (e.g. a proper SortOrder for `.desc`), which
    * custom logical operators need since the analyzer only unwraps the
    * lazy form inside built-in nodes. */
  def sessionExpression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]) — how custom logical operators enter the Column
    * API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Count a file the running task wrote in its output metrics, as
    * Spark's own file writers do (the setters are private[spark]); a
    * no-op outside a task. */
  def addTaskOutput(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { t =>
      val m = t.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }

  /** Block until the listener bus has delivered all queued events —
    * lets tests COUNT Spark jobs via a SparkListener deterministically
    * (event delivery is asynchronous; listenerBus is private[spark]). */
  def flushListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The Hadoop configuration a parquet scan's reader factory already
    * ships to its tasks (its broadcast holder is private[spark]) — so
    * a reader that opens side files with it ships no conf of its own. */
  def hadoopConfOf(f: org.apache.spark.sql.connector.read.PartitionReaderFactory)
      : Option[org.apache.hadoop.conf.Configuration] = f match {
    case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory =>
      Some(p.broadcastedConf.value.value)
    case _ => None
  }

  /** Re-flag a batch DataFrame as STREAMING — what a V1
    * [[org.apache.spark.sql.execution.streaming.Source]]'s `getBatch`
    * must return (MicroBatchExecution asserts `isStreaming` on the
    * plan it splices in; `internalCreateDataFrame` is private[sql]).
    * The batch plan executes exactly as built — only the flag moves. */
  def asStreaming(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** The inverse of [[asStreaming]]: a V1 Sink's `addBatch` receives a
    * streaming-flagged frame that refuses `.write`; re-wrapping its
    * physical rows drops the flag without copying data. */
  def asBatch(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)

  /** Idempotently add a planner strategy on a live session (the
    * build-time path is GraftExtensions.injectPlannerStrategy). */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy)) {
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Idempotently add an optimizer rule on a live session — lands in
    * the optimizer's final "User Provided Optimizers" batch, i.e. the
    * rewritten plan is what physical planning (and V1 filter pushdown,
    * which reads Filters above the relation at PLANNING time) sees. */
  def addOptimizerRule(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule)) {
      exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }
}
