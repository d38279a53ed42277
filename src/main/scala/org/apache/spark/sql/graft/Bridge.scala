package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Expression↔Column bridge. ExpressionUtils is private[sql], so the
  * conversion lives in the sql package namespace — the standard idiom for
  * Spark-native extension libraries shipping custom expressions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** True when the session's cache manager holds no cached plans — lets
    * tests assert that scoped caches (Dedup.withScopedCache) are released
    * without reaching into private[sql] state themselves. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Block until the shared listener bus has delivered every queued event
    * (QueryExecutionListener callbacks ride this bus). Two callers need the
    * barrier: Dedup.withScopedCache, so a just-finished materialization
    * action's end-event cannot be delivered to a release listener
    * registered after it; and graft.Bench, so one query's async cache
    * release cannot land in the middle of the next query's timed run.
    * `listenerBus` is private[spark], hence this lives under the
    * org.apache.spark namespace with the rest of the bridge. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession,
                       timeoutMillis: Long = 30000): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException => () } // best-effort barrier

  /** Ask the driver's output commit coordinator whether the running task
    * attempt may commit its partition's output, as
    * `SparkHadoopMapRedUtil.commitTask` does before each commit, and throw
    * Spark's `CommitDeniedException` if not. The coordinator answers one
    * request per task partition and stage, so a task that commits several
    * outputs (graft.sinks.FusedWriter) asks once for all of them. The
    * coordinator is private[spark]. */
  def authorizeTaskCommit(): Unit = {
    val env = org.apache.spark.SparkEnv.get
    if (env.conf.getBoolean("spark.hadoop.outputCommitCoordination.enabled", defaultValue = true)) {
      val ctx = org.apache.spark.TaskContext.get()
      if (!env.outputCommitCoordinator.canCommit(ctx.stageId(), ctx.stageAttemptNumber(),
          ctx.partitionId(), ctx.attemptNumber()))
        throw new org.apache.spark.executor.CommitDeniedException(
          s"task ${ctx.taskAttemptId()}: not committed because the driver did not authorize commit",
          ctx.stageId(), ctx.partitionId(), ctx.attemptNumber())
    }
  }

  /** `plan` as a DataFrame, analyzed as any new frame is. The classic
    * `Dataset` object, which holds `ofRows`, is private[sql]. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `plan`, which must already be resolved, as a DataFrame on which the
    * analyzer runs no rule: the plan is marked analyzed
    * (`AnalysisHelper.setAnalyzed`, private[sql]), and
    * `Analyzer.executeAndCheck` returns a marked plan as it is. For a plan
    * made from an analyzed one by substitutions that keep every reference
    * resolved, as graft.streaming.StreamingPipeline rebinds one analyzed
    * write plan to each micro-batch. */
  def analyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }
}
