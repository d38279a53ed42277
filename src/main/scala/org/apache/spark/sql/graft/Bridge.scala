package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{InputAdapter, RDDScanExec, SparkPlan,
  WholeStageCodegenEvaluatorFactory, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.SQLMetric

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

  /** The generated stage of `plan` and the RDD it reads, when `plan` is
    * one whole-stage-codegen stage whose only leaf is a scan of an
    * existing RDD and which has no subquery. This is the first half of
    * `WholeStageCodegenExec.doExecute`: it generates the stage's source
    * and compiles it (a hit in the codegen cache once compiled). None for
    * any other plan, and for a stage that does not compile or has a method
    * over `spark.sql.codegen.hugeMethodLimit`, which Spark runs without
    * codegen. */
  def codegenStage(plan: SparkPlan): Option[(CodegenStage, RDD[InternalRow])] = plan match {
    case stage: WholeStageCodegenExec
        if stage.subqueriesAll.isEmpty && !stage.exists(_.isInstanceOf[InputAdapter]) =>
      stage.collectLeaves() match {
        case Seq(scan: RDDScanExec) =>
          val (ctx, source) = stage.doCodeGen()
          val fits = try CodeGenerator.compile(source)._2.maxMethodCodeSize <=
            stage.conf.hugeMethodLimit catch { case NonFatal(_) => false }
          if (!fits) None
          else Some(new CodegenStage(stage.tryBroadcastCleanedSource(source),
            stage.longMetric("pipelineTime"),
            ctx.references.toArray) -> scan.rdd)
        case _ => None
      }
    case _ => None
  }
}

/** A whole-stage-codegen stage generated once ([[Bridge.codegenStage]]),
  * to be run over any RDD of the rows its scan read: the second half of
  * `WholeStageCodegenExec.doExecute`. Each task builds the stage's
  * iterator from the compiled class and `references`, the objects its
  * generated code reads (metrics, lookup tables, expressions). */
final class CodegenStage private[graft] (
    source: Either[Broadcast[CodeAndComment], CodeAndComment],
    pipelineTime: SQLMetric,
    val references: Array[Any]) {

  /** The stage's output over `input`, with `refs` in place of its
    * references: the same objects, or some moved to another batch. */
  def over(input: RDD[InternalRow], refs: Array[Any] = references): RDD[InternalRow] = {
    val factory = new WholeStageCodegenEvaluatorFactory(source, pipelineTime, refs)
    input.mapPartitionsWithIndex((i, rows) => factory.createEvaluator().eval(i, rows))
  }
}
