package graft.streaming

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, CodegenStage}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.functions.{InstantFunctions, InstantSlot}
import graft.ops.{Hrfco, Thresholds}
import graft.sinks.{Destination, FusedWriter, Sinks}

/** Structured Streaming wiring of the same batch `ops` pipeline
  * (HRFCOStreamsApp.java:72-90 re-expressed):
  *
  *  - file source stands in for the kafka source (no broker in CI; with
  *    one, swap `readStream.schema(...).parquet` for
  *    `readStream.format("kafka")...` — everything downstream is
  *    identical because the transform is a pure DataFrame function);
  *  - the 10-minute reference cadence maps to
  *    Trigger.ProcessingTime("10 minutes"); tests use AvailableNow;
  *  - `maxFilesPerTrigger` is the file-source analogue of
  *    `maxOffsetsPerTrigger` backpressure;
  *  - foreachBatch does the K8 tri-sink fanout with per-sink failure →
  *    DLQ parquet (at-least-once, DLQ-not-fail: SURVEY.md §2.6). The
  *    parse-failure DLQ append and the archive, timeseries and raw writes
  *    are one [[FusedWriter]] job: a single pass over the micro-batch,
  *    run on the micro-batch thread, so it carries the batch's job group
  *    and `sql.streaming.queryId` and `stop()` cancels it. Each of the
  *    four keeps its own commit; a failed store is aborted on its own.
  *    The storage-failure DLQ append starts only after that job has
  *    committed (one parquet directory, one committer), and a failed
  *    parse-failure DLQ write still fails the batch;
  *  - each micro-batch takes one instant on the driver. It is the parse
  *    fallback time, the DLQ `timestamp` of both DLQ producers, the sinks'
  *    `created_at` and the archive's day, so the sinks of one batch agree.
  *    Generated code reads it by reference
  *    ([[graft.functions.BatchInstant]]), so a warm stream compiles no
  *    class per batch; a `current_timestamp()` compiles new source on
  *    every call;
  *  - the first batch of a query builds its write fresh and keeps its
  *    generated stage ([[WritePlan]]), and each later batch runs that
  *    stage over its own rows with its own instant; a write of any other
  *    shape is built fresh every batch;
  *  - the threshold dim is consulted once per batch — the streaming
  *    analogue of the reference's continuously-refreshed broadcast
  *    dimension — and reused as rows collected on the driver while the
  *    provider's plan and its input files are unchanged ([[DimSnapshot]]).
  */
object StreamingPipeline {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class SinkPaths(archive: String, timeseries: String, raw: String, dlq: String)

  def start(spark: SparkSession, sourceDir: String, dimSource: DataFrame,
            paths: SinkPaths, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Int = 10,
            wlMax: Double = Hrfco.WlMaxDefault): StreamingQuery = {
    val dim = Thresholds.fromEvents(dimSource)
    startWithDim(spark, sourceDir, () => dim, paths, checkpoint, trigger,
      maxFilesPerTrigger, wlMax)
  }

  /** Dimension-refresh liveness: the reference's station dim is upserted
    * by an independent 10-minute NiFi loop (HRFCO_Data_Pipeline.json
    * processors 1-8) while the stream keeps classifying — so the dim here
    * is a PROVIDER consulted once per micro-batch, not a frame captured at
    * start. Swapping the snapshot between triggers (S3's
    * refreshStationDim output) changes classification on the very next
    * batch with no stream restart, and so does rewriting the files a dim
    * reads; the constant-dim `start` overload is the degenerate provider. */
  def startWithDim(spark: SparkSession, sourceDir: String,
                   dimProvider: () => DataFrame,
                   paths: SinkPaths, checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow(),
                   maxFilesPerTrigger: Int = 10,
                   wlMax: Double = Hrfco.WlMaxDefault): StreamingQuery = {
    val raw = spark.readStream
      .schema(Tables.eventsRawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)

    val stream = Tables.normalizeEvents(raw)
    val dim = new DimSnapshot(spark, dimProvider)
    val plan = new WritePlan(paths, wlMax)

    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // T3 parse failures → DLQ only, so a record is either stored or
        // DLQ'd, never both (required-field failures, by contrast, are
        // silently dropped — the asymmetry). Both DLQ producers share one
        // envelope schema (camelCase + ts). One frame carries both
        // branches, and one pass writes it to all four destinations.
        val at = Instant.now() // the batch's one instant (see above)
        val join = dim()
        val failed = plan(batch, join, at)
        // a failed parse-failure DLQ write fails the batch; otherwise the
        // storage-failure append follows the committed pass: two appends
        // in flight on one parquet directory share the committer's
        // _temporary directory
        failed.find(_._1 == ParseDlq).foreach { case (_, e) => throw e }
        val (result, dlq) = Sinks.storageOutcome(plan.stored(batch, join, at), failed, at)
        dlq.foreach(_.write.mode("append").parquet(paths.dlq))
        if (!result.allOk)
          logger.warn(s"batch $batchId partial storage failure: ${result.failures}")
      }
      .start()
  }

  /** Name of the parse-failure DLQ destination. */
  private val ParseDlq = "dlq"

  /** The four destinations of a micro-batch's write of `routed`
    * ([[graft.ops.Hrfco.routedFromRaw]]) at the instant `at`: the
    * archive, timeseries and raw stores take the stored rows, the DLQ the
    * parse failures. */
  private[graft] def destinations(paths: SinkPaths, routed: DataFrame,
                                  at: Instant): Seq[Destination] = {
    val parseFailed = col(Hrfco.ParseFailedColumn)
    Sinks.storageDestinations(paths.archive, paths.timeseries, paths.raw, storedColumns(routed),
      at, stored = !parseFailed) :+
      Destination(ParseDlq, new ParquetFileFormat, paths.dlq, when(parseFailed,
        struct(Hrfco.parseFailureEnvelope(col("wlobscd"), InstantFunctions.batchMillis(at)): _*)))
  }

  private def storedColumns(routed: DataFrame): Seq[String] =
    routed.columns.toSeq.filter(_ != Hrfco.ParseFailedColumn)

  /** The write of every micro-batch of one query, planned and generated
    * once where it is one generated stage.
    *
    * A poll batch is small, so its cost is mostly fixed per-batch work:
    * analyzing [[graft.ops.Hrfco.routedFromRaw]] over the batch and the
    * write's projection on top took 72–83 ms of a warm 500-row batch
    * (medians of 50 batches, `local[4]`), and optimizing, planning and
    * generating its code about 100 ms more. Yet the plan differs from
    * batch to batch only in its source and its instant.
    *
    * The first batch builds its write fresh, as
    * [[graft.sinks.FusedWriter.write]] builds any frame, and runs it. When
    * its executed plan is one whole-stage-codegen stage over the batch's
    * rows (a `foreachBatch` batch is an existing RDD), the plan keeps the
    * stage's generated source and references
    * ([[org.apache.spark.sql.graft.CodegenStage]]), the frame's execution
    * and its destinations. Each later batch runs that stage over its own
    * RDD, with the instant slots among the references moved to its
    * instant ([[graft.functions.InstantSlot]]): no analyzer or optimizer
    * rule, no planner and no code generation. Any batch that cannot use a
    * kept stage (a dim joined by broadcast, as a repeated station is; a
    * changed dim join; a batch that is not an RDD) is built fresh and
    * planned. Either way the rows go through the one
    * [[graft.sinks.FusedWriter]] core. The SQL metrics of a kept stage
    * are those of its first batch's plan and add up over the batches. The
    * stored-row frame a failed store sends to the DLQ is built fresh, and
    * only then ([[stored]]).
    *
    * The stage is kept for the batch schema and the dim join it was built
    * with. [[DimSnapshot]] hands back the same join while its dim is
    * unchanged; a dim it cannot fingerprint gives a new join, and so a
    * fresh build, every batch. */
  private[graft] final class WritePlan(paths: SinkPaths, wlMax: Double) {
    private var kept: Option[Kept] = None

    /** Write `batch`, joined to the dim by `join`, at the instant `at` to
      * every destination in one job; returns each failed destination with
      * its error, as [[graft.sinks.FusedWriter.write]] does. */
    def apply(batch: DataFrame, join: DataFrame => DataFrame,
              at: Instant): Seq[(String, Throwable)] =
      (kept.filter(k => (k.join eq join) && k.schema == batch.schema),
        batch.queryExecution.analyzed) match {
        case (Some(k), input: LogicalRDD) =>
          FusedWriter.writeRows(k.qe, k.destinations)(
            k.stage.over(input.rdd, InstantSlot.at(k.stage.references, at)))
        case (_, input) =>
          val frame = routed(batch, join, at)
          val writeTo = destinations(paths, frame, at)
          val qe = FusedWriter.project(frame, writeTo).queryExecution
          FusedWriter.writeRows(qe, writeTo) {
            val stage = input match {
              case rows: LogicalRDD =>
                Bridge.codegenStage(qe.executedPlan).filter(_._2 eq rows.rdd)
              case _ => None
            }
            kept = stage.map { case (s, _) => Kept(batch.schema, join, s, qe, writeTo) }
            stage.fold(qe.toRdd) { case (s, rdd) => s.over(rdd) }
          }
      }

    /** The stored rows of `batch`, the ones a failed store sends to the
      * DLQ. */
    def stored(batch: DataFrame, join: DataFrame => DataFrame, at: Instant): DataFrame = {
      val frame = routed(batch, join, at)
      frame.filter(!col(Hrfco.ParseFailedColumn)).select(storedColumns(frame).map(col): _*)
    }

    private def routed(batch: DataFrame, join: DataFrame => DataFrame, at: Instant): DataFrame =
      Hrfco.routedFromRaw(Hrfco.rawObservations(batch), join,
        tsFallback = InstantFunctions.batchTimestamp(at), wlMax = wlMax)
  }

  /** A stage generated for the write of a batch of `schema` joined by
    * `join`, and the execution and destinations of the frame it was
    * generated for. */
  private final case class Kept(schema: StructType, join: DataFrame => DataFrame,
                                stage: CodegenStage, qe: QueryExecution,
                                destinations: Seq[Destination])

  /** The threshold dim as the batches of one query see it. Each batch
    * consults `provider`; the first dim it returns is collected on the
    * driver, and later batches reuse those rows while two things hold:
    * the provider's frame has the same canonicalized, deterministic plan,
    * and the files under it have the same (path, length, modification
    * time) listing, the one [[graft.Tables.parquet]] keys its schema memo
    * by. So a swapped provider frame, or a rewritten dim file,
    * reclassifies on the very next batch, while an unchanged dim costs no
    * job after the first batch. The collected rows are probed by a hash
    * lookup inside the write's stage ([[graft.ops.Hrfco.lookupDim]]): a
    * broadcast of them, even from a local relation, would be a job and an
    * adaptive re-plan on every batch. Rows that repeat a station, which a
    * join would match twice, are joined as a local relation instead. A
    * dim read from anything but files and local rows (an RDD, a table of
    * another source) cannot be fingerprinted and is derived and joined
    * again on every batch. A file rewritten in place with the same length
    * and modification time is the one change the listing cannot see.
    *
    * The memo lives in one streaming query: batch callers of
    * [[graft.ops.Thresholds.fromEvents]] never see it. Batches of one
    * query run one at a time, so it needs no lock. */
  private final class DimSnapshot(spark: SparkSession, provider: () => DataFrame) {
    private var held: Option[((LogicalPlan, Seq[(String, Long, Long)]), DataFrame => DataFrame)] =
      None

    /** How this batch joins the dim: see [[graft.ops.Hrfco.joinDim]] and
      * [[graft.ops.Hrfco.lookupDim]]. */
    def apply(): DataFrame => DataFrame = {
      val dim = provider()
      val plan = dim.queryExecution.analyzed
      val roots = plan.collectLeaves().map {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => Some(fs.location.rootPaths)
          case _ => None
        }
        case _: LocalRelation => Some(Nil)
        case _ => None
      }
      if (!plan.deterministic || roots.contains(None)) {
        held = None
        Hrfco.joinDim(dim)
      } else {
        val key = (plan.canonicalized,
          roots.flatten.flatten.flatMap(p => Tables.listing(spark, p.toString)))
        held.collect { case (`key`, join) => join }.getOrElse {
          val rows = dim.collect().toSeq
          val join = Hrfco.lookupDim(rows, dim.schema).getOrElse(
            Hrfco.joinDim(spark.createDataFrame(rows.asJava, dim.schema)))
          held = Some(key -> join)
          join
        }
      }
    }
  }
}
