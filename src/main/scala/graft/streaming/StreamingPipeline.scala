package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.functions.InstantFunctions
import graft.ops.{Hrfco, Thresholds}
import graft.sinks.Sinks

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
  *    parse-failure DLQ append and the fanout's archive, timeseries and
  *    raw writes all run at the same time, on fresh threads that inherit
  *    the micro-batch's Spark local properties (job group,
  *    `sql.streaming.queryId`), so `stop()` still cancels every sink job.
  *    The storage-failure DLQ append starts only after the parse-failure
  *    one has finished (one parquet directory, one committer), and a
  *    failed parse-failure append still fails the batch;
  *  - each micro-batch takes one instant on the driver. It is the parse
  *    fallback time, the DLQ `timestamp` of both DLQ producers, the sinks'
  *    `created_at` and the archive's day, so the sinks of one batch agree.
  *    Generated code reads it by reference
  *    ([[graft.functions.BatchInstant]]), so a warm stream compiles no
  *    class per batch; a `current_timestamp()` compiles new source on
  *    every call;
  *  - the threshold dim is re-derived per batch — the streaming analogue
  *    of the reference's continuously-refreshed broadcast dimension.
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
    * batch with no stream restart; the constant-dim `start` overload is
    * the degenerate provider. */
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

    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // T3 parse failures → DLQ only; the pipeline drops them itself, so
        // a record is either stored or DLQ'd, never both (required-field
        // failures, by contrast, are silently dropped — the asymmetry).
        // Both DLQ producers share one envelope schema (camelCase + ts).
        // The raw projection is computed once and persisted so the DLQ
        // write and the storage fanout share ONE scan of the micro-batch.
        // the batch's one instant (see above)
        val at = java.time.Instant.now()
        val raw = Hrfco.rawObservations(batch).persist()
        try {
          val classified = Hrfco.pipelineFromRaw(raw, dimProvider(),
            tsFallback = InstantFunctions.batchTimestamp(at), wlMax = wlMax)
          // the parse-failure DLQ append runs alongside the fanout's three
          // writes, on a thread that inherits this batch's local properties
          val parseDlq = Sinks.fork("dlq") {
            Hrfco.dlqEnvelope(raw, InstantFunctions.batchMillis(at)).drop("event_id")
              .write.mode("append").parquet(paths.dlq)
          }
          val (result, dlq) =
            try Sinks.fanout(classified, paths.archive, paths.timeseries, paths.raw, at)
            finally Sinks.joinAll(parseDlq)
          try {
            // a failed parse-failure DLQ write fails the batch; otherwise
            // the storage-failure append goes second, never concurrently:
            // two appends to one parquet directory share the committer's
            // _temporary directory
            parseDlq.outcome.get
            dlq.foreach(_.write.mode("append").parquet(paths.dlq))
          } finally dlq.foreach(_.unpersist())
          if (!result.allOk)
            logger.warn(s"batch $batchId partial storage failure: ${result.failures}")
        } finally raw.unpersist(blocking = false)
        ()
      }
      .start()
  }
}
