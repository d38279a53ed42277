package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.LookupFunctions

/** The HRFCO observation pipeline re-expressed Spark-first.
  *
  * Operator semantics are taken from the reference
  * (Korigin99/hrfco-data-pipeline, read at /root/reference/):
  *  - guarded string→double coercion, blank/" "/garbage → null:
  *    hrfco-kafka-streams .../model/WaterLevelData.java:62-79
  *  - 12-digit `yyyyMMddHHmm` reformat, non-12-digit passthrough:
  *    WaterLevelData.java:82-96
  *  - KST→UTC interpretation of observation times:
  *    .../service/HRFCOStorageService.java:224-244
  *  - required-fields SILENT drop (not DLQ): .../validator/WaterLevelValidator.java:52-79,
  *    applied at .../processor/WaterLevelProcessor.java:53-57
  *  - parse failure → DLQ (asymmetry with the silent drop):
  *    WaterLevelProcessor.java:90-94, .../dlq/DeadLetterQueueProducer.java:51-61
  *  - physical range validation wl∈[-10,50] fw∈[0,50000], null passes:
  *    WaterLevelValidator.java:22-44,85-115
  *  - threshold lookup = broadcast hash join: .../processor/AnomalyDetector.java:50-61
  *  - valid-threshold count (non-null AND > 0): AnomalyDetector.java:98-105
  *  - classification cascade, inclusive >=, CRITICAL>WARNING>CAUTION>ATTENTION:
  *    WaterLevelValidator.java:125-163
  *  - anomaly/level decision table: AnomalyDetector.java:46-96
  *  - store-vs-alert divergence (NO_THRESHOLD/PARTIAL_THRESHOLD stored,
  *    NORMAL alerted; anomaly → ANOMALY): WaterLevelProcessor.java:77-86
  *  - Korean alert template: .../processor/AlertPublisher.java:53-60
  *
  * All transforms are pure `DataFrame => DataFrame` built from codegen'd
  * built-in expressions — no UDFs — so Catalyst keeps pushdown/pruning and
  * the whole hot path stays inside WholeStageCodegen. The only join is a
  * broadcast hash join against the (tiny, slowly-changing) station dim, so
  * the pipeline is a single narrow stage at any scale.
  */
object Hrfco {

  /** Physical plausibility defaults — reference WaterLevelValidator.java:22-44
    * (env-overridable there; parameters here). */
  val WlMinDefault = -10.0
  val WlMaxDefault = 50.0
  val FwMinDefault = 0.0
  val FwMaxDefault = 50000.0

  /** Guarded string→double: null/blank/" "/garbage → null, else parse.
    * Reference WaterLevelData.java:62-79 (the catch-clause → null matches
    * `try_cast`; cast also trims, matching the reference's trim()). */
  def guardedDouble(c: Column): Column =
    when(trim(c) === "", lit(null).cast("double"))
      .otherwise(c.try_cast("double"))

  /** 12-digit `yyyyMMddHHmm` → "yyyy-MM-dd HH:mm"; any other length passes
    * through unchanged. Pure substring reassembly with no validity parse —
    * exactly the reference's behavior (WaterLevelData.java:82-96 does
    * substring splits, so even a 12-char non-numeric string is
    * reassembled). */
  def formattedObservationTime(ymdhm: Column): Column =
    when(length(ymdhm) === 12,
      concat(
        substring(ymdhm, 1, 4), lit("-"), substring(ymdhm, 5, 2), lit("-"),
        substring(ymdhm, 7, 2), lit(" "), substring(ymdhm, 9, 2), lit(":"),
        substring(ymdhm, 11, 2)))
      .otherwise(ymdhm)

  /** Observation time interpreted as Asia/Seoul wall-clock → UTC timestamp,
    * with an injectable fallback for parse failure (reference falls back to
    * `now()`, HRFCOStorageService.java:240-243 — nondeterministic, so the
    * fallback is a parameter; pass a literal for reproducible runs). */
  def observationTsUtc(ymdhm: Column, fallback: Column): Column =
    coalesce(
      to_utc_timestamp(try_to_timestamp(ymdhm, lit("yyyyMMddHHmm")), "Asia/Seoul"),
      fallback)

  /** Role-map the driver's `events` table onto the observation stream
    * (FIXTURES.md §B): event_type = station code, value = water level,
    * props.k = flow rate, ts = observation time. Deterministic dirty-input
    * injection (keyed on event_id) exercises every coercion branch the
    * reference tests pin down: blank wlobscd, " "/empty/garbage wl, garbage
    * fw, malformed raw JSON. */
  def rawObservations(events: DataFrame): DataFrame = {
    val id = col("event_id")
    events.select(
      id.as("event_id"),
      when(id % 103 === 0, lit("")).otherwise(col("event_type")).as("wlobscd"),
      date_format(col("ts"), "yyyyMMddHHmm").as("ymdhm"),
      when(id % 97 === 0, lit(" "))
        .when(id % 89 === 0, lit("abc"))
        .when(id % 83 === 0, lit(""))
        .otherwise(col("value").cast("string")).as("wl"),
      when(id % 101 === 0, lit("x9.9"))
        .otherwise(get_json_object(col("props"), "$.k")).as("fw"),
      when(id % 107 === 0, lit("{bad json")).otherwise(col("props")).as("raw_payload"),
      col("ts"), col("ts_us"))
  }

  /** T3+T4+T5: typed projection with guarded coercions. */
  def parseTyped(raw: DataFrame, tsFallback: Column = current_timestamp()): DataFrame =
    raw
      .withColumn("water_level", guardedDouble(col("wl")))
      .withColumn("flow_rate", guardedDouble(col("fw")))
      .withColumn("obs_time_fmt", formattedObservationTime(col("ymdhm")))
      .withColumn("obs_ts_utc", observationTsUtc(col("ymdhm"), tsFallback))

  /** T6 required-fields predicate. Rows failing it are SILENTLY dropped —
    * not DLQ'd (WaterLevelProcessor.java:53-57). Requires station code,
    * observation time, and at least one measurement — checked on the RAW
    * string fields (WaterLevelValidator.java:71-76 uses getWaterLevel(),
    * not the parsed value): a garbage-but-present measurement passes
    * required-fields and flows on with a null parsed value. */
  def requiredFields: Column = {
    def present(c: Column): Column = c.isNotNull && trim(c) =!= ""
    present(col("wlobscd")) && present(col("ymdhm")) &&
      (present(col("wl")) || present(col("fw")))
  }

  /** T7 physical-range flag: null passes; out-of-range ⇒ false.
    * Reference WaterLevelValidator.java:85-115. */
  def rangeValid(wlMin: Double = WlMinDefault, wlMax: Double = WlMaxDefault,
                 fwMin: Double = FwMinDefault, fwMax: Double = FwMaxDefault): Column =
    (col("water_level").isNull || (col("water_level") >= wlMin && col("water_level") <= wlMax)) &&
      (col("flow_rate").isNull || (col("flow_rate") >= fwMin && col("flow_rate") <= fwMax))

  /** T3 parse-failure predicate: the raw payload's JSON is unparseable
    * (`$.k` unextractable). In the reference this throws before any other
    * step (WaterLevelProcessor.java:45,90-94), so such records are DLQ'd
    * and NEVER processed/stored — the either/or contract. */
  def parseFailed: Column = get_json_object(col("raw_payload"), "$.k").isNull

  /** T3-failure branch → DLQ envelope, field names per
    * DeadLetterQueueProducer.java:51-61 (camelCase, with timestamp —
    * injectable for determinism). Shares its schema with Sinks.dlqFrame so
    * both DLQ producers can append to one store. */
  def dlqEnvelope(raw: DataFrame,
                  timestamp: Column = unix_millis(current_timestamp())): DataFrame =
    raw
      .filter(parseFailed)
      .select(col("event_id") +: parseFailureEnvelope(col("wlobscd"), timestamp): _*)

  /** The T3 envelope's columns for a parse-failed row whose station code
    * is `key`: the DLQ schema without `event_id`. */
  def parseFailureEnvelope(key: Column, timestamp: Column): Seq[Column] = Seq(
    key.as("originalKey"),
    col("raw_payload").as("originalValue"),
    lit("Processing failed: JsonParseException").as("errorReason"),
    lit("JsonParseException").as("exceptionClass"),
    lit("malformed payload").as("exceptionMessage"),
    timestamp.as("timestamp"))

  /** T9: count of thresholds that are non-null AND > 0
    * (AnomalyDetector.java:98-105). */
  def validThresholdCount: Column =
    Seq("attwl", "wrnwl", "almwl", "srswl")
      .map(t => when(col(t).isNotNull && col(t) > 0.0, 1).otherwise(0))
      .reduce(_ + _)

  /** T10: flood-level cascade, inclusive >=, priority CRITICAL > WARNING >
    * CAUTION > ATTENTION; null wl → null; all-null thresholds → null; else
    * NORMAL (WaterLevelValidator.java:125-163; boundary `>=` verified by
    * WaterLevelValidatorTest.java:188-192). Threshold naming keeps the
    * reference's deliberate remap: wrnwl→CAUTION, almwl→WARNING
    * (cache/StationThreshold.java:9-37). */
  def floodLevel(wl: Column): Column =
    when(wl.isNull, lit(null).cast("string"))
      .when(col("attwl").isNull && col("wrnwl").isNull && col("almwl").isNull && col("srswl").isNull,
        lit(null).cast("string"))
      .when(col("srswl").isNotNull && wl >= col("srswl"), "CRITICAL")
      .when(col("almwl").isNotNull && wl >= col("almwl"), "WARNING")
      .when(col("wrnwl").isNotNull && wl >= col("wrnwl"), "CAUTION")
      .when(col("attwl").isNotNull && wl >= col("attwl"), "ATTENTION")
      .otherwise("NORMAL")

  /** T8+T9+T10+T11: broadcast-join the station dim and apply the anomaly /
    * level decision table (AnomalyDetector.java:46-96):
    *
    *   !rangeValid                      → (true,  null)           [alert ANOMALY]
    *   dim row absent                   → (false, NO_THRESHOLD)   [alert NORMAL]
    *   wl!=null && validCount==0        → (false, NO_THRESHOLD)   [alert NORMAL]
    *   wl!=null && validCount==1        → (false, PARTIAL_THRESHOLD) [alert NORMAL]
    *   else                             → (false, cascade, null→NORMAL)
    *
    * The dim is tiny (one row per station) — the reference's cache-aside
    * ConcurrentHashMap IS a broadcast hash join; `broadcast()` keeps it a
    * map-side join with no shuffle at any scale. */
  def classify(parsed: DataFrame, dim: DataFrame,
               wlMin: Double = WlMinDefault, wlMax: Double = WlMaxDefault,
               fwMin: Double = FwMinDefault, fwMax: Double = FwMaxDefault): DataFrame =
    classifyJoined(joinDim(dim)(parsed), wlMin, wlMax, fwMin, fwMax)

  /** T8: `parsed` left-joined to the station dim `dim` on `wlobscd`, by
    * broadcast, with `dim_present` true where a dim row matched. */
  def joinDim(dim: DataFrame): DataFrame => DataFrame = parsed =>
    parsed.join(broadcast(dim.withColumn("dim_present", lit(true))), Seq("wlobscd"), "left")

  /** [[joinDim]] against dim rows already collected on the driver, as a
    * hash lookup inside the row's stage (`graft_lookup`) instead of a
    * broadcast: the same columns in the same order, `dim_present`
    * included, and no job. None when two rows share a station, which the
    * join would match twice. */
  def lookupDim(rows: Seq[Row], schema: StructType): Option[DataFrame => DataFrame] =
    LookupFunctions.lookup(col("wlobscd"), rows, schema, "wlobscd").map {
      station => parsed =>
        val dimColumns = schema.fieldNames.filterNot(_ == "wlobscd")
        parsed.select((col("wlobscd") +: parsed.columns.toSeq.filterNot(_ == "wlobscd").map(col)) ++
          dimColumns.map(c => station.getField(c).as(c)) :+
          when(station.isNotNull, true).as("dim_present"): _*)
    }

  /** T9-T11 on a frame [[joinDim]] (or [[lookupDim]]) has joined. */
  private def classifyJoined(joined: DataFrame, wlMin: Double, wlMax: Double,
                             fwMin: Double, fwMax: Double): DataFrame = {
    val wl = col("water_level")
    joined
      .withColumn("range_valid", rangeValid(wlMin, wlMax, fwMin, fwMax))
      .withColumn("valid_threshold_count",
        when(col("dim_present").isNotNull, validThresholdCount).otherwise(lit(0)))
      .withColumn("is_anomaly", !col("range_valid"))
      .withColumn("anomaly_reason",
        when(!col("range_valid"), "Data out of physical range")
          .otherwise(lit(null).cast("string")))
      .withColumn("flood_warning_level",
        when(!col("range_valid"), lit(null).cast("string"))
          .when(col("dim_present").isNull, "NO_THRESHOLD")
          .when(wl.isNotNull && col("valid_threshold_count") === 0, "NO_THRESHOLD")
          .when(wl.isNotNull && col("valid_threshold_count") === 1, "PARTIAL_THRESHOLD")
          .otherwise(coalesce(floodLevel(wl), lit("NORMAL"))))
  }

  /** T12: alert-level normalization — applied ONLY to the alert output; the
    * stored record keeps the raw internal value (WaterLevelProcessor.java:77-86,
    * save precedes normalization at lines 67-68). */
  def alertLevel: Column =
    when(col("is_anomaly"), "ANOMALY")
      .when(col("flood_warning_level").isNull, "NORMAL")
      .when(col("flood_warning_level").isin("NO_THRESHOLD", "PARTIAL_THRESHOLD"), "NORMAL")
      .otherwise(col("flood_warning_level"))

  /** T13: Korean alert message template (AlertPublisher.java:53-60). The
    * anomaly-with-null-wl case (fw-only range violation) is a DELIBERATE
    * divergence from the reference: Java String.format("%.2f", null)
    * prints the garbage "nu" (precision applied to "null"), which is
    * unreproducible in SQL (DuckDB printf(NULL) nulls the whole string) —
    * we emit the missing-measurement variant instead. */
  def alertMessage: Column =
    when(col("is_anomaly") && col("water_level").isNull,
      format_string("관측소 %s에서 이상치 감지 (수위 미계측)", col("wlobscd")))
      .when(col("is_anomaly"),
        format_string("관측소 %s에서 이상치 감지 (수위: %.2f m)", col("wlobscd"), col("water_level")))
      .when(col("water_level").isNull,
        format_string("관측소 %s에서 %s 수위 경보 (수위 미계측)", col("wlobscd"), alertLevel))
      .otherwise(
        format_string("관측소 %s에서 %s 수위 경보 (수위: %.2f m)", col("wlobscd"), alertLevel, col("water_level")))

  /** Full hot path: raw → drop parse failures (they go to the DLQ, never
    * stored — the reference throws at step 1) → parse → required-filter
    * (silent drop) → classify → alert columns. One narrow stage: scan +
    * broadcast join, no shuffle. */
  def pipeline(events: DataFrame, dim: DataFrame,
               tsFallback: Column = current_timestamp(),
               wlMin: Double = WlMinDefault, wlMax: Double = WlMaxDefault,
               fwMin: Double = FwMinDefault, fwMax: Double = FwMaxDefault): DataFrame =
    pipelineFromRaw(rawObservations(events), dim, tsFallback, wlMin, wlMax, fwMin, fwMax)

  /** The same hot path over an already-projected raw-observation frame —
    * the streaming entry computes `rawObservations(batch)` ONCE and feeds
    * both this and the DLQ branch, so a micro-batch is scanned once, not
    * once per branch. */
  def pipelineFromRaw(raw: DataFrame, dim: DataFrame,
                      tsFallback: Column = current_timestamp(),
                      wlMin: Double = WlMinDefault, wlMax: Double = WlMaxDefault,
                      fwMin: Double = FwMinDefault, fwMax: Double = FwMaxDefault): DataFrame =
    withAlerts(classify(
      parseTyped(raw.filter(!parseFailed), tsFallback)
        .filter(requiredFields),
      dim, wlMin, wlMax, fwMin, fwMax))

  private def withAlerts(classified: DataFrame): DataFrame =
    classified
      .withColumn("alert_level", alertLevel)
      .withColumn("message", alertMessage)

  /** The column [[routedFromRaw]] adds to the [[pipelineFromRaw]] schema:
    * true on a parse failure. */
  val ParseFailedColumn = "parse_failed"

  /** Both branches of a micro-batch in ONE frame, joined to the dim by
    * `dimJoin` ([[joinDim]] or [[lookupDim]]), so a single pass can feed
    * the DLQ and the stores: every raw row that is a parse failure or
    * passes the required-field check (the rest are dropped, as in
    * [[pipelineFromRaw]]), with `parse_failed` telling the two apart. A
    * stored row (`parse_failed` false) carries exactly the columns and
    * values [[pipelineFromRaw]] gives it, plus `parse_failed`; a parse
    * failure carries what [[parseFailureEnvelope]] reads, and its other
    * columns carry no meaning. A parse failure meets the dim with a null
    * station code, so it matches no dim row and stays one row whatever
    * the dim holds; the code is put back afterwards, which also keeps
    * the column's nullability, the one the parquet sinks record. */
  def routedFromRaw(raw: DataFrame, dimJoin: DataFrame => DataFrame,
                    tsFallback: Column = current_timestamp(),
                    wlMin: Double = WlMinDefault, wlMax: Double = WlMaxDefault,
                    fwMin: Double = FwMinDefault, fwMax: Double = FwMaxDefault): DataFrame = {
    val marked = raw
      .withColumn(ParseFailedColumn, parseFailed)
      .filter(col(ParseFailedColumn) || requiredFields)
      .withColumn("__station", col("wlobscd"))
      .withColumn("wlobscd", when(!col(ParseFailedColumn), col("wlobscd")))
    val routed = withAlerts(classifyJoined(dimJoin(parseTyped(marked, tsFallback)),
      wlMin, wlMax, fwMin, fwMax))
    routed.select(routed.columns.toSeq.filter(_ != "__station").map {
      case "wlobscd" => coalesce(col("wlobscd"), col("__station")).as("wlobscd")
      case c => col(c)
    }: _*)
  }
}
