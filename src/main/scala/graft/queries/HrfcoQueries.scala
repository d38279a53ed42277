package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import SparkEntry.{fixedFallback, enriched, C}

/** The HRFCO water-level chain (parse, validate, classify, alert), the
  * ingestion envelope split and the monitoring/serving surface. */
object HrfcoQueries {

  // fanOut at the batch seam only (the streaming entry shapes its own
  // micro-batches): the whole parse → validate → classify chain is
  // per-row expression work above a single-split scan otherwise
  private def rawObs(s: SparkSession, dir: String): DataFrame =
    Hrfco.rawObservations(Tables.fanOut(Tables.events(s, dir), col("event_id")))

  private def parsed(s: SparkSession, dir: String): DataFrame =
    Hrfco.parseTyped(rawObs(s, dir), fixedFallback)

  private def dim(s: SparkSession, dir: String): DataFrame =
    Thresholds.fromEvents(Tables.events(s, dir))

  val all: Seq[Query] = Seq(
    // ---- HRFCO core transforms -------------------------------------------
    Query("q_raw_parse", (s, dir) =>
      parsed(s, dir).select(
        col("event_id"), col("wlobscd"),
        col("wl").as("wl_raw"), col("fw").as("fw_raw"),
        col("water_level"), col("flow_rate"), col("obs_time_fmt"),
        date_format(col("obs_ts_utc"), "yyyy-MM-dd HH:mm:ss").as("obs_ts_str"))
        .orderBy("event_id"),
      Oracle(C +
        """SELECT event_id, wlobscd, wl AS wl_raw, fw AS fw_raw, water_level, flow_rate,
          |  obs_time_fmt, strftime(obs_ts_utc, '%Y-%m-%d %H:%M:%S') AS obs_ts_str
          |FROM parsed ORDER BY event_id""".stripMargin)),

    Query("q_required_filter", (s, dir) =>
      parsed(s, dir).filter(!Hrfco.parseFailed && Hrfco.requiredFields)
        .select("event_id", "wlobscd", "water_level", "flow_rate")
        .orderBy("event_id"),
      Oracle(C +
        "SELECT event_id, wlobscd, water_level, flow_rate FROM valid ORDER BY event_id")),

    Query("q_dlq", (s, dir) =>
      Hrfco.dlqEnvelope(rawObs(s, dir), timestamp = lit(0L))
        .drop("timestamp").orderBy("event_id"),
      Oracle(C +
        """SELECT event_id, wlobscd AS "originalKey", raw_payload AS "originalValue",
          |  'Processing failed: JsonParseException' AS "errorReason",
          |  'JsonParseException' AS "exceptionClass",
          |  'malformed payload' AS "exceptionMessage"
          |FROM raw
          |WHERE (CASE WHEN json_valid(raw_payload)
          |       THEN json_extract_string(raw_payload, '$.k') END) IS NULL
          |ORDER BY event_id""".stripMargin)),

    Query("q_threshold_dim", (s, dir) =>
      dim(s, dir).select("wlobscd", "attwl", "wrnwl", "almwl", "srswl", "obsnm", "addr")
        .orderBy("wlobscd"),
      Oracle(C +
        "SELECT wlobscd, attwl, wrnwl, almwl, srswl, obsnm, addr FROM dim ORDER BY wlobscd")),

    // unpivot/melt (the reverse of q_alert_pivot's shape): wide threshold
    // columns to long (station, name, value) form
    Query("q_threshold_unpivot", (s, dir) =>
      dim(s, dir)
        .unpivot(Array(col("wlobscd")),
          Array(col("attwl"), col("wrnwl"), col("almwl"), col("srswl")),
          "threshold_name", "threshold_value")
        .filter(col("threshold_value").isNotNull) // explicit either way: melt null policy is not part of the contract
        .orderBy("wlobscd", "threshold_name"),
      Oracle(C +
        """SELECT wlobscd, threshold_name, threshold_value FROM (
          |  SELECT wlobscd, 'attwl' AS threshold_name, attwl AS threshold_value FROM dim
          |  UNION ALL SELECT wlobscd, 'wrnwl', wrnwl FROM dim
          |  UNION ALL SELECT wlobscd, 'almwl', almwl FROM dim
          |  UNION ALL SELECT wlobscd, 'srswl', srswl FROM dim)
          |WHERE threshold_value IS NOT NULL
          |ORDER BY wlobscd, threshold_name""".stripMargin)),

    Query("q_classify", (s, dir) =>
      enriched(s, dir).select(
        col("event_id"), col("wlobscd"), col("water_level"), col("flow_rate"),
        col("range_valid"), col("valid_threshold_count"), col("is_anomaly"),
        col("anomaly_reason"), col("flood_warning_level"))
        .orderBy("event_id"),
      Oracle(C +
        """SELECT event_id, wlobscd, water_level, flow_rate, range_valid,
          |  valid_threshold_count, is_anomaly, anomaly_reason, flood_warning_level
          |FROM classified ORDER BY event_id""".stripMargin)),

    Query("q_alerts", (s, dir) =>
      enriched(s, dir).select(
        col("event_id"), col("wlobscd").as("observation_code"),
        col("obs_time_fmt").as("observation_time"),
        col("water_level"), col("flow_rate"),
        col("alert_level").as("warning_level"), col("is_anomaly"), col("message"))
        .orderBy("event_id"),
      Oracle(C +
        """SELECT event_id, wlobscd AS observation_code, obs_time_fmt AS observation_time,
          |  water_level, flow_rate, alert_level AS warning_level, is_anomaly, message
          |FROM msgs ORDER BY event_id""".stripMargin)),

    Query("q_latest_per_station", (s, dir) =>
      Monitoring.latestPerStation(enriched(s, dir))
        .select("wlobscd", "event_id", "water_level", "flood_warning_level", "alert_level")
        .orderBy("wlobscd"),
      Oracle(C +
        """SELECT wlobscd, event_id, water_level, flood_warning_level, alert_level
          |FROM (SELECT *, row_number() OVER (PARTITION BY wlobscd ORDER BY ts DESC, event_id DESC) AS rn
          |      FROM alerts) WHERE rn = 1
          |ORDER BY wlobscd""".stripMargin)),

    Query("q_alert_counts", (s, dir) => {
      val bucket = when(col("is_anomaly"), "anomaly")
        .when(col("alert_level").isin("ATTENTION", "CAUTION", "WARNING", "CRITICAL"), "alert")
        .otherwise("normal")
      // single pass: the 'all' row is the sum of the bucket counts, so the
      // pipeline is evaluated once, not once per union branch
      val counts = enriched(s, dir).groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n"))
      counts
        .unionByName(counts.agg(coalesce(sum("n"), lit(0L)).cast("long").as("n"))
          .select(lit("all").as("bucket"), col("n")))
        .orderBy("bucket")
    },
      Oracle(C +
        """SELECT bucket, n FROM (
          |  SELECT CASE WHEN is_anomaly THEN 'anomaly'
          |              WHEN alert_level IN ('ATTENTION','CAUTION','WARNING','CRITICAL') THEN 'alert'
          |              ELSE 'normal' END AS bucket, count(*) AS n
          |  FROM alerts GROUP BY 1
          |  UNION ALL SELECT 'all' AS bucket, count(*) AS n FROM alerts)
          |ORDER BY bucket""".stripMargin)),

    // ---- ingestion envelope split (S2→T1→T2) -----------------------------
    Query("q_json_split", (s, dir) =>
      Ingest.splitEnvelopes(Ingest.envelopes(Tables.events(s, dir))).orderBy("event_id"),
      Oracle("SELECT event_id, event_type, value FROM events ORDER BY event_id")),

    // ---- monitoring / serving surface ------------------------------------
    Query("q_topn_recent", (s, dir) => Monitoring.topNRecent(enriched(s, dir)),
      Oracle(C +
        """SELECT event_id, wlobscd AS observation_code, alert_level AS warning_level,
          |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS alert_ts
          |FROM msgs ORDER BY ts DESC, event_id DESC LIMIT 500""".stripMargin)),

    Query("q_threshold_scale", (s, dir) =>
      Monitoring.thresholdGaugeScale(dim(s, dir)).orderBy("wlobscd"),
      Oracle(C +
        """SELECT wlobscd, coalesce(greatest(
          |    CASE WHEN attwl > 0 THEN attwl END, CASE WHEN wrnwl > 0 THEN wrnwl END,
          |    CASE WHEN almwl > 0 THEN almwl END, CASE WHEN srswl > 0 THEN srswl END) * 1.2,
          |  10.0) AS gauge_max
          |FROM dim ORDER BY wlobscd""".stripMargin)),

    Query("q_delta_rate", (s, dir) =>
      Monitoring.deltaRate(Tables.events(s, dir)).orderBy("event_id"),
      Oracle("""SELECT event_id, event_type, value, prev_value, delta,
          |  delta / nullif((epoch_us(ts) - prev_us) / 1000000.0, 0.0) AS rate_per_sec,
          |  (delta IS NOT NULL AND delta <> 0.0) AS is_active
          |FROM (
          |  SELECT event_id, event_type, value, ts,
          |    lag(value) OVER w AS prev_value,
          |    value - lag(value) OVER w AS delta,
          |    lag(epoch_us(ts)) OVER w AS prev_us
          |  FROM events
          |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
          |ORDER BY event_id""".stripMargin)),

    Query("q_per_record_avg", (s, dir) =>
      Monitoring.perRecordAvg(Tables.events(s, dir)).orderBy("event_id"),
      Oracle("""SELECT event_id, event_type,
          |  value / CAST(greatest(CAST(json_extract_string(props, '$.k') AS INT), 1) AS DOUBLE) AS per_record_avg
          |FROM events ORDER BY event_id""".stripMargin)),

    Query("q_quantiles", (s, dir) =>
      Monitoring.discreteQuantiles(Tables.events(s, dir)).orderBy("event_type"),
      Oracle("""SELECT event_type,
          |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN value END) AS p50,
          |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT)) THEN value END) AS p90
          |FROM (
          |  SELECT event_type, value, event_id,
          |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n
          |  FROM events)
          |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Query("q_quantiles_approx", (s, dir) =>
      Monitoring.approxQuantiles(Tables.events(s, dir)).orderBy("event_type"),
      RowsOnly("GK and t-digest sketches differ by algorithm; " +
        "q_quantiles and the SkewAndScalarsSpec rank-error-bound case are its companions")),

    Query("q_queue_backpressure", (s, dir) =>
      Monitoring.queueBackpressure(Tables.events(s, dir)).orderBy("event_type"),
      Oracle("""SELECT event_type,
          |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS flow_files_queued,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bytes_queued,
          |  count(CASE WHEN value >= 300.0 THEN 1 END) AS saturated,
          |  count(*) AS connections
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Query("q_processor_rollup", (s, dir) =>
      Monitoring.processorRollup(Tables.events(s, dir)).orderBy("event_type"),
      Oracle("""SELECT event_type,
          |  count(DISTINCT user_id) AS processors,
          |  count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 0 THEN 1 END) AS active_samples,
          |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_work,
          |  count(*) AS samples
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    Query("q_humanize_bytes", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(sum(floor(col("value") * 1000000.0).cast("long")).as("bytes"))
        .select(col("event_type"), col("bytes"),
          Monitoring.humanizeBytes(col("bytes")).as("human"))
        .orderBy("event_type"),
      Oracle("""SELECT event_type, bytes,
          |  CASE WHEN bytes < 1024 THEN CAST(bytes AS VARCHAR) || ' B'
          |       WHEN bytes < 1024 * 1024
          |         THEN printf('%.1f KB', floor(CAST(bytes AS DOUBLE) / 1024.0 * 10.0 + 0.5) / 10.0)
          |       WHEN bytes < 1024 * 1024 * 1024
          |         THEN printf('%.1f MB', floor(CAST(bytes AS DOUBLE) / (1024.0 * 1024) * 10.0 + 0.5) / 10.0)
          |       ELSE printf('%.1f GB', floor(CAST(bytes AS DOUBLE) / (1024.0 * 1024 * 1024) * 10.0 + 0.5) / 10.0)
          |  END AS human
          |FROM (SELECT event_type, CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS bytes
          |      FROM events GROUP BY 1)
          |ORDER BY event_type""".stripMargin)),

    Query("q_station_list", (s, dir) => Monitoring.stationList(dim(s, dir)).orderBy("code"),
      Oracle(C +
        "SELECT wlobscd AS code, obsnm AS name, addr AS address FROM dim ORDER BY code")),

    Query("q_station_detail", (s, dir) => Monitoring.stationDetail(dim(s, dir), "click"),
      Oracle(C +
        """SELECT wlobscd AS observation_code, obsnm AS name, addr AS address,
          |  attwl, wrnwl, almwl, srswl
          |FROM dim WHERE wlobscd = 'click'""".stripMargin)),
  )
}
