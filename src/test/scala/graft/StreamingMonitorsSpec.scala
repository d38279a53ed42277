package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingMonitors

/** Streaming-native monitors: the stateful delta detector must reproduce
  * the batch lag() results, and the watermarked window agg must match a
  * batch grouping at AvailableNow completeness. */
class StreamingMonitorsSpec extends SparkSpec {

  private def streamOfEvents(work: String, sfDir: String = "/root/testdata/sf0.001") = {
    val srcDir = new java.io.File(s"$work/incoming"); srcDir.mkdirs()
    Files.copy(new java.io.File(s"$sfDir/events.parquet").toPath,
      new java.io.File(srcDir, "events.parquet").toPath)
    Tables.normalizeEvents(
      spark.readStream.schema(Tables.eventsRawSchema).parquet(srcDir.getAbsolutePath))
  }

  private def work(): String = {
    val base = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(base)
    Files.createTempDirectory(base, "mon").toString
  }

  test("checkpointed restart is exactly-once: no loss, no duplicates across runs") {
    val w = work()
    val srcDir = new java.io.File(s"$w/incoming"); srcDir.mkdirs()
    val outDir = s"$w/out"; val ckpt = s"$w/ckpt"
    def run(): Unit = {
      val stream = Tables.normalizeEvents(
        spark.readStream.schema(Tables.eventsRawSchema).parquet(srcDir.getAbsolutePath))
        .select("event_id", "event_type", "value")
      val q = stream.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "streaming query timed out")
    }
    // run 1 sees file a; run 2 restarts from the SAME checkpoint with file
    // b added — it must process exactly the delta
    Files.copy(new java.io.File("/root/testdata/sf0.001/events.parquet").toPath,
      new java.io.File(srcDir, "a.parquet").toPath)
    run()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst === 1000L)
    Files.copy(new java.io.File("/root/testdata/sf0.001/events.parquet").toPath,
      new java.io.File(srcDir, "b.parquet").toPath)
    run()
    val out = spark.read.parquet(outDir)
    // 2000 rows total (b's copy re-uses event ids — they are NEW rows from
    // a NEW file, kept), but file a was NOT reprocessed on restart
    assert(out.count() === 2000L)
    assert(out.select("event_id").distinct().count() === 1000L)
  }

  test("stateful delta/rate matches the batch lag() form") {
    val w = work()
    val q = StreamingMonitors.statefulDeltaRate(streamOfEvents(w))
      .writeStream.format("memory").queryName("deltas")
      .option("checkpointLocation", s"$w/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamed = spark.table("deltas")
      .select("event_id", "delta", "rate_per_sec")
    val batch = graft.ops.Monitoring.deltaRate(Tables.events(spark, "/root/testdata/sf0.001"))
      .filter(col("prev_value").isNotNull)
      .select("event_id", "delta", "rate_per_sec")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    val w = work()
    // deliver the same file twice → every event is duplicated at the source
    val srcDir = new java.io.File(s"$w/incoming"); srcDir.mkdirs()
    Files.copy(new java.io.File("/root/testdata/sf0.001/events.parquet").toPath,
      new java.io.File(srcDir, "a.parquet").toPath)
    Files.copy(new java.io.File("/root/testdata/sf0.001/events.parquet").toPath,
      new java.io.File(srcDir, "b.parquet").toPath)
    val stream = Tables.normalizeEvents(
      spark.readStream.schema(Tables.eventsRawSchema).parquet(srcDir.getAbsolutePath))
    val q = StreamingMonitors.dedupStream(stream)
      .writeStream.format("memory").queryName("deduped")
      .option("checkpointLocation", s"$w/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query timed out")
    assert(spark.table("deduped").count() === 1000)
    assert(spark.table("deduped").select("event_id").distinct().count() === 1000)
  }

  test("session_window sessionization equals the batch sessionizer") {
    val w = work()
    val q = StreamingMonitors.sessionStats(streamOfEvents(w))
      .writeStream.format("memory").queryName("sess_stream")
      .option("checkpointLocation", s"$w/ckpt")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamed = spark.table("sess_stream")
    val batch = graft.ops.Monitoring
      .sessionIntervals(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("user_id"), col("start_us"), col("n_events"),
        ((col("end_us") - col("start_us")) / lit(1000000L)).cast("double").as("duration_sec"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("stream-static as-of equals the batch as-of join on real data") {
    val w = work()
    // stream side: purchases; static versioned dim: the same users' views —
    // the exact purchaseAttribution shape, so batch asofJoin is the oracle
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val views = ev.filter(col("event_type") === "view")
    val purchases = streamOfEvents(w, "/root/testdata/sf0.01")
      .filter(col("event_type") === "purchase")
    val q = StreamingMonitors.asofStreamStatic(purchases, views,
        Seq("user_id"), "ts_us", "event_id", payload = Seq("event_id", "value"))
      .select("event_id", "user_id", "asof_event_id", "asof_value", "asof_ts_us")
      .writeStream.format("memory").queryName("asof_stream")
      .option("checkpointLocation", s"$w/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamed = spark.table("asof_stream")
    val batch = graft.ops.TimeSeries.asofJoin(
        ev.filter(col("event_type") === "purchase"), views,
        Seq("user_id"), "ts_us", "event_id", payload = Seq("event_id", "value"))
      .select("event_id", "user_id", "asof_event_id", "asof_value", "asof_ts_us")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("stream-stream interval join equals the batch join with the same predicate") {
    val w = work()
    val stream = streamOfEvents(w)
    val q = StreamingMonitors.streamStreamAttribution(
        stream.filter(col("event_type") === "purchase"),
        stream.filter(col("event_type") === "view"))
      .writeStream.format("memory").queryName("ss_attr")
      .option("checkpointLocation", s"$w/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamed = spark.table("ss_attr")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("p_ts_us"), col("value").as("purchase_value"))
    val bv = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts_us").as("v_ts_us"))
    val batch = bp.join(bv,
        col("user_id") === col("v_user_id") &&
          col("v_ts_us") >= col("p_ts_us") - 3600L * 1000000L &&
          col("v_ts_us") <= col("p_ts_us"))
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        col("purchase_value"), (col("p_ts_us") - col("v_ts_us")).as("lag_us"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("watermarked windowed stats match batch tumbling-window grouping") {
    val w = work()
    val q = StreamingMonitors.windowedStationStats(streamOfEvents(w))
      .writeStream.format("memory").queryName("winstats")
      .option("checkpointLocation", s"$w/ckpt")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamed = spark.table("winstats")
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_obs"), min("value").as("min_value"), max("value").as("max_value"))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("n_obs"), col("min_value"), col("max_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
  }

  test("streaming nearest view equals the batch pick on the lookback-restricted candidates") {
    val w = work()
    val srcDir = new java.io.File(s"$w/incoming"); srcDir.mkdirs()
    Files.copy(new java.io.File("/root/testdata/sf0.001/events.parquet").toPath,
      new java.io.File(srcDir, "a.parquet").toPath)
    // sentinel file far past every real event, delivered as a SECOND batch
    // (maxFilesPerTrigger=1): advances the watermark so the append-mode
    // aggregation finalizes every real purchase's window
    val farUs = Tables.events(spark, "/root/testdata/sf0.001")
      .agg(max("ts_us")).collect()(0).getLong(0) + 365L * 86400L * 1000000L
    import spark.implicits._
    // ts must carry the SAME parquet type as the real file (timestamp_ntz
    // micros) — a file source reads the whole directory under one schema
    Seq((9000001L, farUs, 999999L, "purchase", 1.0, "{}"),
        (9000002L, farUs + 1000000L, 999999L, "view", 1.0, "{}"))
      .toDF("event_id", "ts_raw", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_raw")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$w/sentinel")
    val part = new java.io.File(s"$w/sentinel").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, new java.io.File(srcDir, "b.parquet").toPath)
    val stream = Tables.normalizeEvents(
      spark.readStream.schema(Tables.eventsRawSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.getAbsolutePath))
    val q = StreamingMonitors.streamNearestView(
        stream.filter(col("event_type") === "purchase"),
        stream.filter(col("event_type") === "view"))
      .writeStream.format("memory").queryName("nearest_stream")
      .option("checkpointLocation", s"$w/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "streaming query timed out")
    val streamed = spark.table("nearest_stream")
      .filter(col("user_id") =!= 999999L)
      .select("purchase_id", "view_event_id", "dist_us")
    // batch oracle: the same symmetric lookback candidate restriction and
    // the same (|Δt|, view_id) pick, in plain batch DataFrame ops
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us").as("p_ts_us"))
    val bv = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vu"), col("ts_us").as("v_ts_us"))
    val batch = bp.join(bv, col("user_id") === col("vu") &&
        abs(col("v_ts_us") - col("p_ts_us")) <= 3600L * 1000000L)
      .select(col("purchase_id"), col("view_id"),
        abs(col("v_ts_us") - col("p_ts_us")).as("dist_us"))
      .groupBy("purchase_id")
      .agg(min_by(struct(col("view_id"), col("dist_us")),
        struct(col("dist_us"), col("view_id"))).as("best"))
      .select(col("purchase_id"), col("best.view_id").as("view_event_id"),
        col("best.dist_us").as("dist_us"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("stateful delta/rate evicts idle keys past the TTL and revives cleanly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double, Long)]
    val events = mem.toDF().toDF("event_type", "event_id", "value", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.statefulDeltaRate(events,
        lateness = "0 seconds", stateTtl = java.time.Duration.ofMinutes(30))
      .writeStream.format("memory").queryName("delta_ttl")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    // base away from epoch 0: the initial watermark is 0, and batch-1
    // events AT the watermark sit on the late-row boundary
    def min(m: Long): Long = 946684800L * 1000000L + m * 60L * 1000000L
    try {
      // batch 1: A and B observed at t=0
      mem.addData(("A", 1L, 10.0, min(0)), ("B", 1L, 5.0, min(0)))
      q.processAllAvailable()
      // batch 2: B at t=120min. B had data before any timeout fired, so its
      // 120min-gap delta emits — eviction is clocked by the WATERMARK
      // passing a key's ts+TTL, never by gap length alone. The watermark
      // (0s lateness) advances to 120min after this batch.
      mem.addData(("B", 2L, 6.0, min(120)))
      q.processAllAvailable()
      // batch 3: A's timeout (t=30min) is now below the watermark — its
      // group fires with hasTimedOut and the state evicts
      mem.addData(("B", 3L, 7.0, min(121)))
      q.processAllAvailable()
      // batch 4: A revives — no state, so its first event emits NO delta
      mem.addData(("A", 2L, 99.0, min(122)))
      q.processAllAvailable()
      // batch 5: A deltas against the REVIVED observation, not the old one
      mem.addData(("A", 3L, 100.0, min(123)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("delta_ttl")
    val a = out.filter(col("event_type") === "A").orderBy("event_id")
      .select("event_id", "prev_value", "delta").collect()
    assert(a.map(_.getLong(0)).toSeq === Seq(3L)) // revival event emitted nothing
    assert(a(0).getDouble(1) === 99.0 && a(0).getDouble(2) === 1.0)
    // live-key path untouched by the TTL machinery
    val b = out.filter(col("event_type") === "B").orderBy("event_id").collect()
    assert(b.map(_.getLong(1)).toSeq === Seq(2L, 3L), s"B rows: ${b.mkString("; ")}")
  }

  test("observe metrics ride the pass in batch and per micro-batch in streaming") {
    import graft.ops.Monitoring
    import spark.implicits._
    val rows = Seq(
      (Some(1.0), Some(2.0), Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
      (None, None, Some(java.sql.Timestamp.valueOf("2024-01-01 00:01:00"))),
      (Some(3.0), None, None))
    val df = Monitoring.withIngestMetrics(
      rows.toDF("water_level", "flow_rate", "observation_time"))
    // the metrics land on the QueryExecution that actually runs — an
    // action on the frame itself, not a write (which plans its own QE)
    df.collect()
    val m = df.queryExecution.observedMetrics("graft_ingest")
    assert(m.getAs[Long]("n_rows") === 3L)
    assert(m.getAs[Long]("n_no_measurement") === 1L)
    assert(m.getAs[Long]("n_bad_time") === 1L)

    // streaming: same metrics appear on every micro-batch's progress
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Option[Double], Option[Double], Option[Long])]
    val sdf = Monitoring.withIngestMetrics(mem.toDF()
      .toDF("water_level", "flow_rate", "us")
      .withColumn("observation_time", timestamp_micros(col("us"))))
    val q = sdf.writeStream.format("noop")
      .option("checkpointLocation", s"${work()}/ckpt").start()
    try {
      mem.addData((Some(1.0), None, Some(1L)), (None, None, None))
      q.processAllAvailable()
      val sm = q.lastProgress.observedMetrics.get("graft_ingest")
      assert(sm.getAs[Long]("n_rows") === 2L)
      assert(sm.getAs[Long]("n_no_measurement") === 1L)
      assert(sm.getAs[Long]("n_bad_time") === 1L)
    } finally q.stop()
  }

  test("streaming incremental dedup keeps the same surviving hash set as the batch op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val seen = Seq((0L, Option("already seen")), (1L, Option.empty[String]))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, Option[String], Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.dedupIncrementStream(stream, seen)
      .writeStream.format("memory").queryName("inc_dedup_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    val t0 = 946684800L * 1000000L
    val batchRows = Seq(
      (10L, Option("already seen"), t0),      // dropped: in the seen corpus
      (11L, Option("fresh one"), t0 + 1),
      (12L, Option("fresh one"), t0 + 2),     // dropped: in-stream copy of 11
      (13L, Option.empty[String], t0 + 3),    // dropped: null text
      (14L, Option("fresh two"), t0 + 4))
    try {
      batchRows.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("inc_dedup_stream")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed === Set(11L, 14L))
    // the surviving TEXT set equals the batch op's (ids differ by contract:
    // batch keeps min-id, stream keeps first-arrival — same here)
    val batchKeep = graft.ops.Dedup.exactIncrement(
        batchRows.map(r => (r._1, r._2)).toDF("doc_id", "text"), seen)
      .collect().map(_.getLong(0)).toSet
    assert(batchKeep === streamed)
  }

  test("streaming disorder audit equals the batch statistic on in-order delivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evDf = Tables.events(spark, "/root/testdata/sf0.001")
    val arrivals = evDf.filter(col("event_type").isNotNull)
      .select("event_type", "event_id", "value", "ts_us")
      .as[(String, Long, Double, Long)].collect().sortBy(_._2)
    val mem = MemoryStream[(String, Long, Double, Long)]
    val stream = mem.toDF().toDF("event_type", "event_id", "value", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.disorderStream(stream)
      .writeStream.format("memory").queryName("disorder_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("update").start()
    // the running max must survive batch boundaries: deliver in many
    // small id-ordered batches, never one lump
    try {
      arrivals.grouped(300).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    // each batch re-emits a type's census; the final one (max n) is the answer
    val streamed = spark.table("disorder_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .groupBy(_._1).values.map(_.maxBy(_._2)).toSet
    val batch = graft.ops.Monitoring.disorderAudit(evDf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamed === batch)
  }

  test("streaming rate cap equals the batch cap on in-order delivery, across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val stream = mem.toDF().toDF("user_id", "event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val day = 24L * 3600 * 1000000L
    def t(d: Long, m: Long): Long = d * day + m * 60L * 1000000L
    val q = StreamingMonitors.rateCapStream(stream, cap = 2)
      .writeStream.format("memory").queryName("rate_cap_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    // user 7: three events on day 1 (third must drop — split across
    // batches, so the counter must survive batch boundaries), one on day
    // 2 (fresh bucket); user 8 unaffected
    val all = Seq(
      (7L, 1L, t(1, 0)), (8L, 5L, t(1, 3)),
      (7L, 2L, t(1, 5)), (7L, 3L, t(1, 9)),
      (7L, 4L, t(2, 0)))
    try {
      all.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("rate_cap_stream")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val batchKept = graft.ops.Sampling.rateCap(
        all.toDF("user_id", "event_id", "ts_us")
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withColumn("value", lit(1.0)),
        cap = 2, bucket = "day")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed === batchKept)
    assert(streamed === Set(1L, 2L, 4L, 5L))
  }

  test("streaming windowed approx-distinct equals the batch HLL on the same data") {
    val w = work()
    val stream = streamOfEvents(w)
    // complete mode: append only emits windows the final watermark has
    // passed, which would hold back the stream's tail windows forever at
    // AvailableNow termination
    val q = StreamingMonitors.approxDistinctStream(stream, windowLen = "1 hour")
      .writeStream.format("memory").queryName("approx_distinct_stream")
      .option("checkpointLocation", s"$w/ckpt")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query timed out")
    val streamed = spark.table("approx_distinct_stream")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id")).as("n"))
      .collect().map(r => r.getStruct(0).getTimestamp(0) -> r.getLong(1)).toMap
    // HLL registers merge by max — order-independent, so the streaming
    // estimate is BIT-equal to the batch one, not just close
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.values.forall(_ > 0))
  }

  test("streaming funnel equals the batch funnel on in-order delivery, across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)]
    val events = mem.toDF().toDF("user_id", "event_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val stages = Seq("view", "click", "purchase")
    val q = StreamingMonitors.streamingFunnel(events, stages, lateness = "0 seconds")
      .writeStream.format("memory").queryName("funnel_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    def min(m: Long): Long = 946684800L * 1000000L + m * 60L * 1000000L
    // four users, stages spread across batches; user 2 stalls at click;
    // user 3's click shares the view's timestamp (must not advance);
    // user 4 never enters the funnel — stage-0 presence only
    val all = Seq(
      (1L, 1L, "view", min(0)), (2L, 2L, "view", min(0)),
      (3L, 3L, "view", min(1)), (3L, 4L, "click", min(1)),
      (1L, 5L, "click", min(2)), (2L, 6L, "click", min(3)),
      (1L, 7L, "purchase", min(4)), (2L, 8L, "error", min(5)),
      (4L, 9L, "error", min(5)), (4L, 10L, "error", min(6)))
    try {
      all.grouped(3).foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // final stage per user from the advance log == batch funnel over the
    // same events — INCLUDING the stage-0 row for user 4 (presence
    // advance), and exactly one presence row per user
    val advances = spark.table("funnel_stream")
    val streamed = advances
      .groupBy("user_id").agg(max("stage_reached").as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batchSide = graft.ops.Funnel.funnel(
        all.toDF("user_id", "event_id", "event_type", "ts_us"), stages)
      .select("user_id", "stage_reached")
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(streamed === batchSide)
    assert(streamed === Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0))
    val presences = advances.filter(col("stage_reached") === 0)
      .groupBy("user_id").count().collect().map(r => r.getLong(1)).toSet
    assert(presences === Set(1L), "each user gets exactly one stage-0 presence row")
  }

  test("streaming conversion rollup equals the batch rollup on in-order delivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)]
    val events = mem.toDF().toDF("user_id", "event_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val stages = Seq("view", "click", "purchase")
    // complete mode: the memory table always holds the CURRENT counts, so
    // intermediate batches (where users sit at earlier stages) don't pile up.
    // The static checker must be off for this chain (see the operator's
    // scaladoc: the downstream aggregate is watermark-free, so the flagged
    // late-row discard cannot occur).
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val q =
      try StreamingMonitors.streamingConversionRollup(events, stages, lateness = "0 seconds")
        .writeStream.format("memory").queryName("rollup_stream")
        .option("checkpointLocation", s"${work()}/ckpt")
        .outputMode("complete").start()
      finally spark.conf.unset("spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    def min(m: Long): Long = 946684800L * 1000000L + m * 60L * 1000000L
    val all = Seq(
      (1L, 1L, "view", min(0)), (2L, 2L, "view", min(0)),
      (3L, 3L, "view", min(1)), (3L, 4L, "click", min(1)),
      (1L, 5L, "click", min(2)), (2L, 6L, "click", min(3)),
      (1L, 7L, "purchase", min(4)), (2L, 8L, "error", min(5)),
      (4L, 9L, "error", min(5)), (4L, 10L, "error", min(6)))
    try {
      all.grouped(3).foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("rollup_stream")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the FULL stage range — stage 0 (user 4: activity, never entered
    // the funnel) now has its changelog counterpart via the presence row
    val batchSide = graft.ops.Funnel.conversionRollup(
        all.toDF("user_id", "event_id", "event_type", "ts_us")
          .withColumn("ts", timestamp_micros(col("ts_us"))), stages)
      .select("stage_reached", "n_users")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batchSide)
    assert(streamed === Map(0L -> 1, 1L -> 1, 2L -> 1, 3L -> 1))
  }

  test("funnel state TTL is monotone: a late batch of older events cannot re-arm eviction earlier") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)]
    val events = mem.toDF().toDF("user_id", "event_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.streamingFunnel(events, Seq("view", "click"),
        lateness = "20 minutes", stateTtl = java.time.Duration.ofMinutes(10))
      .writeStream.format("memory").queryName("funnel_ttl_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    def min(m: Long): Long = 946684800L * 1000000L + m * 60L * 1000000L
    try {
      // user 7 views at t=100; true last activity = 100 → timeout t=110
      mem.addData((7L, 1L, "view", min(100))); q.processAllAvailable()
      // LATE older event (t=95, within the 20-min lateness). If the TTL
      // clock were batch-local it would re-arm to 95+10 = t=105.
      mem.addData((7L, 2L, "other", min(95))); q.processAllAvailable()
      // watermark → t=107 (127-20), between the buggy and true deadlines
      mem.addData((99L, 3L, "view", min(127))); q.processAllAvailable()
      // a batch with no data for user 7 while wm=107: a batch-local clock
      // would fire the timeout here and evict; the monotone clock holds on
      mem.addData((99L, 4L, "view", min(128))); q.processAllAvailable()
      // the click can only advance if user 7's state survived
      mem.addData((7L, 5L, "click", min(115))); q.processAllAvailable()
    } finally q.stop()
    val stages7 = spark.table("funnel_ttl_stream")
      .filter(col("user_id") === 7L)
      .collect().map(_.getInt(1)).toSet
    // 0 is the first-sight presence row; reaching 2 proves the state
    // survived the late batch (a batch-local TTL clock would have evicted)
    assert(stages7 === Set(0, 1, 2),
      s"expected user 7 to reach stage 2 (state retained past the late batch); got $stages7")
  }

  test("streaming resample/ffill equals the batch resampler as the watermark closes buckets") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double, Long)]
    val events = mem.toDF().toDF("event_type", "event_id", "value", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.streamingResampleFfill(events, lateness = "0 seconds")
      .writeStream.format("memory").queryName("resample_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    val h0 = 946684800L * 1000000L // on an hour boundary
    def hr(h: Long, m: Long = 0L): Long = h0 + h * 3600000000L + m * 60000000L
    // A: two obs in bucket 0 fed OUT OF ORDER inside the batch (pins the
    // greatest-(ts,id) last-value rule), then h1, a 2-hour gap, h4.
    // B: h0 then silent — every later bucket forward-fills from h0.
    val rows = Seq(
      Seq(("A", 2L, 20.0, hr(0, 30)), ("A", 1L, 10.0, hr(0, 10)), ("B", 3L, 7.0, hr(0, 5))),
      Seq(("A", 4L, 30.0, hr(1, 15))),
      Seq(("A", 5L, 40.0, hr(4, 45))))
    try {
      rows.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // sentinel key advances the watermark past bucket 4's end; the
      // second sentinel batch runs with that watermark so A/B's armed
      // event-time timeouts fire and close their buckets
      mem.addData(("zz", 100L, 0.0, hr(6))); q.processAllAvailable()
      mem.addData(("zz", 101L, 0.0, hr(6, 1))); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.ops.TimeSeries.resampleHourly(
      rows.flatten.toDF("event_type", "event_id", "value", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))))
    // compare on the batch grid's bucket range: the stream additionally
    // emits gap rows past the last observation as the watermark advances
    // (here bucket 5 for A/B) — the documented streaming-necessary delta
    val streamed = spark.table("resample_stream")
      .filter(col("event_type") =!= "zz" && col("bucket_us") <= lit(hr(4)))
      .select(col("event_type"),
        date_format(timestamp_micros(col("bucket_us")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_obs"), col("filled_value"))
    assert(streamed.count() === batch.count(),
      s"row counts: stream ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // the gap rows past the last observation ARE emitted (stream-only tail)
    val tail = spark.table("resample_stream")
      .filter(col("event_type") === "B" && col("bucket_us") === lit(hr(5))).collect()
    assert(tail.length === 1 && tail(0).getLong(2) === 0L && tail(0).getDouble(3) === 7.0)
  }

  test("streaming interpolation emits exactly the batch resampler's non-null grid rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double, Long)]
    val events = mem.toDF().toDF("event_type", "event_id", "value", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.streamingResampleInterp(events, lateness = "0 seconds")
      .writeStream.format("memory").queryName("interp_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    val h0 = 946684800L * 1000000L
    def at(h: Long, m: Long): Long = h0 + h * 3600000000L + m * 60000000L
    // A: off-grid brackets (1:00/2:00 interpolate 0:30→2:30), an exact
    // grid-point observation at 3:00 (passes through, including a same-ts
    // tie where the greater id must win), then 4:00/5:00 from 3:00→5:15.
    // B: an exact observation ON the range start and one interior bracket.
    val rows = Seq(
      Seq(("A", 1L, 10.0, at(0, 30)), ("B", 2L, 5.0, at(0, 0))),
      Seq(("A", 3L, 30.0, at(2, 30)), ("A", 5L, 77.0, at(3, 0)), ("A", 4L, 11.0, at(3, 0))),
      Seq(("A", 6L, 99.0, at(5, 15)), ("B", 7L, 47.0, at(4, 40))))
    try {
      rows.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(("zz", 100L, 0.0, at(7, 0))); q.processAllAvailable()
      mem.addData(("zz", 101L, 0.0, at(7, 1))); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.ops.TimeSeries.resampleHourlyInterp(
      rows.flatten.toDF("event_type", "event_id", "value", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))))
      .filter(col("interp_value").isNotNull)
    val streamed = spark.table("interp_stream")
      .filter(col("event_type") =!= "zz")
      .select(col("event_type"),
        date_format(timestamp_micros(col("bucket_us")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("interp_value"))
    assert(streamed.count() === batch.count(),
      s"row counts: stream ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // spot-pin the semantics the equality rides on: exact pass-through
    // with the greatest-id tie, and a linear midpoint
    val a = spark.table("interp_stream").filter(col("event_type") === "A")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(a(at(3, 0)) === 77.0, "exact-time observation must pass through with max-id tie")
    assert(math.abs(a(at(1, 0)) - (10.0 + 20.0 * 0.25)) < 1e-12)
  }

  test("resample twins absorb a late-but-valid cross-batch reorder inside the lateness bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val h0 = 946684800L * 1000000L
    def at(h: Long, m: Long): Long = h0 + h * 3600000000L + m * 60000000L
    // ffill: the late event (batch 3, ts 0:50) is OLDER than batch 2's
    // 1:10 but still above the watermark (1:10 - 30min = 0:40), and its
    // bucket 0 is still open (closes at wm >= 1:00) — it must land there
    // and become the bucket's last value
    val memF = MemoryStream[(String, Long, Double, Long)]
    val eventsF = memF.toDF().toDF("event_type", "event_id", "value", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val qF = StreamingMonitors.streamingResampleFfill(eventsF, lateness = "30 minutes")
      .writeStream.format("memory").queryName("resample_late")
      .option("checkpointLocation", s"${work()}/ckptF")
      .outputMode("append").start()
    val rowsF = Seq(
      Seq(("A", 1L, 10.0, at(0, 40))),
      Seq(("A", 2L, 20.0, at(1, 10))),
      Seq(("A", 3L, 30.0, at(0, 50))), // late, within lateness, reordered
      Seq(("A", 4L, 40.0, at(2, 20))))
    try {
      rowsF.foreach { b => memF.addData(b: _*); qF.processAllAvailable() }
      memF.addData(("zz", 100L, 0.0, at(5, 0))); qF.processAllAvailable()
      memF.addData(("zz", 101L, 0.0, at(5, 1))); qF.processAllAvailable()
    } finally qF.stop()
    val batchF = graft.ops.TimeSeries.resampleHourly(
      rowsF.flatten.toDF("event_type", "event_id", "value", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))))
    val streamedF = spark.table("resample_late")
      .filter(col("event_type") === "A" && col("bucket_us") <= lit(at(2, 0)))
      .select(col("event_type"),
        date_format(timestamp_micros(col("bucket_us")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_obs"), col("filled_value"))
    assert(streamedF.exceptAll(batchF).count() === 0 &&
      batchF.exceptAll(streamedF).count() === 0,
      s"ffill diverged from batch under reorder:\n${streamedF.collect().mkString("\n")}")
    val b0 = spark.table("resample_late")
      .filter(col("event_type") === "A" && col("bucket_us") === lit(at(0, 0))).collect()
    assert(b0.length === 1 && b0(0).getLong(2) === 2L && b0(0).getDouble(3) === 30.0,
      "late event must join its still-open bucket and win the last-value pick")

    // interp: the late 1:30 observation refines grid 1:00's bracket from
    // (0:30 -> 2:30) to (0:30 -> 1:30); it arrives when wm == 1:30, and
    // the grid instant only finalizes then — never with the stale bracket
    val memI = MemoryStream[(String, Long, Double, Long)]
    val eventsI = memI.toDF().toDF("event_type", "event_id", "value", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val qI = StreamingMonitors.streamingResampleInterp(eventsI, lateness = "1 hour")
      .writeStream.format("memory").queryName("interp_late")
      .option("checkpointLocation", s"${work()}/ckptI")
      .outputMode("append").start()
    val rowsI = Seq(
      Seq(("A", 1L, 10.0, at(0, 30))),
      Seq(("A", 2L, 50.0, at(2, 30))),
      // late but STRICTLY above the watermark (1:30 after batch 2): a row
      // at exactly ts == wm is already dropped by the stateful op's late
      // filter — the boundary the lateness contract actually guarantees
      Seq(("A", 3L, 40.0, at(1, 45))))
    try {
      rowsI.foreach { b => memI.addData(b: _*); qI.processAllAvailable() }
      memI.addData(("zz", 100L, 0.0, at(6, 0))); qI.processAllAvailable()
      memI.addData(("zz", 101L, 0.0, at(6, 1))); qI.processAllAvailable()
    } finally qI.stop()
    val batchI = graft.ops.TimeSeries.resampleHourlyInterp(
      rowsI.flatten.toDF("event_type", "event_id", "value", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us"))))
      .filter(col("interp_value").isNotNull)
    val streamedI = spark.table("interp_late")
      .filter(col("event_type") === "A")
      .select(col("event_type"),
        date_format(timestamp_micros(col("bucket_us")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("interp_value"))
    assert(streamedI.exceptAll(batchI).count() === 0 &&
      batchI.exceptAll(streamedI).count() === 0,
      s"interp diverged from batch under reorder:\n${streamedI.collect().mkString("\n")}")
    val g1 = spark.table("interp_late")
      .filter(col("event_type") === "A" && col("bucket_us") === lit(at(1, 0))).collect()
    // refined bracket (0:30 v10 -> 1:45 v40) gives 22; the stale bracket
    // (0:30 v10 -> 2:30 v50) would give 20 — the values must disagree for
    // the assertion to mean anything
    assert(g1.length === 1 && math.abs(g1(0).getDouble(2) - 22.0) < 1e-12,
      s"grid 1:00 must interpolate against the REFINED bracket, got ${g1.headOption}")
  }

  test("per-row text curation ops run unchanged on a stream and equal their batch output") {
    // quality / piiScrub / langId are pure column expressions (narrow,
    // stateless), so the SAME operator code composes with readStream with
    // no twin needed — the streaming story for most of the text surface
    // is transparency, not reimplementation. Pinned here so a refactor
    // that sneaks a shuffle/sort into these ops fails loudly: a stateless
    // op that stops being streamable is a 100 TB regression too.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      (1L, "the rain in spain stays mainly on the plain the the a a"),
      (2L, "reach me at bob@example.com or 203.0.113.7 thanks"),
      (3L, "ein langes deutsches wortungetuem zum testen"))
    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
    // the BPE pricer joins the transparent set: apply against a STORED
    // merge artifact is a pure per-row expression chain, so arriving
    // micro-batches price with the same code and no twin
    val bpeMerges = graft.ops.Bpe.train(rows.toDF("doc_id", "text"), nMerges = 4)
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] =
      Seq(
        "quality" -> (df => graft.ops.TextAnalysis.quality(df)),
        "pii" -> (df => graft.ops.TextAnalysis.piiScrub(df)),
        "langid" -> (df => graft.ops.TextAnalysis.langId(
          df.withColumn("lang", lit("en")))),
        "bpe" -> (df => graft.ops.Bpe.tokenCounts(df, bpeMerges)),
        // the tokenizer's OUTPUT face: segmentation through the
        // MergeReplay kernel is per-row too, so the emitted bpe_text
        // stream must equal the batch segmentation verbatim
        "bpe_segments" -> (df => graft.ops.Bpe.segments(df, bpeMerges)))
    val queries = ops.map { case (name, op) =>
      name -> op(streamDocs)
        .writeStream.format("memory").queryName(s"text_stream_$name")
        .option("checkpointLocation", s"${work()}/ckpt_$name")
        .outputMode("append").start()
    }
    try {
      mem.addData(rows: _*)
      queries.foreach(_._2.processAllAvailable())
    } finally queries.foreach(_._2.stop())
    ops.foreach { case (name, op) =>
      val streamed = spark.table(s"text_stream_$name")
      val batch = op(rows.toDF("doc_id", "text"))
      assert(streamed.count() === 3, s"$name emitted ${streamed.count()} rows")
      assert(streamed.exceptAll(batch).count() === 0, s"$name stream-only rows")
      assert(batch.exceptAll(streamed).count() === 0, s"$name missing rows")
    }
  }

  test("principal-axis scores run unchanged on an embedding stream") {
    // apply-side of the spectral op: the stored axis is a bounded
    // artifact and the projection a pure per-row kernel dot, so
    // arriving embeddings score with the SAME code — transparency, not
    // a twin (the BPE-pricer pattern)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val axis = graft.ops.Similarity.principalDirection(emb)
      .orderBy("dim").collect().map(_.getDouble(1)).toSeq
    val rows = emb.limit(6).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.Similarity.principalScores(
        mem.toDF().toDF("vec_id", "embedding"), axis)
      .writeStream.format("memory").queryName("principal_stream")
      .option("checkpointLocation", s"${work()}/ckpt_principal")
      .outputMode("append").start()
    try { mem.addData(rows.toSeq: _*); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("principal_stream")
    val batch = graft.ops.Similarity.principalScores(
      rows.toSeq.toDF("vec_id", "embedding"), axis)
    assert(streamed.count() === 6)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming axis drift windows equal the batch screen against the stored cuts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val axis = graft.ops.Similarity.principalDirection(emb)
      .orderBy("dim").collect().map(_.getDouble(1)).toSeq
    val cuts = graft.ops.Similarity.axisOutliers(emb)
      .select("label", "med_q", "mad_q")
    val t0 = 946684800L * 1000000L
    val rows = emb.limit(12).collect().zipWithIndex.map { case (r, i) =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2), t0 + i)
    }
    val mem = MemoryStream[(Long, Array[Float], Int, Long)]
    val stream = mem.toDF().toDF("vec_id", "embedding", "label", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.axisDriftStream(stream, axis, cuts,
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("axis_drift_stream")
      .option("checkpointLocation", s"${work()}/ckpt_axisdrift")
      .outputMode("append").start()
    try {
      rows.grouped(5).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      mem.addData((999L, rows.head._2, 0, t0 + 7200L * 1000000L)); q.processAllAvailable()
      mem.addData((998L, rows.head._2, 0, t0 + 7201L * 1000000L)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("axis_drift_stream")
      .filter(col("window_start") < timestamp_micros(lit(t0 + 3600L * 1000000L)))
      .select("label", "n", "n_out")
    // batch recomputation of the same window against the same stored cuts
    val batch = rows.toSeq.toDF("vec_id", "embedding", "label", "ts_us")
      .select(col("label"),
        floor(graft.functions.VectorFunctions.dot(
          graft.ops.Similarity.toDouble(col("embedding")),
          typedLit(axis)) * 1000000.0).cast("long").as("qv"))
      .join(cuts, "label")
      .withColumn("dev", abs(col("qv") - col("med_q")))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev") > lit(3L) * col("mad_q"), 1L).otherwise(0L)).as("n_out"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0, "stream-only window rows")
    assert(batch.exceptAll(streamed).count() === 0, "stream missed label windows")
  }

  test("streaming prototype attach assigns the same labels as the batch argmax") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val protos = graft.ops.Similarity.labelPrototypes(emb)
    val rows = emb.limit(40)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val t0 = 946684800L * 1000000L
    val mem = MemoryStream[(Long, Seq[Double], Long)]
    val stream = mem.toDF().toDF("vec_id", "embedding", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.nearestPrototypeStream(stream, protos, lateness = "0 seconds")
      .writeStream.format("memory").queryName("proto_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    try {
      rows.grouped(15).foreach { b =>
        mem.addData(b.map { case (id, v) => (id, v, t0 + id) }: _*)
        q.processAllAvailable()
      }
      mem.addData((9999L, rows.head._2, t0 + 7200L * 1000000L)); q.processAllAvailable()
      mem.addData((9998L, rows.head._2, t0 + 7201L * 1000000L)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("proto_stream").filter(col("vec_id") < 9000L)
      .collect().map(r => r.getLong(0) -> (r.get(1), r.getDouble(2))).toMap
    val batch = emb.limit(40)
      .select(col("vec_id"), graft.ops.Similarity.toDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(protos))
      .select(col("vec_id"), col("label"),
        graft.ops.Similarity.cosine(col("v"), col("cv")).as("sim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("label"), col("sim")),
        struct(col("sim"), col("label"))).as("best"))
      .select(col("vec_id"), col("best.label"), col("best.sim"))
      .collect().map(r => r.getLong(0) -> (r.get(1), r.getDouble(2))).toMap
    assert(streamed === batch)
    assert(streamed.size === 40)
  }

  test("streamed basket state serves the batch lift; replay of a batch is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey").persist()
    val rows = li.collect().map(r => (r.getLong(0), r.getLong(1)))
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("l_orderkey", "l_partkey")
    val stateDir = s"${work()}/basket-state"
    val q = StreamingMonitors.basketStateSink(stream, stateDir)
    try {
      // three order-atomic micro-batches (the merge-law precondition)
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val served = graft.ops.Incremental.serveBasketLift(
        StreamingMonitors.latestVersionedState(spark, stateDir).get)
      .orderBy("a", "b").collect().toSeq
    val direct = graft.ops.Graph.basketLift(li.toDF())
      .orderBy("a", "b").collect().toSeq
    assert(served === direct)
    // replay semantics: re-merging batch 2 against its ORIGINAL
    // predecessor (beforeBatch = 2) and overwriting v2 must leave the
    // tip state identical — the restart path never double-merges
    val prev = StreamingMonitors.latestVersionedState(spark, stateDir, beforeBatch = 2L).get
    val partial2 = graft.ops.Incremental.partialBasketStats(
      rows.filter(_._1 % 3 == 2).toSeq.toDF("l_orderkey", "l_partkey"))
    graft.ops.Incremental.mergeBasketStats(prev, partial2)
      .write.mode("overwrite").parquet(s"$stateDir/v2")
    val replayed = graft.ops.Incremental.serveBasketLift(
        StreamingMonitors.latestVersionedState(spark, stateDir).get)
      .orderBy("a", "b").collect().toSeq
    li.unpersist(blocking = false)
    assert(replayed === direct, "replaying batch 2 changed the served state")
  }

  test("streamed SemDeDup equals the batch increment across straddles; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // stored corpus: x/y/z-axis exemplars plus one stored PRUNED dup of
    // the x exemplar (10 → pruned by 0, so the served kept set is {0,1,2})
    val stored = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (10L, Array(0.999f, 0.01f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    // monotone-id batch: 100/101 duplicate stored keepers; 102 and 103
    // duplicate EACH OTHER on the w axis (near no stored vector) and are
    // deliberately split across micro-batches — the straddle the
    // earlier-segment probe exists for; 104 is novel
    val batchRows = Seq(
      (100L, Array(0.998f, 0.02f, 0.0f, 0.0f)), //   mb0: pruned by 0
      (101L, Array(0.0f, 0.999f, 0.01f, 0.0f)), //   mb1: pruned by 1
      (102L, Array(0.03f, 0.0f, 0.0f, 0.999f)), //   mb1: kept (novel)
      (103L, Array(0.031f, 0.0f, 0.0f, 0.9989f)), // mb2: pruned by 102
      (104L, Array(0.0f, 0.03f, 0.0f, -0.999f))) // mb2: kept (novel)
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val stateDir = s"${work()}/semdedup-state"
    val q = StreamingMonitors.semanticDedupStateSink(stream, stateDir,
      stored, threshold = 0.9, k = 3)
    try {
      mem.addData(batchRows.take(1): _*); q.processAllAvailable()
      mem.addData(batchRows.slice(1, 3): _*); q.processAllAvailable()
      mem.addData(batchRows.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    def decisions(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "center_id", "pruned_by", "keep", "max_cos")
        .orderBy("vec_id").collect().map(_.toSeq)
    val streamed = decisions(
      StreamingMonitors.semanticDedupState(spark, stateDir).get)
    val direct = decisions(graft.ops.Similarity.semanticDedupIncrement(
      stored, batchRows.toDF("vec_id", "embedding"), threshold = 0.9, k = 3))
    assert(streamed === direct)
    assert(streamed.length === 5)
    // the straddle really exercised the earlier-segment probe: 103
    // (micro-batch 2) was pruned by 102 (micro-batch 1)
    val byId = StreamingMonitors.semanticDedupState(spark, stateDir).get
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("keep"),
          if (r.isNullAt(r.fieldIndex("pruned_by"))) None
          else Some(r.getAs[Long]("pruned_by")))).toMap
    assert(byId(103L) === ((0L, Some(102L))))
    assert(byId(102L) === ((1L, None)))
    assert(byId(104L) === ((1L, None)))
    assert(byId(100L) === ((0L, Some(0L))))
    assert(byId(101L) === ((0L, Some(1L))))
    // replay: recompute batch 2 against its ORIGINAL predecessors
    // (beforeBatch = 2) and overwrite v2 — the tip must not change
    val centers = graft.ops.Similarity.semanticCenters(stored, 3)
    val kept = graft.ops.Similarity.semanticKeptOf(
      graft.ops.Similarity.assignToCenters(centers)(stored), 0.9)
    graft.ops.Similarity.semanticDedupIncrementAgainst(centers, kept,
        StreamingMonitors.semanticDedupState(spark, stateDir, beforeBatch = 2L)
          .map(_.select("vec_id", "center_id", "v")),
        batchRows.drop(3).toDF("vec_id", "embedding"), 0.9)
      .write.mode("overwrite").parquet(s"$stateDir/v2")
    val replayed = decisions(
      StreamingMonitors.semanticDedupState(spark, stateDir).get)
    assert(replayed === direct, "replaying batch 2 changed the state")
  }

  test("sweepVersionedState keeps the newest snapshots, spares in-flight dirs, and is idempotent") {
    import spark.implicits._
    val stateDir = s"${work()}/sweep-state"
    (0L to 4L).foreach { i =>
      Seq((i, i * 10)).toDF("k", "n").write.parquet(s"$stateDir/v$i")
    }
    // an UNCOMMITTED dir (crashed/in-flight write: no _SUCCESS) must
    // never be touched — its batch may still be writing
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$stateDir/v9"))
    // a reader that listed BEFORE the sweep reads the newest version,
    // which the sweep keeps — capture it now, collect after
    val preSweep = StreamingMonitors.latestVersionedState(spark, stateDir).get
    StreamingMonitors.sweepVersionedState(spark, stateDir, keep = 2)
    def dirs() = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath.getName).sorted.toSeq
    assert(dirs() === Seq("v3", "v4", "v9"),
      s"sweep must keep the newest 2 committed + the in-flight dir: ${dirs()}")
    assert(preSweep.collect().map(_.getLong(1)).toSeq === Seq(40L),
      "the pre-sweep reader's newest-version frame must survive")
    // idempotent: a second sweep changes nothing
    StreamingMonitors.sweepVersionedState(spark, stateDir, keep = 2)
    assert(dirs() === Seq("v3", "v4", "v9"))
    // the safety floor is enforced, not advisory
    val e = intercept[IllegalArgumentException] {
      StreamingMonitors.sweepVersionedState(spark, stateDir, keep = 1)
    }
    assert(e.getMessage.contains("keep"), s"unexpected: $e")
    // ... and the replay contract holds post-sweep: the one replayable
    // batch (5, after newest committed 4) still finds its predecessor
    assert(StreamingMonitors.latestVersionedState(spark, stateDir,
      beforeBatch = 5L).get.collect().map(_.getLong(0)).toSeq === Seq(4L))
  }

  test("SemDeDup segment compaction: fold preserves the state, the replay window, and the live stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stored = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val batchRows = Seq(
      (100L, Array(0.998f, 0.02f, 0.0f, 0.0f)), //   mb0: pruned by 0
      (101L, Array(0.0f, 0.999f, 0.01f, 0.0f)), //   mb1: pruned by 1
      (102L, Array(0.03f, 0.0f, 0.0f, 0.999f)), //   mb1: kept (novel)
      (103L, Array(0.031f, 0.0f, 0.0f, 0.9989f)), // mb2: pruned by 102
      (104L, Array(0.0f, 0.03f, 0.0f, -0.999f))) // mb2: kept (novel)
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val stateDir = s"${work()}/semdedup-compact"
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dirs() = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath.getName).sorted.toSeq
    def decisions() = StreamingMonitors.semanticDedupState(spark, stateDir)
      .get.select("vec_id", "center_id", "pruned_by", "keep", "max_cos")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val q = StreamingMonitors.semanticDedupStateSink(stream, stateDir,
      stored, threshold = 0.9, k = 3)
    try {
      mem.addData(batchRows.take(1): _*); q.processAllAvailable()
      mem.addData(batchRows.slice(1, 3): _*); q.processAllAvailable()
      val before = decisions()
      // compact MID-STREAM: folds v0 into base c0, keeps v1 (the
      // newest segment — the replay window) live
      StreamingMonitors.compactSemanticDedupState(spark, stateDir)
      assert(dirs() === Seq("c0", "v1"), s"unexpected layout: ${dirs()}")
      assert(decisions() === before, "the fold changed the served state")
      // the live stream continues against base + live segments: mb2's
      // 103 must still find its pruner 102 (sitting in v1)
      mem.addData(batchRows.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    val direct = graft.ops.Similarity.semanticDedupIncrement(
      stored, batchRows.toDF("vec_id", "embedding"), threshold = 0.9, k = 3)
      .select("vec_id", "center_id", "pruned_by", "keep", "max_cos")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(decisions() === direct,
      "stream-through-a-compaction diverged from the batch increment")
    // compact again: v1 folds, v2 (newest) stays live; state unchanged
    StreamingMonitors.compactSemanticDedupState(spark, stateDir)
    assert(dirs() === Seq("c1", "v2"), s"unexpected layout: ${dirs()}")
    assert(decisions() === direct)
    // the replay window survives the fold: batch 2 re-reads its
    // ORIGINAL predecessors (now the base) and overwrites only v2
    val centers = graft.ops.Similarity.semanticCenters(stored, 3)
    val kept = graft.ops.Similarity.semanticKeptOf(
      graft.ops.Similarity.assignToCenters(centers)(stored), 0.9)
    graft.ops.Similarity.semanticDedupIncrementAgainst(centers, kept,
        StreamingMonitors.semanticDedupState(spark, stateDir, beforeBatch = 2L)
          .map(_.select("vec_id", "center_id", "v")),
        batchRows.drop(3).toDF("vec_id", "embedding"), 0.9)
      .write.mode("overwrite").parquet(s"$stateDir/v2")
    assert(decisions() === direct, "post-compaction replay changed the state")
    // ... and a beforeBatch INSIDE the base is refused loudly
    val e = intercept[IllegalArgumentException] {
      StreamingMonitors.semanticDedupState(spark, stateDir, beforeBatch = 1L)
    }
    assert(e.getMessage.contains("base"), s"unexpected: $e")
    // idempotent when nothing new: re-compacting the (base, one live
    // segment) layout must not fold the replay window away
    StreamingMonitors.compactSemanticDedupState(spark, stateDir)
    assert(dirs() === Seq("c1", "v2"))
  }

  test("heavy sketch state survives a query RESTART: batch ids continue, versions accumulate") {
    // the real restart path (not simulated replay): a file-source query
    // with a checkpoint is stopped and restarted with new files — the
    // restarted query continues from the next batch id, merges against
    // the pre-restart state version, and the served result equals the
    // batch computation over everything either run saw
    val w = work()
    val srcDir = new java.io.File(s"$w/incoming"); srcDir.mkdirs()
    val stateDir = s"$w/heavy-state"; val ckpt = s"$w/ckpt"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").persist()
    def writeSlice(name: String, parity: Int): Unit =
      docs.filter(pmod(col("doc_id"), lit(2)) === parity)
        .write.mode("overwrite").parquet(s"$srcDir/$name")
    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .parquet(s"$srcDir/*")
      val q = StreamingMonitors.heavySketchSink(stream, stateDir,
        checkpoint = Some(ckpt), availableNow = true)
      assert(q.awaitTermination(120000), "streaming query timed out")
    }
    writeSlice("a", 0)
    run()
    val v0 = StreamingMonitors.latestVersionedState(spark, stateDir).get.collect()
    writeSlice("b", 1)
    run()
    val served = graft.ops.HeavyHitters.serveHeavyTokens(docs.toDF(),
        StreamingMonitors.latestVersionedState(spark, stateDir).get)
      .orderBy("token").collect().map(_.toSeq)
    val direct = graft.ops.HeavyHitters.heavyTokens(docs.toDF())
      .orderBy("token").collect().map(_.toSeq)
    docs.unpersist(blocking = false)
    assert(served === direct)
    assert(v0.nonEmpty, "first run must have committed a state version")
  }

  test("serving a heavy state without its total row fails loudly, not with a wrong gate") {
    import spark.implicits._
    val bogus = Seq((Option("tok"), 5L)).toDF("token", "cnt")
    val ex = intercept[RuntimeException] {
      graft.ops.HeavyHitters.serveHeavyTokens(
        Tables.documents(spark, "/root/testdata/sf0.001"), bogus)
    }
    assert(ex.getMessage.contains("total row"), s"wrong failure: ${ex.getMessage}")
  }

  test("serving a basket state without its total row fails loudly, not empty") {
    import spark.implicits._
    val bogus = Seq((Option(1L), Option(2L), 3L)).toDF("a", "b", "n")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Incremental.serveBasketLift(bogus)
    }
    assert(ex.getMessage.contains("total-orders row"), s"wrong failure: ${ex.getMessage}")
  }

  test("streamed hourly state serves the exact batch CUSUM, buckets straddling batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "event_id", "value", "ts_us").persist()
    val rows = ev.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val mem = MemoryStream[(String, Long, Double, Long)]
    val stream = mem.toDF().toDF("event_type", "event_id", "value", "ts_us")
    val stateDir = s"${work()}/hourly-state"
    val q = StreamingMonitors.hourlyStateSink(stream, stateDir)
    try {
      // split by EVENT ID parity — hour buckets deliberately straddle
      // micro-batches; plain-sum merging makes that harmless (the
      // contrast with the basket sink's order-atomicity requirement)
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._2 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.TimeSeries.cusumServe(state)
      .orderBy("key", "bucket_us").collect().map(_.toSeq)
    val direct = graft.ops.TimeSeries.cusumDrift(ev.toDF())
      .orderBy("key", "bucket_us").collect().map(_.toSeq)
    // the SAME maintained state table serves the burst statistic too —
    // one seam, every prefix-dependent hourly consumer
    val burstServed = graft.ops.TimeSeries.burstServe(state)
      .orderBy("key").collect().map(_.toSeq)
    val burstDirect = graft.ops.TimeSeries.burstHours(ev.toDF())
      .orderBy("key").collect().map(_.toSeq)
    ev.unpersist(blocking = false)
    assert(served === direct)
    assert(served.nonEmpty)
    assert(burstServed === burstDirect)
    assert(burstServed.nonEmpty)
    // ... and the EWMA level tracker: third consumer of the same seam
    val ewmaServed = graft.ops.TimeSeries.ewmaServe(state.select("key", "bucket_us", "swq"))
      .orderBy("key", "bucket_us").collect().map(_.toSeq)
    val ewmaDirect = graft.ops.TimeSeries.ewmaHourly(ev.toDF())
      .orderBy("key", "bucket_us").collect().map(_.toSeq)
    assert(ewmaServed === ewmaDirect)
    assert(ewmaServed.nonEmpty)
    // ... and the Holt level+trend forecaster: the same seam serves the
    // two-recurrence fold too, because it only reads (key, bucket_us, swq)
    val holtServed = graft.ops.TimeSeries.holtServe(state.select("key", "bucket_us", "swq"))
      .orderBy("key", "bucket_us").collect().map(_.toSeq)
    val holtDirect = graft.ops.TimeSeries.holtHourly(ev.toDF())
      .orderBy("key", "bucket_us").collect().map(_.toSeq)
    assert(holtServed === holtDirect)
    assert(holtServed.nonEmpty)
  }

  test("streamed (day, hour, type) state serves exact batch diversity AND diurnal peak") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "event_id", "ts_us").persist()
    val rows = ev.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mem = MemoryStream[(String, Long, Long)]
    val stream = mem.toDF().toDF("event_type", "event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val stateDir = s"${work()}/typetime-state"
    val q = StreamingMonitors.typeTimeStateSink(stream, stateDir)
    try {
      // event-id parity split: days and hours straddle micro-batches;
      // plain-sum count merging makes that harmless
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._2 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val evB = ev.withColumn("ts", timestamp_micros(col("ts_us"))).toDF()
    val divServed = graft.ops.Expectations.dailyDiversityServe(state)
      .orderBy("day").collect().map(_.toSeq)
    val divDirect = graft.ops.Expectations.dailyDiversity(evB)
      .orderBy("day").collect().map(_.toSeq)
    // the SAME maintained state table serves the diurnal peak too
    val diuServed = graft.ops.Monitoring.diurnalServe(state)
      .orderBy("event_type").collect().map(_.toSeq)
    val diuDirect = graft.ops.Monitoring.diurnalPeak(evB)
      .orderBy("event_type").collect().map(_.toSeq)
    ev.unpersist(blocking = false)
    assert(divServed === divDirect)
    assert(divServed.nonEmpty)
    assert(diuServed === diuDirect)
    assert(diuServed.nonEmpty)
  }

  test("streamed scorecard counters serve the exact batch source scorecard") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "source", "lang").persist()
    val rows = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val mem = MemoryStream[(Long, String, String, String)]
    val stream = mem.toDF().toDF("doc_id", "text", "source", "lang")
    val stateDir = s"${work()}/scorecard-state"
    val q = StreamingMonitors.scorecardStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.TextAnalysis.sourceScorecardServe(state)
      .orderBy("source").collect().map(_.toSeq)
    val direct = graft.ops.TextAnalysis.sourceScorecard(docs.toDF())
      .orderBy("source").collect().map(_.toSeq)
    docs.unpersist(blocking = false)
    assert(served === direct)
    assert(served.nonEmpty)
  }

  test("streamed HLL registers serve the exact batch estimate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id").persist()
    val rows = events.collect().map(r => (r.getLong(0), r.getLong(1)))
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("event_id", "user_id")
    val stateDir = s"${work()}/hll-state"
    val q = StreamingMonitors.hllStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.Sketches.hllEstimate(state).collect()(0)
    val direct = graft.ops.Sketches.hllEstimate(
      graft.ops.Sketches.hllRegisters(events.toDF(), col("user_id"))).collect()(0)
    events.unpersist(blocking = false)
    assert(served.toSeq === direct.toSeq)
    assert(served.getAs[Long]("n_present") > 0L)
  }

  test("streamed CMS cells serve the exact batch point estimates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val stateDir = s"${work()}/cms-state"
    val q = StreamingMonitors.cmsStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val probes = Seq("the", "a", "data").toDF("w")
    val served = graft.ops.Sketches.cmsEstimate(state, probes)
      .orderBy("w").collect().map(_.toSeq)
    val batchCounts = docs.toDF()
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val direct = graft.ops.Sketches.cmsEstimate(
      graft.ops.Sketches.cmsCells(batchCounts), probes)
      .orderBy("w").collect().map(_.toSeq)
    docs.unpersist(blocking = false)
    assert(served === direct)
    assert(served.nonEmpty)
  }

  test("streamed bloom bits serve the exact batch membership pre-filter") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val stateDir = s"${work()}/bloom-state"
    val q = StreamingMonitors.bloomStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val probes = docs.toDF().limit(30)
    val served = graft.ops.Sketches.bloomProbe(state, probes, col("text"))
      .orderBy("v").collect().map(_.toSeq)
    val direct = graft.ops.Sketches.bloomProbe(
      graft.ops.Sketches.bloomBits(docs.toDF(), col("text")), probes, col("text"))
      .orderBy("v").collect().map(_.toSeq)
    docs.unpersist(blocking = false)
    assert(served === direct)
    // every streamed-in doc is a member: no false negatives through the sink
    assert(served.nonEmpty && direct.nonEmpty)
  }

  test("streamed KMV sketch serves the exact batch distinct estimate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id").persist()
    val rows = events.collect().map(r => (r.getLong(0), r.getLong(1)))
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("event_id", "user_id")
    val stateDir = s"${work()}/kmv-state"
    val q = StreamingMonitors.kmvStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.Sketches.kmvEstimate(state).collect()(0)
    val direct = graft.ops.Sketches.kmvEstimate(
      graft.ops.Sketches.kmvSketch(events.toDF(), col("user_id"))).collect()(0)
    events.unpersist(blocking = false)
    assert(served.toSeq === direct.toSeq)
    assert(served.getAs[Long]("n_in_sketch") > 0L)
  }

  test("streamed quantile sample serves the exact batch sketch quantiles") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("event_id").isNotNull)
      .select("event_id", "event_type", "value").persist()
    val rows = events.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, String, Double)]
    val stream = mem.toDF().toDF("event_id", "event_type", "value")
    val stateDir = s"${work()}/qsk-state"
    val q = StreamingMonitors.quantileStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.Sketches.quantilesFromSample(state, Seq("event_type"))
      .orderBy("event_type").collect().map(_.toSeq)
    val direct = graft.ops.Sketches.quantilesFromSample(
      graft.ops.Sketches.quantileSample(events.toDF(), Seq("event_type"),
        col("event_id"), col("value")), Seq("event_type"))
      .orderBy("event_type").collect().map(_.toSeq)
    events.unpersist(blocking = false)
    assert(served === direct)
    assert(served.nonEmpty)
  }

  test("streamed token counts serve the exact batch source entropy") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "source").persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "text", "source")
    val stateDir = s"${work()}/entropy-state"
    val q = StreamingMonitors.entropyStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.TextAnalysis.sourceEntropyServe(state)
      .orderBy("source").collect().map(_.toSeq)
    val direct = graft.ops.TextAnalysis.sourceEntropy(docs.toDF())
      .orderBy("source").collect().map(_.toSeq)
    docs.unpersist(blocking = false)
    assert(served === direct)
    assert(served.nonEmpty)
  }

  test("streamed calibration histogram serves the exact batch floor sweep") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val stateDir = s"${work()}/calibration-state"
    val q = StreamingMonitors.calibrationStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.TextAnalysis.qualityCalibrationServe(state)
      .orderBy("floor_pct").collect().map(_.toSeq)
    val direct = graft.ops.TextAnalysis.qualityCalibration(docs.toDF())
      .orderBy("floor_pct").collect().map(_.toSeq)
    docs.unpersist(blocking = false)
    assert(served === direct)
    assert(served.length === 21)
  }

  test("streamed bigram scoring equals batch scoring against the stored model") {
    // scoring is per-doc against a FIXED model (stream-static joins,
    // zero cross-batch state), so the union of per-batch outputs must
    // equal one batch scoring of the union corpus — including docs
    // with out-of-model bigrams (the add-one backoff floor)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val train = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "b c a"))
      .toDF("doc_id", "text")
    val model = graft.ops.TextAnalysis.bigramModel(train).persist()
    model.count()
    val live = Seq((10L, "a b c"), (11L, "z q"), (12L, "solo"), (13L, "c a b"))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val outDir = s"${work()}/bigram-scores"
    val q = StreamingMonitors.bigramScoreSink(stream, model, outDir)
    try {
      Seq(0L, 1L).foreach { m =>
        mem.addData(live.filter(_._1 % 2 == m): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$outDir/*")
      .orderBy("doc_id").collect().map(_.toSeq)
    val batch = graft.ops.TextAnalysis.bigramScoreFrom(
      live.toDF("doc_id", "text"), model)
      .orderBy("doc_id").collect().map(_.toSeq)
    model.unpersist(blocking = false)
    assert(streamed === batch)
    assert(streamed.length === 4)
  }

  test("streamed langid routing equals batch scoring against the stored NB model") {
    // same stream-static contract as the bigram scorer: labels depend
    // only on the doc's own chars and the FIXED model, so per-batch
    // outputs union to exactly one batch scoring of the union — OOV
    // docs route by the add-one floor either way
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val train = Seq((1L, "the quick brown fox", "en"),
      (2L, "der schnelle braune fuchs", "de"),
      (3L, "el rapido zorro marron", "es"))
      .toDF("doc_id", "text", "lang")
    val model = graft.ops.TextAnalysis.langIdModel(train).persist()
    model.count()
    val live = Seq((10L, "the lazy dog", "en"), (11L, "den faulen hund", "de"),
      (12L, "#### @@@@", "en"), (13L, "el perro perezoso", "es"))
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "text", "lang")
    val outDir = s"${work()}/langid-scores"
    val q = StreamingMonitors.langIdScoreSink(stream, model, outDir)
    try {
      Seq(0L, 1L).foreach { m =>
        mem.addData(live.filter(_._1 % 2 == m): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$outDir/*")
      .orderBy("doc_id").collect().map(_.toSeq)
    val batch = graft.ops.TextAnalysis.langIdScoreFrom(
      live.toDF("doc_id", "text", "lang"), model)
      .orderBy("doc_id").collect().map(_.toSeq)
    model.unpersist(blocking = false)
    assert(streamed === batch)
    assert(streamed.length === 4)
  }

  test("streamed Gram state serves the exact batch spectral axes, any batch split") {
    // the Gram is an order-free integer monoid, so the merged state
    // after ANY micro-batch split must serve axes BIT-equal to the
    // one-shot corpus train — loadings, lambdas, and the deflated
    // component 2, doubles and all
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label")
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val stream = mem.toDF().toDF("vec_id", "embedding", "label")
    val stateDir = s"${work()}/gram-state"
    val q = StreamingMonitors.gramStateSink(stream, stateDir)
    try {
      // three uneven batches, plus an empty flush between them
      Seq(0L, 1L, 2L).foreach { m =>
        mem.addData(rows.filter(_._1 % 3 == m).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.Similarity.principalDirectionFromState(state)
      .orderBy("dim").collect().map(_.toSeq)
    val direct = graft.ops.Similarity.principalDirection(emb)
      .orderBy("dim").collect().map(_.toSeq)
    assert(served === direct) // bit-for-bit, lambdas included
    val served2 = graft.ops.Similarity.principalDirectionsFromState(state, components = 2)
      .orderBy("component", "dim").collect().map(_.toSeq)
    val direct2 = graft.ops.Similarity.principalDirections(emb, components = 2)
      .orderBy("component", "dim").collect().map(_.toSeq)
    assert(served2 === direct2)
    // serving a frame that is not a Gram state fails loudly
    val junk = Seq((0, 0, 1L)).toDF("i", "j", "v")
    val e = intercept[RuntimeException](
      graft.ops.Similarity.principalDirectionFromState(junk))
    assert(e.getMessage.contains("empty corpus") ||
      e.getMessage.contains("sentinel"))
  }

  test("streamed centroid partials serve the exact batch centroid drift vs a reference") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label").persist()
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    // reference corpus = even vec_ids; the "live" stream = odd vec_ids,
    // delivered in two micro-batches straddling every label
    val live = rows.filter(_._1 % 2 == 1)
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val stream = mem.toDF().toDF("vec_id", "embedding", "label")
    val stateDir = s"${work()}/centroid-state"
    val q = StreamingMonitors.centroidStateSink(stream, stateDir)
    try {
      Seq(1L, 3L).foreach { m =>
        mem.addData(live.filter(_._1 % 4 == m).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val ref = graft.ops.Similarity.centroidPartials(emb.filter(col("vec_id") % 2 === 0))
    val served = graft.ops.Similarity.centroidDriftFromPartials(ref, state)
      .orderBy("label").collect().map(_.toSeq)
    val direct = graft.ops.Similarity.centroidDrift(emb.toDF(), col("vec_id") % 2 === 1)
      .orderBy("label").collect().map(_.toSeq)
    emb.unpersist(blocking = false)
    assert(served === direct)
    assert(served.nonEmpty)
  }

  test("streamed pair batches close to the same components as one full resolution") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the real pair list of the test corpus, delivered as three
    // micro-batches in arrival order a nightly ingest would produce
    val pairs = graft.ops.Dedup.ngramJaccard(
      Tables.documents(spark, "/root/testdata/sf0.001"))
      .select("id1", "id2").persist()
    val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("id1", "id2")
    val stateDir = s"${work()}/closure-state"
    val q = StreamingMonitors.closureStateSink(stream, stateDir)
    try {
      Seq(0L, 1L, 2L).foreach { m =>
        mem.addData(rows.filter { case (a, b) => (a + b) % 3 == m }.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.ops.Graph.connectedComponents(pairs.toDF())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.unpersist(blocking = false)
    assert(state === full)
    assert(state.nonEmpty)
  }

  test("streamed BPE vocab state equals the full word counts; retrain-from-state equals full") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(60).persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val stateDir = s"${work()}/bpe-vocab-state"
    val q = StreamingMonitors.bpeVocabStateSink(stream, stateDir)
    try {
      Seq(0L, 1L, 2L).foreach { m =>
        mem.addData(rows.filter(_._1 % 3 == m).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val stateMap = state.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.ops.Bpe.wordCounts(docs.toDF())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stateMap === full)
    assert(stateMap.nonEmpty)
    // and the nightly retrain from the state needs zero corpus reads
    assert(graft.ops.Bpe.trainFromCounts(state, nMerges = 4) ===
      graft.ops.Bpe.train(docs.toDF(), nMerges = 4))
    docs.unpersist(blocking = false)
  }

  test("streamed ANN index segments equal the full rebuild and serve exact top-k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label").persist()
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    // fixed offline models (the artifact contract): trained once, never
    // touched by the stream
    val cents = graft.ops.Similarity.trainCentroids(emb.toDF(), k = 16, iterations = 2)
    val books = graft.ops.Similarity.trainPqCodebooks(emb.toDF(), iterations = 2)
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val stream = mem.toDF().toDF("vec_id", "embedding", "label")
    val stateDir = s"${work()}/ann-index-state"
    val q = StreamingMonitors.annIndexStateSink(stream, stateDir, cents, books)
    try {
      // three micro-batches by vec_id residue — arbitrary arrival order
      Seq(0L, 1L, 2L).foreach { m =>
        mem.addData(rows.filter(_._1 % 3 == m).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.annIndexState(spark, stateDir).get
    // the segmented state is bit-equal to one full rebuild over the union
    val direct = graft.ops.Similarity.buildIndex(emb.toDF(), cents, books)
    assert(state.orderBy("vec_id", "sub").collect().map(_.toSeq)
      === direct.orderBy("vec_id", "sub").collect().map(_.toSeq))
    // and serving straight from the maintained state reproduces the
    // one-shot operator exactly
    val served = graft.ops.Similarity.serveFromIndex(emb.toDF(), state, cents, books)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val oneShot = graft.ops.Similarity.topKIvfPq(emb.toDF(),
      centroids = Some(cents), codebooks = Some(books))
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    emb.unpersist(blocking = false)
    assert(served.nonEmpty)
    assert(served === oneShot)
  }

  test("index log compaction folds segments into one base and stays append-consistent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label").persist()
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val cents = graft.ops.Similarity.trainCentroids(emb.toDF(), k = 8, iterations = 1)
    val books = graft.ops.Similarity.trainPqCodebooks(emb.toDF(), kCode = 8, iterations = 1)
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val stateDir = s"${work()}/ann-compact-state"
    val q = StreamingMonitors.annIndexStateSink(
      mem.toDF().toDF("vec_id", "embedding", "label"), stateDir, cents, books)
    try {
      Seq(0L, 1L).foreach { m =>
        mem.addData(rows.filter(r => r._1 % 3 == m && r._1 % 3 != 2).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val before = StreamingMonitors.annIndexState(spark, stateDir).get
      .orderBy("vec_id", "sub").collect().map(_.toSeq)
    StreamingMonitors.compactAnnIndexState(spark, stateDir)
    // state is unchanged through compaction, and the log is now ONE base
    val after = StreamingMonitors.annIndexState(spark, stateDir).get
      .orderBy("vec_id", "sub").collect().map(_.toSeq)
    assert(after === before)
    val dirs = new java.io.File(stateDir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("c")) === 1, s"expected one base in ${dirs.mkString(",")}")
    assert(!dirs.exists(_.startsWith("v")), s"segments not swept: ${dirs.mkString(",")}")
    // compaction with nothing new is a no-op
    StreamingMonitors.compactAnnIndexState(spark, stateDir)
    assert(StreamingMonitors.annIndexState(spark, stateDir).get
      .orderBy("vec_id", "sub").collect().map(_.toSeq) === before)
    // stray dirs that merely LOOK like versions must not crash the
    // listing: a bare "v" (no digits) with a _SUCCESS inside
    val stray = new java.io.File(stateDir, "v")
    stray.mkdirs()
    new java.io.File(stray, "_SUCCESS").createNewFile()
    assert(StreamingMonitors.annIndexState(spark, stateDir).get
      .orderBy("vec_id", "sub").collect().map(_.toSeq) === before)
    // later appends land as segments AFTER the base and read consistently
    val late = emb.filter(col("vec_id") % 3 === 2)
    graft.ops.Similarity.indexIncrement(late, cents, books)
      .write.mode("overwrite").parquet(s"$stateDir/v100")
    val full = graft.ops.Similarity.buildIndex(emb.toDF(), cents, books)
      .orderBy("vec_id", "sub").collect().map(_.toSeq)
    val served = StreamingMonitors.annIndexState(spark, stateDir).get
      .orderBy("vec_id", "sub").collect().map(_.toSeq)
    emb.unpersist(blocking = false)
    assert(served === full)
  }

  test("streamed heavy-hitter sketch serves the batch heavy set against the archive") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val stateDir = s"${work()}/heavy-state"
    val q = StreamingMonitors.heavySketchSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = StreamingMonitors.latestVersionedState(spark, stateDir).get
    val served = graft.ops.HeavyHitters.serveHeavyTokens(docs.toDF(), state)
      .orderBy("token").collect().map(_.toSeq)
    val direct = graft.ops.HeavyHitters.heavyTokens(docs.toDF())
      .orderBy("token").collect().map(_.toSeq)
    docs.unpersist(blocking = false)
    assert(served === direct)
    assert(served.nonEmpty, "the corpus should have heavy tokens")
    // the state is bounded: at most k-1 candidates + the total row
    assert(state.count() <= 32L)
  }

  test("streaming incremental near-dup emits the batch minhashIncrement pair set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val common = (1 to 30).map(i => s"w$i").mkString(" ")
    val seen = Seq(
      (100L, s"$common tail one two"),   // near-dup target of doc 1
      (101L, "completely different text about rivers and stations"),
      (102L, common))                    // exact-copy target of doc 2
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.nearDupIncrementStream(stream, seen, lateness = "0 seconds")
      .writeStream.format("memory").queryName("neardup_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    val t0 = 946684800L * 1000000L
    val batchRows = Seq(
      (1L, s"$common tail one three", t0),     // near-dups seen 100 (and 102)
      (2L, common, t0 + 1),                    // exact copy of seen 102
      (3L, "nothing in common with anything here at all", t0 + 2))
    try {
      batchRows.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // advance the watermark past the pair window so the append agg emits
      mem.addData((999L, "zz yy xx", t0 + 7200L * 1000000L)); q.processAllAvailable()
      mem.addData((998L, "zz yy xx", t0 + 7201L * 1000000L)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("neardup_stream")
      .filter(col("batch_id") < 900L)
      .select("batch_id", "seen_id", "jaccard")
    val batch = graft.ops.Dedup.minhashIncrement(
      batchRows.map(r => (r._1, r._2)).toDF("doc_id", "text"), seen)
      .select(col("batch_id"), col("seen_id"), col("jaccard"))
    assert(streamed.count() > 0, "expected at least one near-dup pair")
    assert(streamed.exceptAll(batch).count() === 0,
      "stream emitted a pair (or jaccard) the batch op does not")
    assert(batch.exceptAll(streamed).count() === 0,
      "stream missed a pair the batch op finds")
    // and the exact copy scores 1.0 through the streaming path
    val copies = spark.table("neardup_stream")
      .filter(col("batch_id") === 2L && col("seen_id") === 102L).collect()
    assert(copies.length === 1 && copies(0).getDouble(2) === 1.0)
  }

  test("streaming decontamination emits the batch containment pair set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evalDocs = Seq(
      (100L, "a b c d e"),            // fully quoted by train 1
      (101L, "p q r s t u"))          // only 1/4 shingles in train 2
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingMonitors.decontaminateStream(stream, evalDocs,
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("decon_stream")
      .option("checkpointLocation", s"${work()}/ckpt")
      .outputMode("append").start()
    val t0 = 946684800L * 1000000L
    val batchRows = Seq(
      (1L, "x a b c d e y", t0),          // containment 1.0 vs eval 100
      (2L, "a b c d q r s", t0 + 1),      // 2/3 vs 100; 1/4 vs 101 (dropped)
      (3L, "nothing shared here at all with benchmarks", t0 + 2))
    try {
      batchRows.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // advance the watermark past the pair window so the append agg emits
      mem.addData((999L, "zz yy xx ww vv", t0 + 7200L * 1000000L)); q.processAllAvailable()
      mem.addData((998L, "zz yy xx ww vv", t0 + 7201L * 1000000L)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("decon_stream")
      .filter(col("train_id") < 900L)
      .select("train_id", "eval_id", "containment")
    // batch comparison: the SAME docs through ops/Dedup.decontaminate
    // (uncapped, the streaming face's contract)
    val combined = (evalDocs.collect().map(r => (r.getLong(0), r.getString(1))) ++
      batchRows.map(r => (r._1, r._2))).toSeq.toDF("doc_id", "text")
    val batch = graft.ops.Dedup.decontaminate(combined, col("doc_id") >= 100L)
      .select("train_id", "eval_id", "containment")
    assert(streamed.count() > 0, "expected at least one contaminated pair")
    assert(streamed.exceptAll(batch).count() === 0,
      "stream emitted a pair (or score) the batch op does not")
    assert(batch.exceptAll(streamed).count() === 0,
      "stream missed a pair the batch op finds")
    // the fully-quoted eval doc scores exactly 1.0 through the stream
    val full = spark.table("decon_stream")
      .filter(col("train_id") === 1L && col("eval_id") === 100L).collect()
    assert(full.length === 1 && full(0).getDouble(2) === 1.0)
  }

  test("streamed tar census serves the exact batch sums; malformed shards counted, not dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(200).persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val stateDir = s"${work()}/tar-state"
    val q = StreamingMonitors.tarStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val served = StreamingMonitors.latestVersionedState(spark, stateDir)
      .get.collect()(0)
    val direct = graft.ops.Multimodal.tarCensus(
      graft.ops.Multimodal.tarStats(
        graft.ops.Multimodal.tarFrame(docs.toDF()))).collect()(0)
    docs.unpersist(blocking = false)
    assert(served.toSeq === direct.toSeq)
    assert(served.getAs[Long]("n_shards") === rows.length.toLong)
    assert(served.getAs[Long]("n_malformed") === 0L)
    assert(served.getAs[Long]("chksum_ok") === served.getAs[Long]("n_members"))
    // the block accounting closes: headers + bodies + pads + terminators
    assert(512L * served.getAs[Long]("n_members") + served.getAs[Long]("body_bytes")
      + served.getAs[Long]("pad_bytes") + 1024L * served.getAs[Long]("n_shards")
      === served.getAs[Long]("total_bytes"))
    // a malformed shard is COUNTED in-band, contributing to no sum
    val mixed = Seq((0L, "not a tar".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val cen = graft.ops.Multimodal.tarCensus(
      graft.ops.Multimodal.tarStats(mixed)).collect()(0)
    assert(cen.getAs[Long]("n_shards") === 1L)
    assert(cen.getAs[Long]("n_malformed") === 1L)
    assert(cen.getAs[Long]("n_members") === 0L)
    assert(cen.getAs[Long]("total_bytes") === 0L)
  }

  test("streamed zip census serves the exact batch sums across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(200).persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val stateDir = s"${work()}/zip-state"
    val q = StreamingMonitors.zipStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val served = StreamingMonitors.latestVersionedState(spark, stateDir)
      .get.collect()(0)
    val direct = graft.ops.Multimodal.zipCensus(
      graft.ops.Multimodal.zipStats(
        graft.ops.Multimodal.zipFrame(docs.toDF()))).collect()(0)
    docs.unpersist(blocking = false)
    assert(served.toSeq === direct.toSeq)
    assert(served.getAs[Long]("n_archives") === rows.length.toLong)
    assert(served.getAs[Long]("crc_ok") === served.getAs[Long]("n_entries"))
    assert(served.getAs[Long]("cd_ok") === served.getAs[Long]("n_entries"))
  }

  test("streamed WARC census serves the exact batch sums; malformed files counted, not dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").persist()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val stateDir = s"${work()}/warc-state"
    val q = StreamingMonitors.warcStateSink(stream, stateDir)
    try {
      (0 until 3).foreach { i =>
        mem.addData(rows.filter(_._1 % 3 == i).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val served = StreamingMonitors.latestVersionedState(spark, stateDir)
      .get.collect()(0)
    val direct = graft.ops.Multimodal.warcCensus(
      graft.ops.Multimodal.warcStats(
        graft.ops.Multimodal.warcFrame(docs.toDF()))).collect()(0)
    docs.unpersist(blocking = false)
    assert(served.toSeq === direct.toSeq)
    assert(served.getAs[Long]("n_files") === rows.length.toLong)
    assert(served.getAs[Long]("n_malformed") === 0L)
    assert(served.getAs[Long]("payload_bytes") + served.getAs[Long]("header_bytes")
      === served.getAs[Long]("total_bytes"))
    // malformed files are COUNTED and contribute to no byte column
    val mixed = Seq(
      (0L, "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 2\r\n\r\nok\r\n\r\n"
        .getBytes("UTF-8")),
      (1L, "not a warc stream at all".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val cen = graft.ops.Multimodal.warcCensus(
      graft.ops.Multimodal.warcStats(mixed)).collect()(0)
    assert(cen.getAs[Long]("n_files") === 2L)
    assert(cen.getAs[Long]("n_malformed") === 1L)
    assert(cen.getAs[Long]("n_records") === 1L)
    assert(cen.getAs[Long]("payload_bytes") === 2L)
    assert(cen.getAs[Long]("payload_bytes") + cen.getAs[Long]("header_bytes")
      === cen.getAs[Long]("total_bytes"))
  }

  test("the segment reader re-lists when a listed segment vanishes before its read") {
    // a compaction racing the reader: the first listing of the state dir
    // reports a committed segment v2 that is gone by the time the reader
    // resolves its paths. The reader must re-list and read the real ones.
    val dir = s"${work()}/vanishing-state"
    spark.range(0, 5).toDF("vec_id").write.parquet(s"$dir/v0")
    spark.range(5, 9).toDF("vec_id").write.parquet(s"$dir/v1")
    spark.sparkContext.hadoopConfiguration.set(
      "fs.vanishing.impl", classOf[VanishingSegmentFileSystem].getName)
    VanishingSegmentFileSystem.arm(s"$dir/v2")
    val state = StreamingMonitors.annIndexState(spark, s"vanishing://$dir").get
    assert(VanishingSegmentFileSystem.vanished, "the reader never listed the vanishing segment")
    assert(state.orderBy("vec_id").collect().map(_.getLong(0)).toSeq === (0L until 9L))
  }
}

/** The local file system under the `vanishing:` scheme, plus one phantom
  * committed segment: until something resolves the phantom dir itself,
  * listings of its parent report it and its `_SUCCESS` marker exists; the
  * first lookup of the dir finds it deleted, and it is gone from then on. */
class VanishingSegmentFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import VanishingSegmentFileSystem.{phantom, vanished}
  override def getScheme: String = "vanishing"
  override def getUri: java.net.URI = java.net.URI.create("vanishing:///")
  private def live: Option[String] = phantom.filter(_ => !vanished)
  override def listStatus(f: Path): Array[FileStatus] = {
    val real = super.listStatus(f)
    live.filter(p => new Path(p).getParent.toUri.getPath == f.toUri.getPath)
      .fold(real)(p => real :+ new FileStatus(0L, true, 1, 0L, 0L, makeQualified(new Path(p))))
  }
  override def getFileStatus(f: Path): FileStatus = {
    val p = f.toUri.getPath
    if (live.exists(ph => p == s"$ph/_SUCCESS"))
      new FileStatus(0L, false, 1, 0L, 0L, makeQualified(f))
    else if (live.contains(p)) {
      VanishingSegmentFileSystem.vanished = true
      throw new java.io.FileNotFoundException(s"$f was deleted")
    } else super.getFileStatus(f)
  }
  override def exists(f: Path): Boolean =
    try { getFileStatus(f); true }
    catch { case _: java.io.FileNotFoundException => false }
}

object VanishingSegmentFileSystem {
  @volatile private var phantom: Option[String] = None
  @volatile var vanished: Boolean = false
  def arm(dir: String): Unit = { phantom = Some(dir); vanished = false }
}
