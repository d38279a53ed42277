package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.{Hrfco, Thresholds}
import graft.streaming.StreamingPipeline

/** A micro-batch through the streaming wiring must match the batch
  * pipeline's output (same `ops` functions, so any divergence is wiring). */
class StreamingSpec extends SparkSpec {

  test("streaming pipeline over file source matches the batch pipeline") {
    val base = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, "stream").toString
    val source = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, source)
    // the file stream source needs a directory of files
    val srcDir = new java.io.File(s"$work/incoming"); srcDir.mkdirs()
    Files.copy(new java.io.File(s"$source/events.parquet").toPath,
      new java.io.File(srcDir, "events.parquet").toPath)

    val paths = StreamingPipeline.SinkPaths(
      s"$work/archive", s"$work/timeseries", s"$work/raw", s"$work/dlq")
    val q = StreamingPipeline.start(
      spark, srcDir.getAbsolutePath, ev, paths, s"$work/ckpt", wlMax = 300.0)
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamed = spark.read.parquet(paths.timeseries)
    val batch = Hrfco.pipeline(ev, Thresholds.fromEvents(ev), wlMax = 300.0)
      .select(col("wlobscd").as("observation_code"), col("water_level"),
        col("flow_rate"), col("is_anomaly"), col("flood_warning_level"))

    assert(streamed.count() === batch.count())
    assert(streamed.select("observation_code", "water_level", "flow_rate",
      "is_anomaly", "flood_warning_level").exceptAll(batch).count() === 0)
    // DLQ holds exactly the parse failures (sink failures would append more)
    val dlq = spark.read.parquet(paths.dlq)
    val expectedParseFailures = graft.ops.Hrfco.dlqEnvelope(
      graft.ops.Hrfco.rawObservations(ev)).count()
    assert(dlq.count() === expectedParseFailures && expectedParseFailures > 0)
  }

  test("dimension-refresh liveness: a mid-stream dim swap reclassifies on the next micro-batch") {
    // The reference refreshes the station dim on an independent 10-minute
    // NiFi upsert loop while the stream keeps running
    // (HRFCO_Data_Pipeline.json processors 1-8) — so swapping the snapshot
    // between triggers must change classification WITHOUT a stream
    // restart. Two identical single-row source files + maxFilesPerTrigger=1
    // force two micro-batches; the provider serves lenient thresholds to
    // the first and strict ones after, so the same observation must come
    // out NORMAL once and CRITICAL once.
    import spark.implicits._
    val base = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, "dimswap").toString
    val srcDir = new java.io.File(s"$work/incoming"); srcDir.mkdirs()

    val ts = java.time.LocalDateTime.of(2025, 12, 9, 15, 30)
    def writeEvent(id: Long, name: String): Unit = {
      val staging = s"$work/stage_$name"
      Seq((id, ts, 42L, "click", 100.0, """{"k": "5.0"}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, new java.io.File(srcDir, s"$name.parquet").toPath)
    }
    writeEvent(1L, "a"); writeEvent(2L, "b")

    def dim(attwl: Double, wrnwl: Double, almwl: Double, srswl: Double) =
      Seq(("click", attwl, wrnwl, almwl, srswl, "station click", "addr click"))
        .toDF("wlobscd", "attwl", "wrnwl", "almwl", "srswl", "obsnm", "addr")
    val lenient = dim(900, 920, 950, 980) // wl=100 below everything → NORMAL
    val strict = dim(10, 20, 30, 40)      // wl=100 ≥ srswl → CRITICAL
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)

    val paths = StreamingPipeline.SinkPaths(
      s"$work/archive", s"$work/timeseries", s"$work/raw", s"$work/dlq")
    val q = StreamingPipeline.startWithDim(
      spark, srcDir.getAbsolutePath,
      () => if (calls.incrementAndGet() == 1) lenient else strict,
      paths, s"$work/ckpt", maxFilesPerTrigger = 1, wlMax = 300.0)
    assert(q.awaitTermination(120000), "streaming query timed out")

    assert(q.recentProgress.count(_.numInputRows > 0) === 2,
      "expected exactly two micro-batches")
    val out = spark.read.parquet(paths.timeseries)
      .select("flood_warning_level").as[String].collect().sorted.toSeq
    assert(out === Seq("CRITICAL", "NORMAL"),
      s"dim swap did not reclassify mid-stream: $out")
  }

  test("streaming at volume: sf0.1 through fanout+DLQ in backpressured micro-batches matches batch") {
    val base = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, "streamvol").toString
    val source = "/root/testdata/sf0.1"
    val ev = Tables.events(spark, source)

    // split the raw events into 8 files so AvailableNow +
    // maxFilesPerTrigger=2 drives FOUR micro-batches — state (file-source
    // log, checkpoint) and output correctness must hold across batch
    // boundaries, not just on a single-batch run
    val srcDir = s"$work/incoming"
    spark.read.parquet(s"$source/events.parquet").repartition(8)
      .write.parquet(srcDir)

    val paths = StreamingPipeline.SinkPaths(
      s"$work/archive", s"$work/timeseries", s"$work/raw", s"$work/dlq")
    val q = StreamingPipeline.start(
      spark, srcDir, ev, paths, s"$work/ckpt", maxFilesPerTrigger = 2, wlMax = 300.0)
    assert(q.awaitTermination(300000), "streaming query timed out")

    // backpressure really split the work: >= 4 triggers, none of which
    // ingested the whole corpus (bounded per-trigger state/memory)
    val progresses = q.recentProgress.filter(_.numInputRows > 0)
    val total = progresses.map(_.numInputRows).sum
    assert(progresses.length >= 4, s"expected >= 4 micro-batches, got ${progresses.length}")
    assert(progresses.map(_.numInputRows).max < total,
      "a single trigger ingested the whole corpus — backpressure did not bound the batch")

    // exact output equality with the batch pipeline, both directions
    val streamed = spark.read.parquet(paths.timeseries)
      .select("observation_code", "water_level", "flow_rate", "is_anomaly", "flood_warning_level")
    val batch = graft.ops.Hrfco.pipeline(ev, Thresholds.fromEvents(ev), wlMax = 300.0)
      .select(col("wlobscd").as("observation_code"), col("water_level"),
        col("flow_rate"), col("is_anomaly"), col("flood_warning_level"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)

    // DLQ accumulated exactly the parse failures across all batches
    val expectedParseFailures = graft.ops.Hrfco.dlqEnvelope(
      graft.ops.Hrfco.rawObservations(ev)).count()
    assert(spark.read.parquet(paths.dlq).count() === expectedParseFailures)
    assert(expectedParseFailures > 0)
  }

  /** 1000 synthetic events (four station types, `k` payloads; ids that
    * are multiples of 107 become parse failures) as `files` source files
    * under a fresh work directory, so `maxFilesPerTrigger = 1` drives that
    * many micro-batches. Returns the work directory, the source directory
    * and the events as the batch pipeline reads them. */
  private def eventSource(name: String, files: Int): (String, String, DataFrame) = {
    val base = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, name).toString
    val stations = array(Seq("click", "purchase", "view", "signup").map(lit): _*)
    spark.range(1, 1001, 1, files).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1765290600L) + col("id") * 60).cast("timestamp_ntz").as("ts"),
      (col("id") % 50).as("user_id"),
      element_at(stations, (col("id") % 4 + 1).cast("int")).as("event_type"),
      (col("id") % 250).cast("double").as("value"),
      format_string("{\"k\": \"%d.5\"}", col("id") % 9).as("props"))
      .write.parquet(s"$work/incoming")
    (work, s"$work/incoming", Tables.normalizeEvents(spark.read.parquet(s"$work/incoming")))
  }

  test("a failing sink routes every stored row to the DLQ after the parse failures, batch after batch") {
    // the storage-failure DLQ append must wait for the parse-failure one:
    // two appends in flight on one parquet directory share the committer's
    // `_temporary` directory, and the first job commit deletes the other's
    // task output. DLQ data files take two seconds to close here, so an
    // append that did not wait would overlap the parse-failure write.
    val (work, srcDir, ev) = eventSource("dlqorder", 2)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.slowclose.impl", classOf[SlowCloseFileSystem].getName)
    val notADir = new java.io.File(s"$work/not-a-dir"); notADir.createNewFile()
    val paths = StreamingPipeline.SinkPaths(s"$work/archive",
      notADir.getAbsolutePath + "/ts", s"$work/raw", s"slowclose://$work/dlq")
    val q = StreamingPipeline.start(
      spark, srcDir, ev, paths, s"$work/ckpt", maxFilesPerTrigger = 1, wlMax = 300.0)
    // a failed batch would make this throw: the query must survive the sink
    assert(q.awaitTermination(120000), "streaming query timed out")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "expected >= 2 micro-batches")

    val stored = Hrfco.pipeline(ev, Thresholds.fromEvents(ev), wlMax = 300.0).count()
    val parseFailures = Hrfco.dlqEnvelope(Hrfco.rawObservations(ev)).count()
    assert(stored > 0 && parseFailures > 0)
    assert(spark.read.parquet(paths.raw).count() === stored)
    val dlq = spark.read.parquet(paths.dlq)
    assert(dlq.count() === parseFailures + stored)
    assert(dlq.filter(col("errorReason") === "Storage failed for: timeseries").count() === stored)
  }

  /** Run the query `start` returns to termination, and return it with the
    * jobs that started meanwhile. */
  private def withJobs(start: => StreamingQuery): (StreamingQuery, Seq[BatchJob]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(java.util.Properties, Seq[Int])]
    val shuffled = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.properties, e.stageIds))
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (Option(e.stageInfo.taskMetrics).exists(_.shuffleWriteMetrics.recordsWritten > 0))
          shuffled.add(e.stageInfo.stageId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = start
      assert(q.awaitTermination(120000), "streaming query timed out")
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      (q, jobs.asScala.toSeq.map { case (props, stages) =>
        def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
        BatchJob(prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong),
          stages.exists(shuffled.contains))
      })
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Jobs per micro-batch of `q`, in batch order. */
  private def perBatch(q: StreamingQuery, jobs: Seq[BatchJob]): Seq[Seq[BatchJob]] =
    jobs.filter(_.queryId.contains(q.id.toString)).groupBy(_.batchId).toSeq
      .sortBy(_._1).map(_._2)

  private def sinkPaths(work: String) = StreamingPipeline.SinkPaths(
    s"$work/archive", s"$work/timeseries", s"$work/raw", s"$work/dlq")

  test("every job the stream runs carries its query id, sink writes included") {
    // the fused write runs on the micro-batch thread; without the batch's
    // local properties its job would escape stop()'s job-group cancel.
    // Two queries in a row, so properties kept from the first query would
    // show up with the wrong id in the second.
    val (work, srcDir, ev) = eventSource("queryid", 2)
    val dim = Thresholds.fromEvents(ev)
    Seq("first", "second").foreach { run =>
      val (q, seen) = withJobs(StreamingPipeline.startWithDim(spark, srcDir, () => dim,
        sinkPaths(s"$work/$run"), s"$work/$run/ckpt", maxFilesPerTrigger = 1, wlMax = 300.0))
      assert(q.recentProgress.count(_.numInputRows > 0) === 2, "expected two micro-batches")
      assert(seen.forall(_.queryId.contains(q.id.toString)), s"$run query: " +
        s"${seen.count(!_.queryId.contains(q.id.toString))} of ${seen.size} jobs lack its id")
      // every micro-batch ran a job, and every job belongs to a batch
      assert(seen.map(_.batchId).distinct.sorted === Seq(Some(0L), Some(1L)),
        s"$run query: batch ids of its jobs: ${seen.map(_.batchId)}")
    }
  }

  test("a micro-batch is one write job, plus the dim's jobs in the first batch") {
    // the parse-failure DLQ and the three stores are one fused job; the
    // first batch also derives the threshold dim (an aggregate: a map job
    // and a result job) and collects it, and every batch probes the
    // collected rows inside the write's own stage
    val (work, srcDir, ev) = eventSource("jobcount", 4)
    val (q, seen) = withJobs(StreamingPipeline.start(spark, srcDir, ev,
      sinkPaths(work), s"$work/ckpt", maxFilesPerTrigger = 1, wlMax = 300.0))
    val counts = perBatch(q, seen).map(_.size)
    assert(counts === Seq(3, 1, 1, 1), s"jobs per micro-batch: $counts")
  }

  test("a sink that fails inside its task is aborted alone; its rows go to the DLQ") {
    // the timeseries file system refuses every data file, so that sink
    // fails inside the fused task, after its job setup succeeded
    val (work, srcDir, ev) = eventSource("taskfail", 2)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.failpart.impl", classOf[FailingPartFileSystem].getName)
    val paths = StreamingPipeline.SinkPaths(s"$work/archive",
      s"failpart://$work/timeseries", s"$work/raw", s"$work/dlq")
    val q = StreamingPipeline.start(
      spark, srcDir, ev, paths, s"$work/ckpt", maxFilesPerTrigger = 1, wlMax = 300.0)
    assert(q.awaitTermination(120000), "streaming query timed out")
    assert(q.recentProgress.count(_.numInputRows > 0) === 2, "expected two micro-batches")

    val stored = Hrfco.pipeline(ev, Thresholds.fromEvents(ev), wlMax = 300.0)
    val parseFailures = Hrfco.dlqEnvelope(Hrfco.rawObservations(ev)).count()
    assert(stored.count() > 0 && parseFailures > 0)
    // the other sinks hold every stored row
    assert(graft.sinks.Sinks.readArchive(spark, paths.archive).count() === stored.count())
    assert(spark.read.parquet(paths.raw).select("raw_payload", "wlobscd")
      .exceptAll(stored.select("raw_payload", "wlobscd")).count() === 0)
    assert(spark.read.parquet(paths.raw).count() === stored.count())
    // the failed sink committed no data file
    val tsDir = new java.io.File(s"$work/timeseries")
    val committed = if (!tsDir.exists()) Nil else Files.walk(tsDir.toPath).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toList
    assert(committed.isEmpty, s"committed timeseries files: $committed")
    // the DLQ holds the parse failures and every stored row of both batches
    val dlq = spark.read.parquet(paths.dlq)
    assert(dlq.count() === parseFailures + stored.count())
    assert(dlq.filter(col("errorReason") === "Storage failed for: timeseries")
      .select(col("originalValue")).exceptAll(stored.select("raw_payload")).count() === 0)
    assert(dlq.filter(col("errorReason") === "Storage failed for: timeseries").count() ===
      stored.count())
  }

  /** Two one-row source files under a fresh work directory, so
    * `maxFilesPerTrigger = 1` drives two micro-batches over the same
    * observation: station `click`, water level 100. */
  private def twoObservations(name: String): (String, String) = {
    import spark.implicits._
    val base = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, name).toString
    val srcDir = new java.io.File(s"$work/incoming"); srcDir.mkdirs()
    val ts = java.time.LocalDateTime.of(2025, 12, 9, 15, 30)
    Seq(1L -> "a", 2L -> "b").foreach { case (id, file) =>
      val staging = s"$work/stage_$file"
      Seq((id, ts, 42L, "click", 100.0, """{"k": "5.0"}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, new java.io.File(srcDir, s"$file.parquet").toPath)
    }
    (work, srcDir.getAbsolutePath)
  }

  test("dim memo: rewriting the dim's parquet file reclassifies on the next micro-batch") {
    import spark.implicits._
    val (work, srcDir) = twoObservations("dimfile")
    // one dim file, rewritten in place between the two batches: the same
    // path and plan, a new length and modification time
    val dimFile = new java.io.File(s"$work/dim/dim.parquet")
    dimFile.getParentFile.mkdirs()
    def writeDim(name: String, srswl: Double): Unit = {
      val staging = s"$work/dimstage_$name"
      Seq(("click", srswl - 30, srswl - 20, srswl - 10, srswl, s"station $name", "addr"))
        .toDF("wlobscd", "attwl", "wrnwl", "almwl", "srswl", "obsnm", "addr")
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dimFile.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeDim("lenient", 980) // wl=100 below everything → NORMAL
    val before = dimFile.length()
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = StreamingPipeline.startWithDim(spark, srcDir, () => {
      if (calls.incrementAndGet() == 2) writeDim("strict and renamed", 40) // wl=100 ≥ srswl → CRITICAL
      Tables.parquet(spark, dimFile.getAbsolutePath)
    }, sinkPaths(work), s"$work/ckpt", maxFilesPerTrigger = 1, wlMax = 300.0)
    assert(q.awaitTermination(120000), "streaming query timed out")
    assert(calls.get === 2 && dimFile.length() != before)
    val out = spark.read.parquet(s"$work/timeseries")
      .select("flood_warning_level").as[String].collect().sorted.toSeq
    assert(out === Seq("CRITICAL", "NORMAL"), s"the rewritten dim did not reclassify: $out")
  }

  test("dim memo: the same dim over unchanged files runs no dim job after the first batch") {
    val (work, srcDir, ev) = eventSource("dimmemo", 3)
    val dim = Thresholds.fromEvents(ev)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val (q, seen) = withJobs(StreamingPipeline.startWithDim(spark, srcDir,
      () => { calls.incrementAndGet(); dim }, sinkPaths(work), s"$work/ckpt",
      maxFilesPerTrigger = 1, wlMax = 300.0))
    val batches = perBatch(q, seen)
    assert(batches.size === 3 && calls.get === 3, "the provider is consulted once per batch")
    assert(batches.head.exists(_.shuffles), "the first batch derives the dim")
    assert(batches.tail.forall(_.forall(!_.shuffles)),
      s"dim jobs after the first batch: ${batches.map(_.count(_.shuffles))}")
    // and the memoized rows classify as the dim itself does
    val streamed = spark.read.parquet(s"$work/timeseries")
      .select("observation_code", "water_level", "flow_rate", "is_anomaly", "flood_warning_level")
    val batch = Hrfco.pipeline(ev, dim, wlMax = 300.0)
      .select(col("wlobscd").as("observation_code"), col("water_level"),
        col("flow_rate"), col("is_anomaly"), col("flood_warning_level"))
    assert(streamed.exceptAll(batch).count() === 0 && batch.exceptAll(streamed).count() === 0)
  }

  test("dim memo: an RDD-backed dim is derived again on every batch") {
    val (work, srcDir, ev) = eventSource("dimrdd", 3)
    val derived = Thresholds.fromEvents(ev)
    val rows = derived.collect().toSeq
    val evaluated = spark.sparkContext.longAccumulator("dim rows evaluated")
    val dim = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1)
      .map { r => evaluated.add(1); r }, derived.schema)
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val q = StreamingPipeline.startWithDim(spark, srcDir,
      () => { marks.add(evaluated.value); dim }, sinkPaths(work), s"$work/ckpt",
      maxFilesPerTrigger = 1, wlMax = 300.0)
    assert(q.awaitTermination(120000), "streaming query timed out")
    marks.add(evaluated.value)
    val perBatch = marks.asScala.toSeq.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    assert(perBatch.size === 3 && perBatch.forall(_ >= rows.size),
      s"dim rows evaluated per batch: $perBatch")
    assert(spark.read.parquet(s"$work/timeseries").count() ===
      Hrfco.pipeline(ev, derived, wlMax = 300.0).count())
  }

  test("micro-batches after the first compile no class") {
    // a per-batch instant pasted into generated source (a folded
    // `current_timestamp()`) would compile the classify stage, the DLQ
    // envelope and both sink projections again on every batch. The dim
    // provider runs once at the start of each batch, so the compile counts
    // it records split the run by batch.
    val (work, srcDir, ev) = eventSource("codegen", 3)
    val dim = Thresholds.fromEvents(ev)
    def compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val paths = StreamingPipeline.SinkPaths(
      s"$work/archive", s"$work/timeseries", s"$work/raw", s"$work/dlq")
    val q = StreamingPipeline.startWithDim(spark, srcDir, () => { marks.add(compiled); dim },
      paths, s"$work/ckpt", maxFilesPerTrigger = 1, wlMax = 300.0)
    assert(q.awaitTermination(120000), "streaming query timed out")
    marks.add(compiled)
    val perBatch = marks.asScala.toSeq.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    assert(perBatch.size === 3, s"expected three micro-batches: $perBatch")
    assert(perBatch.tail === Seq(0L, 0L), s"classes compiled per batch: $perBatch")
    assert(spark.read.parquet(paths.timeseries).count() ===
      Hrfco.pipeline(ev, dim, wlMax = 300.0).count())
    // one instant per batch, shared by both sinks and the DLQ
    def instants(path: String, c: org.apache.spark.sql.Column) =
      spark.read.parquet(path).select(c).distinct().collect().map(_.getLong(0)).sorted.toSeq
    val created = instants(paths.timeseries, unix_millis(col("created_at")))
    assert(created.size === 3, s"created_at values: $created")
    assert(instants(paths.raw, unix_millis(col("created_at"))) === created)
    assert(instants(paths.dlq, col("timestamp")) === created)
  }

  /** Analyzer and optimizer rules run so far in this JVM. */
  private def ruleRuns: Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().numRuns

  test("a micro-batch after the first builds its write frame without running an analyzer rule") {
    // the dim provider runs at the start of each batch's body and the
    // archive's job setup is the write's first step once the frame is
    // built, before the optimizer: rule runs between the two are the
    // analysis of the batch's write frame
    val (work, srcDir, ev) = eventSource("analysis", 3)
    val dim = Thresholds.fromEvents(ev)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.setupmark.impl", classOf[SetupMarkFileSystem].getName)
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    SetupMarkFileSystem.onSetup = () => marks.add("setup" -> ruleRuns)
    val paths = StreamingPipeline.SinkPaths(s"setupmark://$work/archive",
      s"$work/timeseries", s"$work/raw", s"$work/dlq")
    try {
      val q = StreamingPipeline.startWithDim(spark, srcDir,
        () => { marks.add("dim" -> ruleRuns); dim }, paths, s"$work/ckpt",
        maxFilesPerTrigger = 1, wlMax = 300.0)
      assert(q.awaitTermination(120000), "streaming query timed out")
    } finally SetupMarkFileSystem.onSetup = () => ()
    val seq = marks.asScala.toSeq
    val perBatch = seq.zipWithIndex.collect { case (("dim", at), i) =>
      seq.drop(i + 1).collectFirst { case ("setup", to) => to - at }.getOrElse(-1L)
    }
    assert(perBatch.size === 3, s"expected three micro-batches: $seq")
    assert(perBatch.head > 0, s"the first batch analyzes its write plan: $perBatch")
    assert(perBatch.tail === Seq(0L, 0L), s"rule runs building each batch's frame: $perBatch")
    assert(spark.read.parquet(paths.timeseries).count() ===
      Hrfco.pipeline(ev, dim, wlMax = 300.0).count())
  }

  test("a micro-batch after the first neither optimizes, plans nor generates code for its write") {
    // the dim provider runs at the start of each batch's body and the DLQ's
    // job commit (its `_SUCCESS` marker) ends the write, the body's last
    // step when no store fails. Between the two, the first batch optimizes,
    // plans and generates the write's one stage; later batches run that
    // stage over their own rows. This also pins the plan shape the reuse
    // needs: one whole-stage-codegen stage over the batch's RDD.
    val (work, srcDir, ev) = eventSource("compiled", 3)
    val dim = Thresholds.fromEvents(ev)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.commitmark.impl", classOf[CommitMarkFileSystem].getName)
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    CommitMarkFileSystem.onCommit = () => marks.add("commit" -> ruleRuns)
    val paths = StreamingPipeline.SinkPaths(s"$work/archive", s"$work/timeseries",
      s"$work/raw", s"commitmark://$work/dlq")
    val generated = CodegenLog.during { thread =>
      if (thread.startsWith("stream execution thread")) marks.add("codegen" -> 0L)
    } {
      val q = StreamingPipeline.startWithDim(spark, srcDir,
        () => { marks.add("dim" -> ruleRuns); dim }, paths, s"$work/ckpt",
        maxFilesPerTrigger = 1, wlMax = 300.0)
      try assert(q.awaitTermination(120000), "streaming query timed out")
      finally CommitMarkFileSystem.onCommit = () => ()
    }
    assert(generated > 0, "whole-stage code generation was not seen")
    val seq = marks.asScala.toSeq
    val batches = seq.zipWithIndex.collect { case (("dim", at), i) =>
      val body = seq.drop(i + 1).takeWhile(_._1 != "dim")
      val end = body.collectFirst { case ("commit", to) => to - at }.getOrElse(-1L)
      (end, body.takeWhile(_._1 != "commit").count(_._1 == "codegen"))
    }
    assert(batches.size === 3, s"expected three micro-batches: $seq")
    val (rules, stages) = batches.unzip
    assert(rules.head > 0 && stages.head > 0, s"the first batch plans its write: $batches")
    assert(rules.tail === Seq(0L, 0L), s"rule runs per batch: $rules")
    assert(stages.tail === Seq(0, 0), s"stage sources generated per batch: $stages")
    val stored = Hrfco.pipeline(ev, dim, wlMax = 300.0)
    assert(spark.read.parquet(paths.timeseries).count() === stored.count())
    assert(spark.read.parquet(paths.dlq).count() ===
      Hrfco.dlqEnvelope(Hrfco.rawObservations(ev)).count())
  }

  test("a compiled micro-batch write equals a fresh write of its batch, across days and dims") {
    import spark.implicits._
    // every branch of the write: ids 107 and 214 are parse failures, 103
    // and 206 required-field drops (blank station), `error` has no dim row
    // (NO_THRESHOLD), every tenth water level (400) is out of range. Each
    // batch is an RDD, as a foreachBatch batch is, so the first batch of a
    // dim keeps the write's stage and later batches of that dim reuse it
    val stations = array(Seq("click", "purchase", "view", "error").map(lit): _*)
    def batch(from: Long) = {
      val built = Tables.normalizeEvents(spark.range(from, from + 300, 1, 2).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1765290600L) + col("id") * 60).cast("timestamp_ntz").as("ts"),
        (col("id") % 50).as("user_id"),
        element_at(stations, (col("id") % 4 + 1).cast("int")).as("event_type"),
        when(col("id") % 10 === 0, lit(400.0)).otherwise((col("id") % 250).cast("double"))
          .as("value"),
        format_string("{\"k\": \"%d.5\"}", col("id") % 9).as("props")))
      // as ForeachBatchSink hands a batch over: its rows' RDD as a plan leaf
      org.apache.spark.sql.graft.Bridge.ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(built.schema),
        built.queryExecution.toRdd)(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
    }
    def dim(srswl: Double, stations: Seq[String]) = stations
      .map(s => (s, srswl - 30, srswl - 20, srswl - 10, srswl, s"station $s", "addr"))
      .toDF("wlobscd", "attwl", "wrnwl", "almwl", "srswl", "obsnm", "addr")
    def lookup(d: DataFrame) = Hrfco.lookupDim(d.collect().toSeq, d.schema).get
    val base = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, "compiled-equal").toString
    val (compiled, fresh) = (sinkPaths(s"$work/compiled"), sinkPaths(s"$work/fresh"))
    val (lenient, strict) = (lookup(dim(980, Seq("click", "purchase", "view"))),
      lookup(dim(120, Seq("click", "purchase", "view"))))
    // a repeated station: the dim is joined, not looked up, so the write is
    // not one stage and every batch plans it
    val repeated = Hrfco.joinDim(dim(150, Seq("click", "purchase", "view", "view")))
    val (first, second) = (batch(1), batch(301))
    val plan = new StreamingPipeline.WritePlan(compiled, wlMax = 300.0)
    def at(s: String) = java.time.Instant.parse(s)
    val steps = Seq(
      (first, lenient, at("2025-12-31T23:59:30Z")),
      (second, lenient, at("2026-01-01T00:00:30Z")),
      (first, strict, at("2026-02-03T04:05:06Z")),
      (second, strict, at("2026-03-04T05:06:07Z")),
      (first, repeated, at("2026-04-05T06:07:08Z")),
      (second, repeated, at("2026-05-06T07:08:09Z")))
    val runs = steps.map { case (b, join, instant) =>
      b.queryExecution.analyzed // as a foreachBatch batch arrives
      val before = ruleRuns
      val failed = plan(b, join, instant)
      val planned = ruleRuns - before
      val routed = Hrfco.routedFromRaw(Hrfco.rawObservations(b), join,
        tsFallback = graft.functions.InstantFunctions.batchTimestamp(instant), wlMax = 300.0)
      assert(failed.isEmpty && graft.sinks.FusedWriter.write(routed,
        StreamingPipeline.destinations(fresh, routed, instant)).isEmpty, s"$instant: failures")
      planned
    }
    assert(runs(1) === 0 && runs(3) === 0,
      s"a warm batch of a one-stage write plans nothing: $runs")
    assert(Seq(0, 2, 4, 5).forall(runs(_) > 0), s"first batches and joins plan: $runs")

    def same(name: String, read: String => DataFrame,
             path: StreamingPipeline.SinkPaths => String): Unit = {
      val (got, want) = (read(path(compiled)), read(path(fresh)))
      assert(got.schema === want.schema, s"$name schema")
      assert(got.count() === want.count() && got.exceptAll(want).count() === 0 &&
        want.exceptAll(got).count() === 0, s"$name rows")
    }
    same("archive", graft.sinks.Sinks.readArchive(spark, _), _.archive)
    Seq[(String, StreamingPipeline.SinkPaths => String)](("timeseries", _.timeseries),
      ("raw", _.raw), ("dlq", _.dlq)).foreach { case (name, path) =>
      same(name, spark.read.parquet(_), path)
      assert(footers(path(compiled)) === footers(path(fresh)), s"$name parquet schema")
    }
    // one archive day per batch, and one created_at per batch shared with
    // the DLQ timestamp
    val days = graft.sinks.Sinks.readArchive(spark, compiled.archive)
      .select("y", "m", "d").distinct().as[(String, String, String)].collect().toSet
    assert(days === steps.map { case (_, _, i) =>
      val d = i.atZone(java.time.ZoneOffset.UTC).toLocalDate
      (f"${d.getYear}%04d", f"${d.getMonthValue}%02d", f"${d.getDayOfMonth}%02d")
    }.toSet)
    val created = spark.read.parquet(compiled.timeseries)
      .select(unix_millis(col("created_at"))).distinct().as[Long].collect().sorted.toSeq
    assert(created === steps.map(_._3.toEpochMilli).sorted)
    assert(spark.read.parquet(compiled.dlq).select("timestamp").distinct().as[Long]
      .collect().sorted.toSeq === created)
    assert(spark.read.parquet(compiled.timeseries)
      .filter(col("flood_warning_level") === "CRITICAL").count() > 0, "the strict dim reclassified")
    // each batch writes both archive leaves of its day
    val archive = graft.sinks.Sinks.readArchive(spark, compiled.archive)
    val leaves = archive.select("type", "y", "m", "d").distinct()
      .as[(String, String, String, String)].collect().toSet
    assert(leaves === days.flatMap { case (y, m, d) =>
      Seq(("normal", y, m, d), ("anomalies", y, m, d))
    }, "archive leaves")
    // and every branch: a NO_THRESHOLD level, parse failures in the DLQ,
    // no required-field drop stored
    val noThreshold = spark.read.parquet(compiled.timeseries)
      .filter(col("flood_warning_level") === "NO_THRESHOLD")
      .select(unix_millis(col("created_at"))).distinct().as[Long].collect().sorted.toSeq
    assert(noThreshold === created, "batches with a NO_THRESHOLD level")
    val parseFailed = spark.read.parquet(compiled.dlq)
      .filter(col("exceptionClass") === "JsonParseException")
      .select("timestamp").distinct().as[Long].collect().sorted.toSeq
    assert(parseFailed === created, "batches with parse failures in the DLQ")
    assert(archive.filter(col("event_id") % 103 === 0).count() === 0,
      "required-field drops stored")
  }

  /** The parquet schemas, nullability included, of the data files under
    * `path`. */
  private def footers(path: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).map { p =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf))
        try reader.getFooter.getFileMetaData.getSchema.toString finally reader.close()
      }.toSet
  }

  test("a micro-batch starts no process") {
    // without libhadoop, Hadoop's own local file system forks `chmod` for
    // every file and directory the sinks, the DLQ and the checkpoint create
    // and `readlink` for every checkpoint-log rename: dozens per batch
    val (work, srcDir, ev) = eventSource("forks", 3)
    val dim = Thresholds.fromEvents(ev)
    val paths = StreamingPipeline.SinkPaths(
      s"$work/archive", s"$work/timeseries", s"$work/raw", s"$work/dlq")
    var batches = 0L
    val forks = ProcessStarts.fromHadoopFs {
      val q = StreamingPipeline.startWithDim(spark, srcDir, () => dim, paths,
        s"$work/ckpt", maxFilesPerTrigger = 1, wlMax = 300.0)
      assert(q.awaitTermination(120000), "streaming query timed out")
      batches = q.recentProgress.count(_.numInputRows > 0)
    }
    assert(batches === 3, "expected three micro-batches")
    assert(forks.size === 0, s"processes started, e.g. ${forks.take(3)}")
    val stored = Hrfco.pipeline(ev, dim, wlMax = 300.0).count()
    assert(graft.sinks.Sinks.readArchive(spark, paths.archive).count() === stored)
    assert(spark.read.parquet(paths.timeseries).count() === stored)
    assert(spark.read.parquet(paths.raw).count() === stored)
    assert(spark.read.parquet(paths.dlq).count() ===
      Hrfco.dlqEnvelope(Hrfco.rawObservations(ev)).count())
  }
}

/** The local file system under the `slowclose:` scheme, except that each
  * `part-` data file takes two seconds to close: a write task stays open long
  * enough for a concurrent job on the same directory to commit first. */
class SlowCloseFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  override def getScheme: String = "slowclose"
  override def getUri: java.net.URI = java.net.URI.create("slowclose:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (!f.getName.startsWith("part-")) out
    else new FSDataOutputStream(out, null) {
      override def close(): Unit = { Thread.sleep(2000); super.close() }
    }
  }
}

/** What a job tells about the micro-batch that ran it: the query and batch
  * ids from its local properties, and whether one of its stages wrote
  * shuffle records (the threshold dim's aggregate does; the fused write does
  * not). */
private final case class BatchJob(queryId: Option[String], batchId: Option[Long],
                                  shuffles: Boolean)

/** The local file system under the `failpart:` scheme, except that it
  * refuses to create any `part-` data file: a write job on it sets up, then
  * fails in its tasks. */
class FailingPartFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  override def getScheme: String = "failpart"
  override def getUri: java.net.URI = java.net.URI.create("failpart:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    if (f.getName.startsWith("part-")) throw new java.io.IOException(s"refused: $f")
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}

/** The raw local file system under the `setupmark:` scheme, except that it
  * runs `SetupMarkFileSystem.onSetup` whenever a write job sets up, that
  * is, when the job's `_temporary/0` directory is made. */
class SetupMarkFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission
  override def getScheme: String = "setupmark"
  override def getUri: java.net.URI = java.net.URI.create("setupmark:///")
  private def mark(f: Path): Unit =
    if (f.getName == "0" && f.getParent.getName == "_temporary") SetupMarkFileSystem.onSetup()
  override def mkdirs(f: Path): Boolean = { mark(f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mark(f); super.mkdirs(f, permission)
  }
}

object SetupMarkFileSystem {
  @volatile var onSetup: () => Unit = () => ()
}

/** The raw local file system under the `commitmark:` scheme, except that
  * it runs `CommitMarkFileSystem.onCommit` whenever a write job commits,
  * that is, when it creates the `_SUCCESS` marker. */
class CommitMarkFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  override def getScheme: String = "commitmark"
  override def getUri: java.net.URI = java.net.URI.create("commitmark:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    if (f.getName == "_SUCCESS") CommitMarkFileSystem.onCommit()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CommitMarkFileSystem {
  @volatile var onCommit: () => Unit = () => ()
}

/** Whole-stage code generation as Spark logs it: `WholeStageCodegenExec`
  * logs each stage's generated source at DEBUG, once per generation. */
object CodegenLog {
  import org.apache.logging.log4j.Level
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Logger = "org.apache.spark.sql.execution.WholeStageCodegenExec"

  /** Run `body` with `onSource(thread)` called for every stage source
    * generated meanwhile, by the thread named; returns how many there were. */
  def during(onSource: String => Unit)(body: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("graft-codegen-log", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("GeneratedIteratorForCodegenStage")) {
          seen.incrementAndGet()
          onSource(e.getThreadName)
        }
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val config = ctx.getConfiguration
    val logger = new LoggerConfig(Logger, Level.DEBUG, false)
    logger.addAppender(appender, Level.DEBUG, null)
    config.addLogger(Logger, logger)
    ctx.updateLoggers()
    try body finally {
      config.removeLogger(Logger)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.get
  }
}
