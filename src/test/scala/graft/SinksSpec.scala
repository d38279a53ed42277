package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.ops.{Hrfco, Thresholds}
import graft.sinks.Sinks

/** Round-trip tests for the K1/K2/K8 sink layout and failure routing. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = {
    val base = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(base)
    Files.createTempDirectory(base, "sink").toString
  }

  private lazy val classified = {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    Hrfco.pipeline(ev, Thresholds.fromEvents(ev),
      tsFallback = to_timestamp(lit("1970-01-01")), wlMax = 300.0)
  }

  test("format matrix: parquet/orc/json/csv round-trip the same typed rows") {
    // one frame exercising the types each format stresses: long, double
    // (incl. a value needing full precision), string with delimiter and
    // quote characters, null, and a timestamp carried as a formatted
    // string (the repo-wide temporal output rule)
    val src = Seq(
      (1L, 3.141592653589793, "plain", Option("2024-03-01 10:00:00")),
      (2L, -0.1, "comma, quote \" and\nnewline", None),
      (3L, 1.0e-300, "", Option("2024-03-02 00:00:00"))
    ).toDF("id", "x", "s", "t")
    val dir = tmp()
    // self-describing columnar formats: schema AND values survive as-is
    Seq("parquet", "orc").foreach { fmt =>
      src.write.format(fmt).save(s"$dir/$fmt")
      val back = spark.read.format(fmt).load(s"$dir/$fmt")
      // nullability intentionally ignored: file readers conservatively
      // mark every column nullable regardless of writer-side flags
      assert(back.schema.map(f => (f.name, f.dataType)) ===
        src.schema.map(f => (f.name, f.dataType)), s"$fmt schema drifted")
      assert(back.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq,
        s"$fmt values drifted")
    }
    // json: values survive but the schema must be supplied on read —
    // inference would widen/reorder; empty string DOES survive (vs csv)
    src.write.json(s"$dir/json")
    val jback = spark.read.schema(src.schema).json(s"$dir/json")
    assert(jback.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq,
      "json values drifted under explicit schema")
    // csv: needs explicit schema, multiLine for the embedded newline,
    // and the SAME escape pinned on both sides (Spark's default is
    // backslash-escape, not RFC-4180 double-quote — an asymmetric
    // write/read pair silently shreds quoted rows); its ONE lossy
    // corner — empty string collapsing to null — is pinned here so
    // nobody discovers it at 100 TB
    src.write.option("header", "true").option("escape", "\"").csv(s"$dir/csv")
    val cback = spark.read.schema(src.schema)
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .csv(s"$dir/csv")
    val expectCsv = src.withColumn("s",
      when(col("s") === "", lit(null: String)).otherwise(col("s")))
    assert(cback.orderBy("id").collect().toSeq ===
      expectCsv.orderBy("id").collect().toSeq,
      "csv values drifted beyond the documented empty-string collapse")
  }

  test("K1 archive: partition layout is type/y/m/d and rows survive re-read") {
    val base = tmp()
    val fixedNow = to_timestamp(lit("2026-03-04 05:06:07"))
    Sinks.writeArchive(classified, base, fixedNow)
    val normal = new java.io.File(s"$base/type=normal/y=2026/m=03/d=04")
    val anomalies = new java.io.File(s"$base/type=anomalies/y=2026/m=03/d=04")
    assert(normal.isDirectory && anomalies.isDirectory)
    val back = spark.read.json(base)
    assert(back.count() === classified.count())
    assert(back.filter(col("type") === "anomalies").count() ===
      classified.filter(col("is_anomaly")).count())
  }

  test("K1 re-run: dynamic overwrite replaces only the rewritten day's partitions") {
    val base = tmp()
    val day1 = to_timestamp(lit("2026-03-04 05:06:07"))
    val day2 = to_timestamp(lit("2026-03-05 05:06:07"))
    Sinks.writeArchive(classified, base, day1)
    Sinks.writeArchive(classified, base, day2)
    val day1Count = spark.read.json(base).filter(col("d") === "04").count()
    // re-process day 2 with HALF the rows (simulating a corrected re-run;
    // an append would duplicate, a static overwrite would erase day 1)
    val corrected = classified.filter(col("event_id") % 2 === 0)
    Sinks.rewriteArchive(corrected, base, day2)
    val back = spark.read.json(base)
    assert(back.filter(col("d") === "04").count() === day1Count, "day 1 touched")
    assert(back.filter(col("d") === "05").count() === corrected.count(),
      "day 2 not replaced exactly")
  }

  test("archive reads prune partitions; compaction collapses small files") {
    val base = tmp()
    val fixedNow = to_timestamp(lit("2026-03-04 05:06:07"))
    // two appends → ≥2 files per partition (the streaming small-file shape)
    Sinks.writeArchive(classified, base, fixedNow)
    Sinks.writeArchive(classified, base, fixedNow)

    val pruned = Sinks.readArchive(spark, base,
      archiveType = Some("anomalies"), date = Some(("2026", "03", "04")))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("isnotnull(type"),
      s"partition filters not applied:\n$plan")
    assert(pruned.count() === classified.filter(col("is_anomaly")).count() * 2)

    def leafFiles(dir: java.io.File): Int =
      if (dir.isDirectory) dir.listFiles().map(leafFiles).sum
      else if (dir.getName.endsWith(".json")) 1 else 0
    val before = leafFiles(new java.io.File(s"$base/type=normal"))
    assert(before >= 2)
    Sinks.compactArchive(spark, base)
    val after = leafFiles(new java.io.File(s"$base/type=normal"))
    assert(after === 1, s"expected 1 compacted file, got $after")
    assert(Sinks.readArchive(spark, base).count() === classified.count() * 2)

    // append AFTER compaction: the rewrite must have kept the zero-padded
    // string partition values, or this lands in a parallel m=3 directory
    Sinks.writeArchive(classified, base, fixedNow)
    assert(new java.io.File(s"$base/type=normal/y=2026/m=03/d=04").isDirectory)
    assert(!new java.io.File(s"$base/type=normal/y=2026/m=3").exists(),
      "partition type inference split the leaf directories")
    assert(Sinks.readArchive(spark, base).count() === classified.count() * 3)
  }

  test("scoped compaction rewrites only the targeted leaves") {
    val base = tmp()
    Sinks.writeArchive(classified, base, to_timestamp(lit("2026-03-04 05:06:07")))
    Sinks.writeArchive(classified, base, to_timestamp(lit("2026-03-04 05:06:07")))
    Sinks.writeArchive(classified, base, to_timestamp(lit("2026-05-06 07:08:09")))
    Sinks.writeArchive(classified, base, to_timestamp(lit("2026-05-06 07:08:09")))
    def leafFiles(p: String): Int = {
      val d = new java.io.File(p)
      if (!d.isDirectory) 0
      else d.listFiles().map(f => if (f.isDirectory) leafFiles(f.getPath)
        else if (f.getName.endsWith(".json")) 1 else 0).sum
    }
    Sinks.compactArchive(spark, base, date = Some(("2026", "03", "04")))
    assert(leafFiles(s"$base/type=normal/y=2026/m=03") === 1)    // compacted
    assert(leafFiles(s"$base/type=normal/y=2026/m=05") === 2)    // untouched
    assert(Sinks.readArchive(spark, base).count() === classified.count() * 4)
  }

  test("compaction recovers a leaf orphaned mid-swap by a crash") {
    val base = tmp()
    Sinks.writeArchive(classified, base, to_timestamp(lit("2026-03-04 05:06:07")))
    Sinks.writeArchive(classified, base, to_timestamp(lit("2026-03-04 05:06:07")))
    val total = Sinks.readArchive(spark, base).count()

    // simulate a crash between the aside-rename and the new-leaf rename:
    // the live leaf is gone, only the .old copy remains
    val leaf = new java.io.File(s"$base/type=normal/y=2026/m=03/d=04")
    val aside = new java.io.File(leaf.getPath + ".old")
    assert(leaf.renameTo(aside))
    assert(!leaf.exists() && aside.exists())

    // the next compaction run must restore the orphan before compacting
    Sinks.compactArchive(spark, base)
    assert(leaf.isDirectory && !aside.exists())
    assert(Sinks.readArchive(spark, base).count() === total)

    // a leftover .old whose target EXISTS (completed swap, missed cleanup)
    // is swept without touching the live leaf
    val stale = new java.io.File(s"$base/type=anomalies/y=2026/m=03/d=04.old")
    Files.createDirectories(stale.toPath)
    Sinks.compactArchive(spark, base)
    assert(!stale.exists())
    assert(Sinks.readArchive(spark, base).count() === total)
  }

  test("K2 timeseries: batched append accumulates batches in the enriched schema") {
    val t = tmp() + "/ts"
    Sinks.writeTimeseries(classified, t)
    Sinks.writeTimeseries(classified, t)
    val back = spark.read.parquet(t)
    assert(back.count() === classified.count() * 2)
    assert(back.columns.toSet === Set("observation_code", "observation_time",
      "water_level", "flow_rate", "is_anomaly", "flood_warning_level", "created_at"))
  }

  test("K4 upsert: updates replace same-key rows, new keys insert") {
    val existing = Seq(("A", 1.0), ("B", 2.0)).toDF("wlobscd", "attwl")
    val updates = Seq(("B", 20.0), ("C", 3.0)).toDF("wlobscd", "attwl")
    val merged = Sinks.upsertDim(existing, updates)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(merged === Map("A" -> 1.0, "B" -> 20.0, "C" -> 3.0))
  }

  test("K5 alert frame: key is the station, value is parseable alert JSON") {
    val f = Sinks.alertFrame(classified.limit(5), timestamp = lit(123L)).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      assert(r.getString(0).nonEmpty)
      val v = r.getString(1)
      assert(v.contains("\"observationCode\"") && v.contains("\"warningLevel\"") &&
        v.contains("\"timestamp\":123"))
    }
  }

  test("K8 fanout: all sinks succeed → no DLQ; bad sink path → failure recorded + DLQ") {
    val base = tmp()
    val (ok, dlqNone) = Sinks.fanout(classified.limit(10),
      s"$base/a", s"$base/t", s"$base/r")
    assert(ok.allOk && dlqNone.isEmpty)

    // an unwritable timeseries target forces a single-sink failure
    val roFile = new java.io.File(s"$base/not-a-dir"); roFile.createNewFile()
    val (partial, dlq) = Sinks.fanout(classified.limit(10),
      s"$base/a2", roFile.getAbsolutePath + "/x", s"$base/r2")
    assert(partial.archiveOk && partial.rawOk && !partial.timeseriesOk)
    assert(partial.failures.map(_._1) === Seq("timeseries"))
    // the writes run concurrently; the failing one must not cost the
    // other two a row
    assert(spark.read.json(s"$base/a2").count() === 10)
    assert(spark.read.parquet(s"$base/r2").count() === 10)
    val env = dlq.get.collect()
    assert(env.length === 10)
    assert(env.head.getAs[String]("errorReason").contains("timeseries"))
  }

  test("fused writer: one batch lands in the layout, schemas and rows of the four separate writes") {
    val base = tmp()
    // 2000 events over five stations (`error` has no dim row, `signup`
    // only null thresholds) in two partitions, so two tasks write; ids
    // that are multiples of 107 are parse failures, of 103 required-field
    // drops
    val stations = array(Seq("click", "purchase", "view", "signup", "error").map(lit): _*)
    val ev = Tables.normalizeEvents(spark.range(1, 2001, 1, 2).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1765290600L) + col("id") * 60).cast("timestamp_ntz").as("ts"),
      (col("id") % 50).as("user_id"),
      element_at(stations, (col("id") % 5 + 1).cast("int")).as("event_type"),
      (col("id") % 250).cast("double").as("value"),
      format_string("{\"k\": \"%d.5\"}", col("id") % 9).as("props")))
    val raw = Hrfco.rawObservations(ev)
    val dim = Thresholds.fromEvents(ev)
    val at = java.time.Instant.parse("2026-03-04T05:06:07Z")
    val fallback = graft.functions.InstantFunctions.batchTimestamp(at)
    val millis = graft.functions.InstantFunctions.batchMillis(at)
    def paths(side: String) = Seq("archive", "timeseries", "raw", "dlq").map(d => d -> s"$base/$side/$d").toMap

    // separately: the four writes the stream made before the fused writer
    val sep = paths("separate")
    val classified = Hrfco.pipelineFromRaw(raw, dim, tsFallback = fallback, wlMax = 300.0)
    val createdAt = graft.functions.InstantFunctions.batchTimestamp(at)
    Sinks.writeArchive(classified, sep("archive"), lit(at))
    Sinks.writeTimeseries(classified, sep("timeseries"), createdAt)
    Sinks.writeRaw(classified, sep("raw"), createdAt)
    Hrfco.dlqEnvelope(raw, millis).drop("event_id").write.mode("append").parquet(sep("dlq"))

    // fused: the streaming pass's frame and destinations, joined to the
    // dim's collected rows by lookup, as a stream joins a memoized dim
    val fus = paths("fused")
    val lookup = Hrfco.lookupDim(dim.collect().toSeq, dim.schema)
    assert(lookup.isDefined, "the derived dim holds one row per station")
    val routed = Hrfco.routedFromRaw(raw, lookup.get, tsFallback = fallback, wlMax = 300.0)
    val columns = routed.columns.toSeq.filter(_ != Hrfco.ParseFailedColumn)
    val failed = graft.sinks.FusedWriter.write(routed,
      Sinks.storageDestinations(fus("archive"), fus("timeseries"), fus("raw"), columns, at,
        stored = !col("parse_failed")) :+
        graft.sinks.Destination("dlq",
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat, fus("dlq"),
          when(col("parse_failed"), struct(Hrfco.parseFailureEnvelope(col("wlobscd"), millis): _*))))
    assert(failed.isEmpty, s"fused write failed: $failed")

    // every file, relative to its destination, with the job's uuid masked:
    // the same leaves, names, extensions, checksum files and _SUCCESS
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    def layout(dir: String): Seq[String] = {
      val root = new java.io.File(dir).toPath
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => uuid.replaceAllIn(root.relativize(p).toString, "<uuid>")).toSeq.sorted
    }
    for (d <- sep.keys) {
      assert(layout(fus(d)) === layout(sep(d)), s"$d layout")
      assert(layout(fus(d)).count(_ == "_SUCCESS") === 1, s"$d: one _SUCCESS")
      assert(layout(fus(d)).exists(_.matches(
        """(.*/)?part-\d{5}-<uuid>[-.]c000\.(snappy\.parquet|json)""")), s"$d file names")
    }
    assert(layout(fus("archive")).exists(_.startsWith(
      "type=normal/y=2026/m=03/d=04/part-")), "archive leaf")

    // parquet footers: the same message type and Spark row metadata
    def footer(dir: String) = {
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
      val meta = scala.util.Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
      )(_.getFooter.getFileMetaData)
      (meta.getSchema.toString,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    }
    for (d <- Seq("timeseries", "raw", "dlq")) assert(footer(fus(d)) === footer(sep(d)), s"$d footer")

    // the same rows, both ways
    def rows(d: String, dir: String) =
      if (d == "archive") Sinks.readArchive(spark, dir) else spark.read.parquet(dir)
    for (d <- sep.keys) {
      val (a, b) = (rows(d, fus(d)), rows(d, sep(d)))
      assert(a.count() > 0, s"$d is empty")
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0, s"$d rows")
    }
  }
}
