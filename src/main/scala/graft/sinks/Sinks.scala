package graft.sinks

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._

import graft.functions.InstantFunctions

/** Per-sink success tracking, mirroring the reference's StorageResult
  * (service/StorageResult.java:11-79): which sinks succeeded, and the
  * failure reasons that route the batch to the DLQ. */
final case class StorageResult(
    archiveOk: Boolean,
    timeseriesOk: Boolean,
    rawOk: Boolean,
    failures: Seq[(String, String)]) {
  def allOk: Boolean = archiveOk && timeseriesOk && rawOk
  def anyOk: Boolean = archiveOk || timeseriesOk || rawOk
}

/** Batch sinks mirroring the reference's storage tier, re-expressed as
  * micro-batch writers (the single biggest idiomatic win over the
  * reference's per-record INSERT/PUT — TimescaleDBRepository.java:136-161,
  * MinIORepository.java:76-93 write one row per call):
  *
  *  - K1 archive: partitioned JSON, normal/anomalies × yyyy/MM/dd layout
  *    (HRFCOStorageService.java:145-158,206-214; date is PROCESSING time,
  *    not observation time — kept, but injectable for determinism).
  *  - K2 time-series append: batched columnar append (JDBC in production —
  *    `.write.jdbc` is the same call shape — parquet stand-in offline).
  *  - K3 raw insert: original payload + flags + created_at
  *    (HRFCOStorageService.java:187-201).
  *  - K4 dimension upsert: key-precedence merge, new rows win
  *    (MongoDBRepository.java:90-108).
  *  - K5/K6 alert / DLQ frames: key/value pairs ready for a kafka sink
  *    (kafka itself is config-gated; no broker in CI).
  *  - K8 fanout: the tri-store write with per-sink failure isolation and
  *    partial-failure → DLQ routing (HRFCOStorageService.java:72-122,
  *    WaterLevelProcessor.java:70-75); the three writes are one
  *    [[FusedWriter]] job, a single pass over the batch.
  */
object Sinks {

  /** Partition columns of the K1 layout, in directory order:
    * `type=normal|anomalies/y=yyyy/m=MM/d=dd`, all strings. */
  private val ArchivePartitions = Seq("type", "y", "m", "d")

  /** Glob matching every leaf directory of the K1 layout. */
  private val ArchiveLeaves = ArchivePartitions.map(_ + "=*").mkString("/")

  /** The K1 partition columns with their values, which derive from the
    * anomaly flag and the processing day, `day(pattern)` being the
    * processing time formatted by `pattern`. */
  private def archivePartitionValues(day: String => Column): Seq[(String, Column)] =
    ArchivePartitions.zip(when(col("is_anomaly"), "anomalies").otherwise("normal") +:
      Seq("yyyy", "MM", "dd").map(day))

  /** Writer of `classified` into the K1 layout. */
  private def archiveWriter(classified: DataFrame, processingTime: Column) =
    archivePartitionValues(date_format(processingTime, _))
      .foldLeft(classified) { case (df, (name, value)) => df.withColumn(name, value) }
      .write.partitionBy(ArchivePartitions: _*)

  /** K1: partitioned JSON archive. Layout: type=normal|anomalies/y/M/d.
    * One file per partition per batch instead of one file per record. */
  def writeArchive(classified: DataFrame, basePath: String,
                   processingTime: Column = current_timestamp()): Unit =
    archiveWriter(classified, processingTime).mode(SaveMode.Append).json(basePath)

  /** Idempotent re-run of the K1 archive: overwrite ONLY the partitions
    * present in the replacement frame (dynamic partition overwrite as a
    * per-write option — no session toggle), leaving every other leaf
    * byte-identical. This is the operational semantics a daily
    * re-process needs: append-mode re-runs duplicate the day, and static
    * overwrite would truncate the whole archive. At 100 TB the rewrite
    * cost is the replaced leaves only. */
  def rewriteArchive(classified: DataFrame, basePath: String,
                     processingTime: Column): Unit =
    archiveWriter(classified, processingTime).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .json(basePath)

  /** Partition columns of the K1 layout, as the strings they are written
    * as. Appending these to an explicit data schema bypasses partition
    * type inference without touching session conf. */
  private val ArchivePartitionFields = ArchivePartitions
    .map(org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType))

  /** Run `body` with partition-value type inference disabled: the archive
    * writes zero-padded STRING partition values (m=03), and letting the
    * reader re-infer them as ints would make any rewrite land in a
    * parallel m=3 directory. NOTE: this toggles a session-global conf for
    * the duration of `body` — in a session with concurrent planners,
    * prefer passing an explicit schema, which skips the toggle entirely. */
  private def withStringPartitions[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Read the K1 archive back with partition pruning: filters on the
    * partition columns (type/y/m/d) are resolved against directory
    * metadata, so a one-day anomaly scan touches one leaf directory of a
    * years-deep archive — verify with the PartitionFilters plan assertion
    * in SinksSpec. Pass the data schema (known at write time) to skip the
    * full-archive JSON schema-inference pass at planning. */
  def readArchive(spark: org.apache.spark.sql.SparkSession, basePath: String,
                  archiveType: Option[String] = None,
                  date: Option[(String, String, String)] = None,
                  schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    def filtered(df: DataFrame): DataFrame = {
      val t = archiveType.map(col("type") === _)
      val d = date.map { case (y, m, dd) => col("y") === y && col("m") === m && col("d") === dd }
      (t.toSeq ++ d.toSeq).foldLeft(df)(_ filter _)
    }
    schema match {
      // explicit data schema: append the string partition fields and skip
      // both schema inference AND the session-conf toggle
      case Some(s) =>
        filtered(spark.read.schema(
          org.apache.spark.sql.types.StructType(s.fields ++ ArchivePartitionFields))
          .json(basePath))
      case None =>
        withStringPartitions(spark)(filtered(spark.read.json(basePath)))
    }
  }

  /** Compact a partitioned archive: streaming micro-batches leave one
    * small file per partition per batch; at cluster scale that is the
    * small-files problem (NameNode/list pressure, tiny scans). Hash-
    * repartitioning on the partition columns lands each leaf directory's
    * rows in exactly one task → one file per leaf.
    *
    * Scope with `archiveType`/`date` to rewrite only the leaves that need
    * it (routine compaction targets the recent streaming-append days, not
    * the whole history). Leaves are swapped in individually via the Hadoop
    * FileSystem API (works on HDFS/local; on S3 rename is a copy), so the
    * exposure window is per-leaf, not whole-archive. Concurrent writers to
    * the SAME leaf during its swap can still lose a micro-batch — pause
    * the stream for the target dates or use a transactional table format
    * when that matters. */
  def compactArchive(spark: org.apache.spark.sql.SparkSession, basePath: String,
                     archiveType: Option[String] = None,
                     date: Option[(String, String, String)] = None,
                     schema: Option[org.apache.spark.sql.types.StructType] = None,
                     parallelism: Int = 8): Unit = {
    import org.apache.hadoop.fs.Path
    // crash recovery first: a JVM death between the aside-rename and the
    // new-leaf rename leaves `<leaf>.old` holding the only copy of that
    // leaf's data — restore any such orphan before compacting
    restoreOrphanedLeaves(spark, basePath)
    // unique tmp per run: a crashed run's tmp (which may hold the only
    // copy of a leaf mid-swap) is never clobbered by the next run
    val tmp = basePath + s".compacting-${System.currentTimeMillis()}"
    readArchive(spark, basePath, archiveType, date, schema)
      .repartition(parallelism, ArchivePartitions.map(col): _*)
      .write.mode(SaveMode.ErrorIfExists)
      .partitionBy(ArchivePartitions: _*)
      .json(tmp)
    val basePth = new Path(basePath)
    val tmpPth = new Path(tmp)
    val fs = basePth.getFileSystem(spark.sessionState.newHadoopConf())
    val leaves = fs.globStatus(new Path(tmpPth, ArchiveLeaves))
    leaves.foreach { leaf =>
      val rel = leaf.getPath.toUri.getPath.stripPrefix(tmpPth.toUri.getPath).stripPrefix("/")
      val target = new Path(basePth, rel)
      val aside = new Path(target.getParent, target.getName + ".old")
      // rename-aside ordering: the old leaf survives until the new one is
      // in place, so a crash leaves either the old or the new data live
      fs.delete(aside, true)
      val hadOld = fs.exists(target)
      if (hadOld && !fs.rename(target, aside))
        throw new java.io.IOException(s"compaction aside-rename failed: $target")
      fs.mkdirs(target.getParent)
      if (!fs.rename(leaf.getPath, target)) {
        if (hadOld) fs.rename(aside, target) // roll back
        throw new java.io.IOException(s"compaction rename failed: ${leaf.getPath} -> $target")
      }
      fs.delete(aside, true)
    }
    fs.delete(tmpPth, true)
  }

  /** Recover leaves orphaned by a compaction crash: an `<leaf>.old` whose
    * target directory is missing is the pre-compaction data mid-swap —
    * rename it back. An `.old` whose target EXISTS is a completed swap
    * that only missed its cleanup delete; drop it. */
  private[sinks] def restoreOrphanedLeaves(spark: org.apache.spark.sql.SparkSession,
                                           basePath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val basePth = new Path(basePath)
    val fs = basePth.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(basePth)) return
    val orphans = fs.globStatus(new Path(basePth, ArchiveLeaves + ".old"))
    if (orphans != null) orphans.foreach { o =>
      val target = new Path(o.getPath.getParent, o.getPath.getName.stripSuffix(".old"))
      if (!fs.exists(target)) {
        if (!fs.rename(o.getPath, target))
          throw new java.io.IOException(s"orphan restore failed: ${o.getPath} -> $target")
      } else fs.delete(o.getPath, true)
    }
  }

  /** K2: time-series batch append in the enriched-measurement schema
    * (TimescaleDBRepository.java:81-93). Swap `.parquet(target)` for
    * `.jdbc(url, "hrfco.water_level_data", props)` when a database is
    * reachable — the frame is identical. */
  def writeTimeseries(classified: DataFrame, target: String,
                      createdAt: Column = current_timestamp()): Unit =
    classified.select(timeseriesColumns(createdAt): _*)
      .write.mode(SaveMode.Append).parquet(target)

  private def timeseriesColumns(createdAt: Column): Seq[Column] = Seq(
    col("wlobscd").as("observation_code"),
    col("obs_ts_utc").as("observation_time"),
    col("water_level"), col("flow_rate"),
    col("is_anomaly"), col("flood_warning_level"),
    createdAt.as("created_at"))

  /** K3: raw payload + classification flags. */
  def writeRaw(classified: DataFrame, target: String,
               createdAt: Column = current_timestamp()): Unit =
    classified.select(rawColumns(createdAt): _*)
      .write.mode(SaveMode.Append).parquet(target)

  private def rawColumns(createdAt: Column): Seq[Column] = Seq(
    col("raw_payload"), col("wlobscd"),
    col("is_anomaly"), col("flood_warning_level"),
    createdAt.as("created_at"))

  /** K4: dimension upsert — rows in `updates` replace same-key rows in
    * `existing`, new keys are inserted (the replaceOne(upsert=true)
    * semantics). Pure frame-in/frame-out so it composes with any store. */
  def upsertDim(existing: DataFrame, updates: DataFrame, key: String = "wlobscd"): DataFrame = {
    val cols = existing.columns
    val all = existing.withColumn("__prio", lit(0))
      .unionByName(updates.withColumn("__prio", lit(1)))
    // a DataFrame has no row order, so "last write wins" inside one
    // snapshot is undefined; break same-priority ties deterministically by
    // content hash so repeated runs pick the same winner
    all
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(key)
          .orderBy(col("__prio").desc, hash(struct(cols.map(col): _*)).desc)))
      .filter(col("__rn") === 1)
      .select(cols.map(col): _*)
  }

  /** K5: alert key/value frame (key = observationCode, value = alert JSON
    * per AlertPublisher.java:45-67). `.write.format("kafka")` takes this
    * frame as-is when a broker exists. */
  def alertFrame(alerts: DataFrame, timestamp: Column = unix_millis(current_timestamp())): DataFrame =
    alerts.select(
      col("wlobscd").as("key"),
      to_json(struct(
        col("wlobscd").as("observationCode"),
        col("obs_time_fmt").as("observationTime"),
        col("water_level").as("waterLevel"),
        col("flow_rate").as("flowRate"),
        col("alert_level").as("warningLevel"),
        col("is_anomaly").as("isAnomaly"),
        col("message"),
        timestamp.as("timestamp"))).as("value"))

  /** K6: DLQ envelope frame (DeadLetterQueueProducer.java:51-61). */
  def dlqFrame(failed: DataFrame, errorReason: String,
               exceptionClass: String = "StorageException",
               exceptionMessage: String = null,
               timestamp: Column = unix_millis(current_timestamp())): DataFrame =
    failed.select(
      col("wlobscd").as("originalKey"),
      col("raw_payload").as("originalValue"),
      lit(errorReason).as("errorReason"),
      lit(exceptionClass).as("exceptionClass"),
      lit(exceptionMessage).cast("string").as("exceptionMessage"),
      timestamp.as("timestamp"))

  /** K8: tri-store fanout with per-sink failure isolation. The archive,
    * timeseries and raw writes are one [[FusedWriter]] job: a single pass
    * over `classified`, with no cache and no second job. A sink that fails
    * (at job setup or inside a task) is aborted on its own and the other
    * two commit; its failure is captured instead of failing the caller,
    * and partial failure produces a DLQ frame covering the batch (the
    * reference's per-record StorageResult folded up to batch
    * granularity). The frame is returned, not appended: a caller that
    * also appends to the DLQ must order the two appends itself. It is
    * lazy, so delivering it derives `classified` again; that happens only
    * when a sink has failed.
    *
    * `at` is the batch's one instant: the archive's day, both sinks'
    * `created_at` and the DLQ frame's `timestamp`. All three read it from
    * one kind of slot ([[graft.functions.BatchInstant]]; the day is
    * formatted from it once per plan, [[graft.functions.BatchValue]])
    * that generated code reads by reference, so a later batch reuses the
    * compiled classes, and a stream that runs one compiled stage can move
    * every slot to each batch's instant. A `current_timestamp()`
    * column would compile new source on every call. */
  def fanout(classified: DataFrame, archivePath: String, timeseriesPath: String,
             rawPath: String, at: Instant = Instant.now()): (StorageResult, Option[DataFrame]) = {
    val failed = FusedWriter.write(classified, storageDestinations(
      archivePath, timeseriesPath, rawPath, classified.columns.toSeq, at))
    storageOutcome(classified, failed, at)
  }

  /** The three K8 stores as [[FusedWriter]] destinations over a frame
    * holding the classified `columns`. A row goes to all three when
    * `stored` holds, and to none otherwise. */
  private[graft] def storageDestinations(archivePath: String, timeseriesPath: String,
                                         rawPath: String, columns: Seq[String], at: Instant,
                                         stored: Column = lit(true)): Seq[Destination] = {
    val createdAt = InstantFunctions.batchTimestamp(at)
    def row(cs: Seq[Column]) = when(stored, struct(cs: _*))
    Seq(
      Destination("archive", new JsonFileFormat, archivePath, row(columns.map(col)),
        archivePartitionValues(InstantFunctions.batchFormat(at, _))),
      Destination("timeseries", new ParquetFileFormat, timeseriesPath,
        row(timeseriesColumns(createdAt))),
      Destination("raw", new ParquetFileFormat, rawPath, row(rawColumns(createdAt))))
  }

  /** The [[StorageResult]] of a fused write of the three stores that
    * `failed` as listed, and, when a store failed, the DLQ envelope of
    * every row in `stored`, which is built only then. */
  private[graft] def storageOutcome(stored: => DataFrame, failed: Seq[(String, Throwable)],
                                    at: Instant): (StorageResult, Option[DataFrame]) = {
    val failures = failed.map { case (name, e) => (name, e.toString) }
    val names = failures.map(_._1).toSet
    val result = StorageResult(archiveOk = !names("archive"),
      timeseriesOk = !names("timeseries"), rawOk = !names("raw"), failures = failures)
    val dlq =
      if (failures.isEmpty) None
      else Some(dlqFrame(stored,
        errorReason = s"Storage failed for: ${failures.map(_._1).mkString(",")}",
        timestamp = InstantFunctions.batchMillis(at)))
    (result, dlq)
  }
}
