package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  * All queries take the sf directory at call time so the same code runs at
  * any scale factor; at cluster scale these would be catalog tables with
  * partition pruning — here they are single parquet files per table.
  * Every table (and every artifact, through `Artifacts`) is read by
  * [[parquet]], which infers a path's schema from its footers once and
  * memoizes it under a fingerprint of the path's files and the session's
  * parquet confs, so a later load of an unchanged input runs no job.
  */
object Tables {
  /** Entries of Spark's codegen cache, which is LRU and keyed by the
    * generated source and the class loader that compiles it, so a
    * driver-side and a task-side compile of one source take two entries.
    * Spark's default of 100 is below graft's working set: a cold pass of
    * the six `llm_batch` benchmark queries compiles 164 classes, and a
    * `Verify` pass over all 296 registry queries at sf0.01 3,790. Below
    * that an LRU cache evicts, on every repeated pass, the classes the
    * pass asks for next: a warm `llm_batch` pass compiled 115–118
    * classes at 100 entries and none at 4,096, and the `Verify` pass
    * compiled 7,816 at 100 (counted with Spark's `CodegenMetrics`,
    * `local[2]` and `local[4]`). Held classes cost metaspace and code
    * cache: that `Verify` pass peaked at 230 MB of metaspace (was 214)
    * and 167 MB of compiled methods (was 147). */
  val CodegenCacheEntries = 4096

  /** Confs every graft session needs, applied at builder time through
    * [[configured]] (by [[session]] for the entrypoints, and by the tests):
    *  - nanosAsLong stays set so a TIMESTAMP(NANOS) events regeneration
    *    (the pre-round-9 encoding, which Spark 4 otherwise rejects) reads
    *    as a raw long that `normalizeEvents` adapts to; on the current
    *    timestamp[us] data the conf is a no-op;
    *  - the codegen cache holds [[CodegenCacheEntries]], so a repeated
    *    query reuses its compiled classes. The conf is static: it sizes
    *    the JVM-wide cache only when set on the builder before the JVM's
    *    first compile, and a session built without it keeps Spark's
    *    default;
    *  - the `file:` scheme is served by [[graft.util.LocalFileSystem]] and,
    *    for FileContext, [[graft.util.LocalFs]]. Without libhadoop
    *    Hadoop's local file system forks `chmod` for every file and
    *    directory it creates and `readlink` twice per FileContext rename:
    *    one `hrfco_stream` benchmark run started 2,357 processes (1,594
    *    `chmod`, 728 `readlink`), about 80 per micro-batch at 3–5 ms each,
    *    from the sinks, the DLQ and the checkpoint's offset and commit
    *    logs. graft's subclass does the same work through `java.nio.file`:
    *    34 process starts remain, all Spark's own, and the checkpoint's
    *    WAL commit fell from 32–34 to 2–4 ms per batch (JFR census and
    *    traced runs, `local[2]` on a 4-core VM). These are Hadoop
    *    confs (`spark.hadoop.*`), not SQL confs, so [[load]]'s runtime
    *    fallback cannot set them: a session not built through
    *    [[configured]] keeps Hadoop's forking file system. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.hadoop.fs.file.impl" -> classOf[graft.util.LocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.util.LocalFs].getName)

  /** Apply `sessionConfs` to a builder mechanically — every session
    * builder goes through here, so adding a conf above propagates
    * everywhere at once. */
  def configured(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The session every entry point runs on: local mode on `cpus` cores
    * with as many shuffle partitions, UTC session time, no UI, the
    * `sessionConfs`, and WARN logging. */
  def session(cpus: String): SparkSession = {
    val spark = configured(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Spread a narrow input across the session's cores before per-row
    * expression-heavy work — the optimization guide's §2.5 "input skew:
    * one huge unsplittable file → repartition immediately after the
    * read". The bench tables are single-row-group parquet files, so
    * every scan plans as ONE split regardless of `maxPartitionBytes`
    * (parquet cannot split inside a row group), and any expensive
    * per-row stage above it serializes onto one core while the rest of
    * the machine idles. Fires only when the scan's planned parallelism
    * is below the session default, so the target derives from the
    * session and the input — at cluster scale the input already splits
    * at least that wide and this is the IDENTITY (no extra exchange),
    * never a local-mode constant. Hash-partitioned by `key`:
    * deterministic under task retries (SPARK-38388 rules out
    * round-robin over recomputed input), and the bench keys are
    * near-unique ids, thousands of distinct values per partition. */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    // streaming frames can't be planned as an RDD (and the micro-batch
    // engine shapes its own partitioning): identity there, so the shared
    // per-row ops stay stream-safe
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, key) else df
  }

  /** The table `name` of the sf dir `sfDir`, read through [[parquet]]:
    * the first load of a table infers its schema from the footer (one
    * job); a later load of the unchanged file reuses the memoized schema
    * and runs none. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Fallback for externally-built sessions only: set once, not per load
    // (a per-load session-conf mutation races with concurrent planners).
    // A static conf cannot be set at runtime: such a session keeps its value.
    sessionConfs.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k) && !spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
    }
    parquet(spark, s"$sfDir/$name.parquet")
  }

  /** What a memoized schema was inferred under: (path, length,
    * modification time) of every file under the read path, and the
    * session's `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
    * values, which decide how footer types map to Spark types. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)],
                                       confs: Map[String, String])

  /** One entry per read path: its footer-inferred schema and the
    * fingerprint it was inferred under. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Fingerprint, StructType)]()

  /** Read the parquet file or directory at `path`. A schema-less
    * `read.parquet` runs one Spark job per call to read a footer, even for
    * a file read a second earlier; with the schema supplied the read plans
    * from the file listing alone and runs no job. So the footer-inferred
    * schema is memoized per path under a [[Fingerprint]] of the path's
    * files and parquet confs, and any mismatch (a rewritten table, a
    * rebuilt artifact, a flipped conf) infers again and replaces the
    * entry. The schema is never hard-coded: `normalizeEvents` branches on
    * the type the footer declares. A file rewritten in place with the
    * same length and modification time is the one change the fingerprint
    * cannot see. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val print = Fingerprint(listing(spark, path), spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    })
    schemas.get(path) match {
      case (`print`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val inferred = spark.read.parquet(path)
        schemas.put(path, (print, inferred.schema))
        inferred
    }
  }

  /** (path, length, modification time) of every file under `path`, in
    * path order; empty when the path does not exist. */
  def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new Path(path)
    try {
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      // plain FileStatus, never LocatedFileStatus: building one reads the
      // permissions, which the local file system gets by forking `ls`
      def leaves(s: FileStatus): Seq[FileStatus] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves) else Seq(s)
      leaves(fs.getFileStatus(root))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    } catch { // a missing path: a read of it raises Spark's usual error
      case _: java.io.FileNotFoundException => Nil
    }
  }

  /** Raw schema of the events parquet — needed by the streaming file
    * source, which requires an explicit schema. The driver currently
    * writes ts as parquet timestamp[us]; `normalizeEvents` also accepts
    * the earlier nanos-as-long encoding for batch reads. */
  val eventsRawSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** Normalize raw events: ts exposed both as a micro-precision timestamp
    * (`ts`) and epoch-micros long (`ts_us`, used for ordering/arithmetic).
    * Adaptive to how the driver encoded the column: a genuine parquet
    * timestamp[us] surfaces as TimestampType (current testdata), while a
    * TIMESTAMP(NANOS) column under `nanosAsLong` surfaces as a raw
    * epoch-nanos long (earlier testdata) — micros is the common precision
    * either way (DuckDB's oracle read also sees micros), so downstream
    * code computes only on `ts`/`ts_us` and never on raw nanos. */
  def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) under nanosAsLong (earlier testdata)
        raw
          .withColumn("ts_us", expr("ts DIV 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case TimestampNTZType =>
        // parquet timestamp[us] with isAdjustedToUTC=false (current
        // testdata). The naive value IS the UTC instant (DuckDB reads it
        // the same way). Micros-since-epoch is computed as a pure NTZ
        // difference from the NTZ epoch — NO timezone enters anywhere
        // (to_utc_timestamp would first cast NTZ→Timestamp THROUGH the
        // session timezone, shifting ts_us on any non-UTC session), so
        // this is correct under ANY session timezone.
        raw
          .withColumn("ts_us",
            expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case TimestampType =>
        raw.withColumn("ts_us", unix_micros(col("ts")))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other — expected long (nanos), timestamp, or timestamp_ntz")
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(load(spark, sfDir, "events"))
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
}
