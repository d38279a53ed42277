package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, Tables}
import graft.ops.{Hrfco, Thresholds}
import graft.streaming.StreamingPipeline

/** JVM side of the benchmark. It drives graft only through its public
  * functions, on inputs the Python side staged in a run-private working
  * directory (which is also the process's working directory, so the
  * registry's relative artifact paths land there too), and writes every
  * raw observation to `raw.json`; `run.py` turns that into metrics.
  *
  *   Harness <workload> <workDir> <seconds> <trace 0|1> <cores> [key=value ...]
  */
object Harness {
  val PhaseKey = "perfbench.phase"

  private def nowUs: Long = {
    val i = Instant.now(); i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, seconds, trace, cores) = args.take(5)
    val opts = args.drop(5).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val t0 = System.nanoTime
    val spark = Tables.configured(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores.toInt, "session_s" -> secs(t0),
      "ready_us" -> nowUs)
    val rec = if (trace == "1") Some(new Recorder(spark)) else None
    val run = new Run(spark, workDir, seconds.toDouble, rec, opts, out)
    val started = nowUs
    try workload match {
      case "hrfco_stream" => run.stream()
      case "llm_batch" => run.batch()
      case other => sys.error(s"unknown workload $other")
    } finally {
      out("run_start_us") = started
      out("run_end_us") = nowUs
      rec.foreach { r => r.detach(); out ++= r.report }
      out("peak_rss_kb") = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
      Files.writeString(Paths.get(workDir, "raw.json"), Json(out))
      spark.stop()
    }
  }

  /** One workload run; `out` collects the raw record. */
  final class Run(spark: SparkSession, work: String, seconds: Double,
                  rec: Option[Recorder], opts: Map[String, String],
                  out: mutable.Map[String, Any]) {

    private val sc = spark.sparkContext
    private def phase[T](name: String)(body: => T): T = {
      sc.setLocalProperty(PhaseKey, name)
      try body finally sc.setLocalProperty(PhaseKey, null)
    }
    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    private def sinks(dir: String) = StreamingPipeline.SinkPaths(
      s"$dir/archive", s"$dir/timeseries", s"$dir/raw", s"$dir/dlq")
    private def events(dir: String): DataFrame =
      Tables.normalizeEvents(spark.read.schema(Tables.eventsRawSchema).parquet(dir))
    private def dimSource: DataFrame = Tables.events(spark, s"$work/pool")

    /** Time `body` `n` times, return the median seconds. */
    private def median(n: Int)(body: => Unit): Double = {
      val ts = (1 to n).map { _ => val t = System.nanoTime; body; secs(t) }.sorted
      ts(ts.size / 2)
    }

    /** Drain `src` with the pipeline's defaults, as a user replaying a
      * backlog would. */
    private def drain(src: String, dir: String): Map[String, Any] = {
      val start = nowUs
      val q = StreamingPipeline.start(spark, src, dimSource, sinks(dir), s"$dir/ckpt")
      q.awaitTermination()
      Map("dir" -> dir, "query_id" -> q.id.toString, "start_us" -> start, "end_us" -> nowUs)
    }

    /** Input side of the streaming checks: rows in, required-field drops
      * and the flood levels of batch `Hrfco.pipeline` over the same files
      * with the same dim. */
    private def inputChecks(src: String): Map[String, Any] = {
      val in = events(src)
      Map(
        "rows_in" -> in.count(),
        "required_drops" -> Hrfco.rawObservations(in)
          .filter(!Hrfco.parseFailed && !Hrfco.requiredFields).count(),
        "batch_levels" -> levels(Hrfco.pipeline(in, Thresholds.fromEvents(dimSource))))
    }

    private def levels(df: DataFrame): Map[String, Long] =
      df.groupBy(coalesce(col("flood_warning_level"), lit("NULL"))).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    /** Per-layer probes on this workload's own input: prefix timings of
      * the Hrfco chain and the threshold dim's materialisation. */
    private def probes(input: DataFrame, dimSrc: DataFrame): Unit = rec.foreach { _ =>
      phase("probe") {
        val dim = Thresholds.fromEvents(dimSrc)
        val raw = Hrfco.rawObservations(input)
        val parsed = Hrfco.parseTyped(raw.filter(!Hrfco.parseFailed)).filter(Hrfco.requiredFields)
        val classified = Hrfco.classify(parsed, dim)
        val alerted = classified.withColumn("alert_level", Hrfco.alertLevel)
          .withColumn("message", Hrfco.alertMessage)
        val reps = 3
        val prefix = Seq("scan" -> input, "raw" -> raw, "parse" -> parsed,
          "classify" -> classified, "alert" -> alerted)
          .map { case (k, df) => k -> median(reps)(noop(df)) }
        out("probe_prefix_s") = prefix.toMap
        out("probe_dim_s") = median(reps)(noop(dim))
      }
    }

    /** Poll traffic, then an outage backlog, through one session. */
    def stream(): Unit = {
      val pollSrc = poll()
      // the poll files replayed as a backlog must store the same rows (the
      // sinks are counted by run.py). This drain goes first so that the
      // timed drains do not pay the JVM's first AvailableNow query.
      drain(pollSrc, s"$work/poll-replay")
      replay()
      val backlog = s"$work/backlog"
      out("input_checks") = Map("poll" -> inputChecks(pollSrc), "replay" -> inputChecks(backlog))
      probes(events(backlog), dimSource)
    }

    private def poll(): String = {
      val period = opts("period_ms").toLong
      val pending = new File(s"$work/pending").listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      val src = new File(s"$work/incoming"); src.mkdirs()
      val dir = s"$work/poll-out"
      val t = System.nanoTime
      val q = StreamingPipeline.start(spark, src.getAbsolutePath, dimSource, sinks(dir),
        s"$dir/ckpt", Trigger.ProcessingTime(0L), maxFilesPerTrigger = 1)
      // warm-up: a new query's first batches are slow (JIT, codegen), so
      // the warm files go through one at a time, untimed, and the schedule
      // starts on a warm stream
      val warm = new File(s"$work/warm").listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      warm.zipWithIndex.foreach { case (f, i) =>
        Files.move(f.toPath, new File(src, "warm-" + f.getName).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        waitCommitted(q, s"$dir/ckpt", i + 1)
      }
      out("warmup_s") = secs(t)
      // open loop: file i is due at t0 + i * period whatever the pipeline
      // is doing; it lands by an atomic rename into the watched directory
      val landed = mutable.ArrayBuffer.empty[Map[String, Any]]
      val gen = new Thread(() => {
        val t0 = System.nanoTime + 500L * 1000000L
        val t0Us = nowUs + 500L * 1000L
        val n = pending.length
        for (i <- 0 until n) {
          // a traced run traces the second half only, to price the tracing
          if (i == n / 2) rec.foreach(_.attach())
          val due = t0 + i * period * 1000000L
          val wait = due - System.nanoTime
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val f = pending(i)
          Files.move(f.toPath, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
          landed += Map("name" -> f.getName, "due_us" -> (t0Us + i * period * 1000L),
            "landed_us" -> nowUs, "traced" -> (rec.isDefined && i >= n / 2))
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      waitCommitted(q, s"$dir/ckpt", warm.length + landed.size)
      q.stop()
      rec.foreach(_.detach())
      out("poll") = Map("dir" -> dir, "query_id" -> q.id.toString, "files" -> landed.toList)
      src.getAbsolutePath
    }

    /** Wait (at most a minute) until the stream has committed `n` files. */
    private def waitCommitted(q: org.apache.spark.sql.streaming.StreamingQuery,
                              ckpt: String, n: Int): Unit = {
      val deadline = System.nanoTime + 60L * 1000000000L
      while (q.isActive && System.nanoTime < deadline && committedFiles(ckpt) < n)
        Thread.sleep(10)
    }

    /** Number of source files the stream has committed, from the
      * checkpoint's source log (compacted files repeat earlier entries,
      * hence the distinct paths) and commit log. */
    private def committedFiles(ckpt: String): Int = {
      def list(d: String) = Option(new File(d).listFiles()).getOrElse(Array.empty[File])
      val commits = list(s"$ckpt/commits").map(_.getName).filter(_.forall(_.isDigit))
      if (commits.isEmpty) return 0
      val last = commits.map(_.toLong).max
      val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
      list(s"$ckpt/sources/0").filterNot(_.getName.startsWith(".")).iterator
        .flatMap(f => scala.util.Using.resource(scala.io.Source.fromFile(f))(_.getLines().toList))
        .flatMap(entry.findFirstMatchIn(_))
        .collect { case m if m.group(2).toLong <= last => m.group(1) }
        .toSet.size
    }

    private def replay(): Unit = {
      val backlog = s"$work/backlog"
      val reps = mutable.ArrayBuffer.empty[Map[String, Any]]
      // a traced run adds two drains and traces the last but one, to price
      // the tracing against its untraced neighbours
      val n = opts("replay_reps").toInt + (if (rec.isDefined) 2 else 0)
      while (reps.size < n) {
        val traced = rec.isDefined && reps.size == n - 2
        if (traced) rec.foreach(_.attach())
        reps += drain(backlog, s"$work/replay-${reps.size}") + ("traced" -> traced)
        if (traced) rec.foreach(_.detach())
      }
      out("replay") = Map("reps" -> reps.toList)
    }

    def batch(): Unit = {
      val dir = s"$work/tables"
      val names = opts("queries").split(",").toSeq
      val artifacts = new File(work, "target/graft-artifacts")
      def census: Set[String] =
        Option(artifacts.listFiles()).getOrElse(Array.empty).map(_.getName).toSet
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      val built = mutable.Map.empty[String, DataFrame]
      def pass(i: Int, traced: Boolean): Unit = {
        if (traced) rec.foreach(_.attach())
        val qs = names.map { name =>
          val before = census
          val start = nowUs
          val t0 = System.nanoTime
          val df = phase(s"build:$i:$name")(SparkEntry.queries(name)(spark, dir))
          val buildS = secs(t0)
          built(name) = df
          val t1 = System.nanoTime
          phase(s"run:$i:$name")(noop(df))
          Map("name" -> name, "build_s" -> buildS, "run_s" -> secs(t1),
            "start_us" -> start, "end_us" -> nowUs,
            "artifacts_new" -> (census -- before).toList.sorted)
        }
        if (traced) rec.foreach(_.detach())
        passes += Map("traced" -> traced, "queries" -> qs.toList)
      }
      // pass 0 is cold: the JVM is fresh and every artifact is built into
      // this fresh directory. Warm passes follow, at least `min_warm`, and
      // more while one more still fits in the measured time. A traced run
      // traces pass 2 only, between two untraced ones.
      val tc = System.nanoTime
      pass(0, rec.isDefined)
      val minWarm = opts("min_warm").toInt
      var last = 0.0
      while (passes.size < 1 + minWarm || secs(tc) + last <= seconds) {
        val tp = System.nanoTime
        pass(passes.size, rec.isDefined && passes.size == 2)
        last = secs(tp)
      }
      out("batch") = Map("passes" -> passes.toList)
      out("artifact_bytes") = treeSize(artifacts)
      // the last pass's frames, written once more outside the timed
      // passes, for the DuckDB oracle
      val res = new File(work, "results")
      names.foreach(n => built(n).write.mode("overwrite").parquet(s"$res/$n"))
      Files.writeString(Paths.get(res.getPath, "oracle_sql.json"),
        Json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
      probes(Tables.events(spark, dir), Tables.events(spark, dir))
    }
  }

  def treeSize(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeSize).sum).getOrElse(0L)
    else f.length()
}
