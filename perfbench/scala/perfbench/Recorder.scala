package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer: the harness reports raw records and the Python
  * side turns them into metrics, so only maps, sequences, strings,
  * numbers and booleans are needed. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Float => apply(n.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** The traced run's listeners. Everything is kept in memory and handed
  * out as plain records when the run ends: jobs with their call site and
  * the local properties that attribute them to a query, pass or
  * micro-batch; per-stage task-metric sums; streaming progress
  * durations; and, per SQL execution, the file scans and the planning
  * phases. Registration and removal are symmetric, so a run can
  * alternate traced and untraced repetitions to price the tracing. */
final class Recorder(spark: SparkSession) extends AdaptiveSparkPlanHelper {

  private val lock = new Object
  private val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val jobById = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val execPlan = mutable.Map.empty[String, String]
  private val stages = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = e.properties
      val head = e.stageInfos.sortBy(-_.stageId).headOption
      val rec = mutable.Map[String, Any](
        "id" -> e.jobId, "start_ms" -> e.time, "end_ms" -> null, "ok" -> null,
        "phase" -> prop(p, Harness.PhaseKey),
        "query_id" -> prop(p, "sql.streaming.queryId"),
        "batch_id" -> prop(p, "streaming.sql.batchId"),
        "callsite" -> head.map(_.details).orNull,
        "plan" -> execPlan.get(prop(p, "spark.sql.execution.id")).orNull,
        "stages" -> e.stageIds)
      jobs += rec
      jobById(e.jobId) = rec
    }
    // The plan text of a write names its target path; that is what tells
    // one sink's job from another's (micro-batch jobs all carry the
    // stream's start() call site).
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execPlan(s.executionId.toString) = Recorder.WriteTarget
          .findFirstMatchIn(s.physicalPlanDescription).map("write " + _.group(1))
          .getOrElse(s.sparkPlanInfo.simpleString.take(200))
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobById.get(e.jobId).foreach { r =>
        r("end_ms") = e.time
        r("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val s = stages.getOrElseUpdate(e.stageId, mutable.Map[String, Any](
        "id" -> e.stageId, "tasks" -> 0,
        "task_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L, "shuffle_write" -> 0L,
        "shuffle_read" -> 0L, "spill" -> 0L, "peak_mem" -> 0L))
      def add(k: String, v: Long): Unit = s(k) = s(k).asInstanceOf[Long] + v
      s("tasks") = s("tasks").asInstanceOf[Int] + 1
      add("task_ms", e.taskInfo.duration)
      if (m != null) {
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
        add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
        s("peak_mem") = math.max(s("peak_mem").asInstanceOf[Long], m.peakExecutionMemory)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        progress += Map(
          "query_id" -> p.id.toString, "batch_id" -> p.batchId,
          "rows" -> p.numInputRows, "timestamp" -> p.timestamp,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe, 0L)
  }

  /** File scans and planning phases of one finished SQL execution. */
  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val scans = try collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec =>
        def metric(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
        Map("paths" -> s.relation.location.rootPaths.map(_.toString),
          "rows" -> metric("numOutputRows"), "bytes" -> metric("filesSize"),
          "files" -> metric("numFiles"), "scan_ms" -> metric("scanTime"),
          "tasks" -> scala.util.Try(s.inputRDDs().map(_.getNumPartitions).sum).getOrElse(0))
    } catch { case scala.util.control.NonFatal(_) => Nil }
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
    // the callback runs on the listener bus, so the execution is placed
    // in its query or pass by time, not by thread-local properties
    lock.synchronized {
      executions += Map("end_ms" -> System.currentTimeMillis, "duration_ns" -> durationNs,
        "phases_ms" -> phases, "scans" -> scans)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(execListener)
  }

  def detach(): Unit = {
    // let the asynchronous listener bus deliver what is already queued
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(execListener)
  }

  def report: Map[String, Any] = lock.synchronized {
    Map("jobs" -> jobs.map(_.toMap).toList, "stages" -> stages.values.map(_.toMap).toList,
      "progress" -> progress.toList, "executions" -> executions.toList)
  }
}

object Recorder {
  /** The write command's target in formatted plan text. */
  val WriteTarget = "Arguments: (file:[^,\\s\\]]+)".r
}
