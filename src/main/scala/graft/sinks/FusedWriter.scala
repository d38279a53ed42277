package graft.sinks

import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, OutputCommitter, TaskAttemptContext, TaskAttemptID,
  TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory,
  SQLHadoopMapReduceCommitProtocol}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** One output of a [[FusedWriter]] pass: a row of the pass's frame goes
  * to `path` when its `row` struct is non-null, written as that struct's
  * fields in `format`, under the leaf directory `name=value/...` that
  * `partitionBy` names (values cast to strings; none for an unpartitioned
  * destination). */
final case class Destination(name: String, format: FileFormat, path: String,
                             row: Column, partitionBy: Seq[(String, Column)] = Nil)

/** Several file writes in ONE Spark job: each task makes a single pass over
  * its partition of the frame and hands every row to one output writer per
  * destination it is routed to — the cheap form of operator fusion on the
  * write side (*Machine Learning Inference Pipeline Execution Using Pure
  * SQL Based on Operator Fusion*, ICDE 2025). Where `n` separate
  * `df.write` calls run `n` jobs, each re-deriving the frame or reading a
  * cache of it, this runs one job and derives it once.
  *
  * It follows `FileFormatWriter.write`/`executeTask` per destination: the
  * format's `prepareWrite` gives the output writers, and each destination
  * keeps its own `FileCommitProtocol` (`setupJob` on the driver,
  * `setupTask`/`commitTask` per task, `commitJob` on the driver). So file
  * names (`part-NNNNN-<job uuid>-c000<ext>`, `.c000` in a partition
  * leaf), leaf directories, `_SUCCESS`
  * markers and the empty file task 0 writes for a destination that got no
  * row are those of `df.write.mode("append")`. Every destination commits
  * through Spark SQL's default protocol ([[FusedCommitProtocol]]), whatever
  * `spark.sql.sources.commitProtocolClass` names. Left out: stats trackers
  * (the SQL metrics a write command reports), `maxRecordsPerFile`,
  * bucketing and dynamic partition overwrite.
  *
  * Failure isolation is per destination: one that fails at `setupJob`
  * leaves the pass, one that fails inside a task aborts that task's output
  * for it and takes no more rows, and at the end each failed destination
  * is aborted (`abortJob`, which drops its `_temporary` directory) while
  * the others commit. A failure outside every destination (the frame
  * itself) fails the job, aborts every destination and is rethrown. The
  * job runs on the calling thread, so it carries the caller's job group
  * and local properties (a micro-batch's query id). */
object FusedWriter {

  /** Write `frame` to every destination in one job. Returns each failed
    * destination with its error, in `destinations` order; fatal errors are
    * rethrown. */
  def write(frame: DataFrame, destinations: Seq[Destination]): Seq[(String, Throwable)] = {
    val qe = project(frame, destinations).queryExecution
    writeRows(qe, destinations)(qe.toRdd)
  }

  /** The one flat projection of `frame` that a pass reads: each
    * destination's row struct, then its partition values as strings, at
    * consecutive ordinals from its slot. Apart from the write, so a caller
    * that keeps the generated stage of a projected frame can run it with
    * [[writeRows]]. */
  def project(frame: DataFrame, destinations: Seq[Destination]): DataFrame =
    frame.select(destinations.flatMap(d =>
      d.row +: d.partitionBy.map(_._2.cast("string"))).zipWithIndex.map { case (c, i) =>
      c.as(s"_$i")
    }: _*)

  /** The core of every write: the rows of a [[project]]ed frame, whose
    * execution is `qe`, written to `destinations` in one job inside one
    * SQL execution of `qe`. `rows` is derived inside that execution: the
    * frame's `toRdd`, or the same rows from a stage generated for that
    * frame and run over another batch's input, which then borrows the
    * frame's `qe` for its execution. */
  private[graft] def writeRows(qe: QueryExecution, destinations: Seq[Destination])
                              (rows: => RDD[InternalRow]): Seq[(String, Throwable)] = {
    require(destinations.map(_.name).distinct.size == destinations.size,
      s"destination names must be unique: ${destinations.map(_.name)}")
    val spark = qe.sparkSession
    val schema = qe.analyzed.schema
    val slots = destinations.scanLeft(0)((at, d) => at + 1 + d.partitionBy.size)
    val failures = mutable.Map.empty[String, Throwable]
    def fail(name: String, e: Throwable): Unit = e match {
      case NonFatal(_) => failures.getOrElseUpdate(name, e)
      case fatal => throw fatal
    }
    val conf = spark.sessionState.newHadoopConf()
    val live = destinations.zip(slots).flatMap { case (d, slot) =>
      val rowSchema = schema(slot).dataType.asInstanceOf[StructType]
      try Some(prepare(spark, conf, d, slot, rowSchema))
      catch { case e: Throwable => fail(d.name, e); None }
    }
    val name = Some("fused write: " + live.map(_.name).mkString(", "))
    if (live.nonEmpty) SQLExecution.withNewExecutionId(qe, name) {
      val rdd = rows
      // a frame of no partitions still runs one task, as FileFormatWriter
      // does, so every destination writes its schema-bearing file
      val input =
        if (rdd.partitions.nonEmpty) rdd
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      val specs = live.map(_.spec)
      // the tasks share the session's Hadoop conf, broadcast once; each
      // destination carries only the keys its job set on top of it
      val shared = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
      val trackerId = new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date)
      val results = new Array[Seq[Either[Throwable, TaskCommitMessage]]](input.partitions.length)
      try spark.sparkContext.runJob(input,
        (ctx: TaskContext, rows: Iterator[InternalRow]) =>
          runTask(specs, shared.value.value, trackerId, ctx, rows),
        (i: Int, r: Seq[Either[Throwable, TaskCommitMessage]]) => results(i) = r)
      catch {
        case e: Throwable =>
          live.foreach(p => quietly(p.spec.committer.abortJob(p.job)))
          throw e
      } finally shared.destroy()
      live.zipWithIndex.foreach { case (p, i) =>
        val outcomes = results.map(_(i))
        outcomes.collectFirst { case Left(e) => e } match {
          case Some(e) =>
            fail(p.name, e)
            quietly(p.spec.committer.abortJob(p.job))
          case None =>
            val messages = outcomes.toSeq.collect { case Right(m) => m }
            try {
              messages.foreach(p.spec.committer.onTaskCommit)
              p.spec.committer.commitJob(p.job, messages)
            } catch {
              case e: Throwable =>
                fail(p.name, e)
                quietly(p.spec.committer.abortJob(p.job))
            }
        }
      }
    }
    destinations.flatMap(d => failures.get(d.name).map(d.name -> _))
  }

  /** What a task needs of one destination. */
  private final case class Spec(slot: Int, fields: Int, partitions: Seq[String],
                                dataSchema: StructType, factory: OutputWriterFactory,
                                settings: Map[String, String],
                                committer: FusedCommitProtocol)

  private final case class Prepared(name: String, spec: Spec, job: Job)

  /** Driver side of one destination, as `InsertIntoHadoopFsRelationCommand`
    * and `FileFormatWriter.write` set up an append. */
  private def prepare(spark: SparkSession, conf: Configuration, d: Destination, slot: Int,
                      dataSchema: StructType): Prepared = {
    val job = Job.getInstance(conf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val out = new Path(d.path)
    val fs = out.getFileSystem(job.getConfiguration)
    val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    FileOutputFormat.setOutputPath(job, qualified)
    val factory = d.format.prepareWrite(spark, job, Map.empty, dataSchema)
    val committer = new FusedCommitProtocol(UUID.randomUUID().toString, qualified.toString)
    committer.setupJob(job)
    val settings = job.getConfiguration.iterator().asScala
      .filter(e => conf.getRaw(e.getKey) != e.getValue).map(e => e.getKey -> e.getValue).toMap
    Prepared(d.name, Spec(slot, dataSchema.length, d.partitionBy.map(_._1), dataSchema,
      factory, settings, committer), job)
  }

  /** One task: route every row, then commit each destination's output.
    * Returns, per destination, its task commit message or its failure. */
  private def runTask(specs: Seq[Spec], conf: Configuration, trackerId: String, ctx: TaskContext,
                      rows: Iterator[InternalRow]): Seq[Either[Throwable, TaskCommitMessage]] = {
    val writers = specs.map(new TaskWriter(_, conf, trackerId, ctx))
    try {
      while (rows.hasNext) {
        val row = rows.next()
        writers.foreach(_.write(row))
      }
      writers.foreach(_.close())
      // the driver authorizes one commit per task partition and stage, so
      // the task asks once and commits every destination under it
      if (writers.exists(_.ok)) org.apache.spark.sql.graft.Bridge.authorizeTaskCommit()
      writers.map(_.commit())
    } catch {
      case e: Throwable =>
        writers.foreach(_.abort())
        throw e
    }
  }

  private def quietly(body: => Unit): Unit =
    try body catch { case NonFatal(_) => () }

  /** One destination's output in one task (`FileFormatWriter.executeTask`
    * with a single-directory or dynamic-partition data writer). An error
    * here fails this destination only: its output is aborted and it takes
    * no more rows. */
  private final class TaskWriter(spec: Spec, shared: Configuration, trackerId: String,
                                 ctx: TaskContext) {
    private val context: TaskAttemptContext = {
      val jobId = new JobID(trackerId, ctx.stageId())
      val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, ctx.partitionId()),
        ctx.taskAttemptId().toInt & Integer.MAX_VALUE)
      val conf = new Configuration(shared)
      spec.settings.foreach { case (k, v) => conf.set(k, v) }
      conf.set("mapreduce.job.id", jobId.toString)
      conf.set("mapreduce.task.id", attempt.getTaskID.toString)
      conf.set("mapreduce.task.attempt.id", attempt.toString)
      conf.setBoolean("mapreduce.task.ismap", true)
      conf.setInt("mapreduce.task.partition", 0)
      new TaskAttemptContextImpl(conf, attempt)
    }
    /** Open output writers by leaf directory ("" when unpartitioned). */
    private val open = mutable.LinkedHashMap.empty[String, OutputWriter]
    private var failure: Throwable = _

    guarded(spec.committer.setupTask(context))

    private def guarded(body: => Unit): Unit =
      if (failure == null) try body catch {
        case NonFatal(e) =>
          failure = e
          abort()
      }

    /** The partition values of the last row and their leaf directory:
      * rows of one leaf tend to come together, and comparing the values
      * costs no allocation. */
    private val lastValues = new Array[UTF8String](spec.partitions.size)
    private var lastLeaf: String = _

    private def leaf(row: InternalRow): String = {
      var same = lastLeaf != null
      var i = 0
      while (i < lastValues.length) {
        val at = spec.slot + 1 + i
        val v = if (row.isNullAt(at)) null else row.getUTF8String(at)
        if (v != lastValues(i)) {
          same = false
          // the row's buffer is reused for the next row
          lastValues(i) = if (v == null) null else v.clone()
        }
        i += 1
      }
      if (!same) lastLeaf = spec.partitions.zip(lastValues).map { case (name, v) =>
        ExternalCatalogUtils.getPartitionPathString(name, if (v == null) null else v.toString)
      }.mkString("/")
      lastLeaf
    }

    private def newWriter(dir: String): OutputWriter = {
      // one file per leaf per task, so the file counter stays at 000;
      // Spark's writers name it "-c000" in a single directory and ".c000"
      // in a partition leaf
      val ext = (if (dir.isEmpty) "-c000" else ".c000") + spec.factory.getFileExtension(context)
      val path = spec.committer.newTaskTempFile(context,
        if (dir.isEmpty) None else Some(dir), FileNameSpec("", ext))
      spec.factory.newInstance(path, spec.dataSchema, context)
    }

    def write(row: InternalRow): Unit =
      if (failure == null && !row.isNullAt(spec.slot)) guarded {
        val dir = if (spec.partitions.isEmpty) "" else leaf(row)
        open.getOrElseUpdate(dir, newWriter(dir)).write(row.getStruct(spec.slot, spec.fields))
      }

    def ok: Boolean = failure == null

    /** Close this destination's files. */
    def close(): Unit = guarded {
      // task 0 writes an unpartitioned destination's file even without
      // rows, as Spark's writer does: a batch of no parse failures still
      // leaves a DLQ file that carries the schema
      if (spec.partitions.isEmpty && open.isEmpty && ctx.partitionId() == 0)
        open("") = newWriter("")
      while (open.nonEmpty) open.remove(open.head._1).foreach(_.close())
    }

    /** Commit the closed files, once the driver has authorized it. */
    def commit(): Either[Throwable, TaskCommitMessage] = {
      var message: TaskCommitMessage = null
      guarded { message = spec.committer.commitTask(context) }
      if (failure == null) Right(message) else Left(failure)
    }

    def abort(): Unit = {
      open.values.foreach(w => quietly(w.close()))
      open.clear()
      quietly(spec.committer.abortTask(context))
    }
  }

  /** Spark SQL's default commit protocol, with the driver's authorization
    * taken out of the task commit. `HadoopMapReduceCommitProtocol.commitTask`
    * asks the output commit coordinator, which authorizes one commit per
    * task partition and stage and denies every later request, so a task
    * that commits several destinations would be denied all but the first.
    * The task asks once for all of them (`Bridge.authorizeTaskCommit`),
    * then each destination's Hadoop committer commits its task output
    * here. The message is the one the parent's `commitJob` reads; it is
    * empty because a fused write adds no absolute-path files and no
    * dynamically overwritten partitions. */
  private[sinks] final class FusedCommitProtocol(jobId: String, path: String)
      extends SQLHadoopMapReduceCommitProtocol(jobId, path) {
    @transient private var committer: OutputCommitter = _

    override def setupCommitter(context: TaskAttemptContext): OutputCommitter = {
      committer = super.setupCommitter(context)
      committer
    }

    override def commitTask(context: TaskAttemptContext): TaskCommitMessage = {
      if (committer.needsTaskCommit(context)) committer.commitTask(context)
      new TaskCommitMessage(Map.empty[String, String] -> Set.empty[String])
    }
  }
}
