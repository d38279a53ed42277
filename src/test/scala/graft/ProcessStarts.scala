package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Processes the JVM starts from Hadoop's file system code, recorded
  * in-process by JFR's `jdk.ProcessStart` event. Spark's own forks (an
  * `rm -rf` from artifact cleanup, say) have no such frame and are left
  * out. */
object ProcessStarts {
  /** The command lines of the processes started from a frame in
    * `org.apache.hadoop.fs` while `body` runs. */
  def fromHadoopFs(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.")))
      }.map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }
}
