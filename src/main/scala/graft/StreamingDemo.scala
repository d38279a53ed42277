package graft

import java.nio.file.Files
import graft.streaming.StreamingPipeline

/** Drive the streaming pipeline end-to-end from the public API: file
  * source → parse/validate/classify → tri-sink fanout, then print what
  * landed where. Usage: runMain graft.StreamingDemo [sfDir] */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Tables.session("8")

    val work = Files.createTempDirectory(
      new java.io.File("target").getAbsoluteFile.toPath, "streaming-demo").toString
    val srcDir = new java.io.File(s"$work/incoming"); srcDir.mkdirs()
    Files.copy(new java.io.File(s"$sfDir/events.parquet").toPath,
      new java.io.File(srcDir, "events.parquet").toPath)

    val paths = StreamingPipeline.SinkPaths(
      s"$work/archive", s"$work/timeseries", s"$work/raw", s"$work/dlq")
    val q = StreamingPipeline.start(spark, srcDir.getAbsolutePath,
      Tables.events(spark, sfDir), paths, s"$work/ckpt", wlMax = 300.0)
    q.awaitTermination(300000)

    println(s"work dir: $work")
    println("archive partitions:")
    def walk(f: java.io.File, depth: Int = 0): Unit =
      if (f.isDirectory && depth <= 4)
        f.listFiles().filter(x => x.isDirectory).sortBy(_.getName)
          .foreach { d => println("  " * (depth + 1) + d.getName); walk(d, depth + 1) }
    walk(new java.io.File(paths.archive))
    println(s"timeseries rows: ${spark.read.parquet(paths.timeseries).count()}")
    spark.read.parquet(paths.timeseries)
      .groupBy("flood_warning_level").count().orderBy("flood_warning_level").show(false)
    println(s"raw rows: ${spark.read.parquet(paths.raw).count()}")
    println(s"dlq present: ${new java.io.File(paths.dlq).exists()}")
    spark.stop()
  }
}
