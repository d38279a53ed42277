package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.parquet`'s schema memo: a load reports the schema a plain
  * `read.parquet` infers, a repeated load of an unchanged input runs no
  * job, and a rewritten file or a flipped parquet conf is never read with
  * the stale schema. And `Tables.sessionConfs`' codegen cache holds a
  * working set larger than Spark's default. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def scratchDir(prefix: String): java.nio.file.Path = {
    val b = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(b)
    Files.createTempDirectory(b, prefix)
  }

  /** Jobs started while `body` runs, counted once the listener bus drains. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graft.Bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("every fixture table loads with the schema read.parquet infers") {
    tables.foreach { t =>
      assert(Tables.load(spark, sf, t).schema === spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("a second load of an unchanged table starts no job") {
    tables.foreach(Tables.load(spark, sf, _))
    val jobs = jobsDuring(tables.foreach(Tables.load(spark, sf, _)))
    assert(jobs === 0, s"reloading ${tables.size} unchanged tables ran $jobs jobs")
  }

  test("a file overwritten in place with a new schema loads with the new schema") {
    val dir = scratchDir("rewrite")
    val file = dir.resolve("t.parquet")
    // one parquet file at a fixed path, as the fixture tables are laid out
    def writeFile(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val out = dir.resolve(tag).toString
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, file, StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(Seq(1L, 2L).toDF("a"), "v1")
    assert(Tables.parquet(spark, file.toString).schema.fieldNames.toSeq === Seq("a"))
    writeFile(Seq(("x", 1.5)).toDF("bb", "cc"), "v2")
    val reread = Tables.parquet(spark, file.toString)
    assert(reread.schema === spark.read.parquet(file.toString).schema)
    assert(reread.schema.fieldNames.toSeq === Seq("bb", "cc"))
    assert(reread.as[(String, Double)].collect().toSeq === Seq(("x", 1.5)))
  }

  test("flipping spark.sql.parquet.binaryAsString flips a binary column's loaded type") {
    // written without Spark's schema footer, so the column's Spark type
    // comes from the conf, not from stored Spark metadata
    val file = scratchDir("binary").resolve("b.parquet").toString
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file)).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("b", "hi"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.parquet(spark, file).schema("b").dataType === BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.parquet(spark, file)
      assert(asString.schema("b").dataType === StringType)
      assert(asString.as[String].collect().toSeq === Seq("hi"))
      spark.conf.set(key, "false")
      assert(Tables.parquet(spark, file).schema("b").dataType === BinaryType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a repeated cycle of 150 distinct generated classes compiles none") {
    // each projection pastes its own literal into the generated source, so
    // the cycle asks for more classes than Spark's default 100-entry LRU
    // cache holds: there, every class is evicted before the cycle comes
    // back to it
    val cycle = (1 to 150).map(i => () => spark.range(10).selectExpr(s"id * $i").collect())
    cycle.foreach(_())
    def compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val before = compiled
    cycle.foreach(_())
    assert(compiled - before === 0, "classes compiled by the second cycle")
  }
}
