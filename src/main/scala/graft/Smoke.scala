package graft

/** Local smoke runner: executes SparkEntry.entry (the driver's t1 check)
  * and prints the result. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Tables.session(cpus)
    val df = SparkEntry.entry(spark)
    df.show(50, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
