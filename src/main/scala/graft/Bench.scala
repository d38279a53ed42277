package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark: times every SparkEntry.queries entry at the given
  * scale factor and prints two JSON lines, the per-query detail line and
  * then a short summary line. Queries are materialized through the noop
  * datasource (full execution of every operator and expression —
  * `.count()` would let Catalyst prune most of the work).
  *
  * env: SPARK_GRAFT_SF_DIR (the scale-factor directory), SPARK_GRAFT_CPUS
  * (default 32), SPARK_GRAFT_BENCH_ONLY=q1,q2 (restricts the run; its
  * lines are marked "filtered"). A/B work belongs to perfbench/. */
object Bench {
  type Build = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = select(SparkEntry.queries, only)
    val spark = Tables.session(cpus)

    // Warm the session (codegen, shuffle machinery, parquet footers) so the
    // first measured query isn't charged for JVM startup.
    spark.range(2000000).select((col("id") % 97).as("k"))
      .groupBy("k").count().write.format("noop").mode("overwrite").save()
    Tables.lineitem(spark, sfDir).limit(1).collect()

    lines(time(spark, sfDir, selected), only.isDefined, sfDir).foreach(println)
    spark.stop()
  }

  /** The queries a run times, in name order. A typo'd filter must not
    * masquerade as a (fast, empty) full run, so an unknown name is an
    * error. */
  def select(queries: Map[String, Build], only: Option[Set[String]]): Seq[(String, Build)] = {
    only.foreach { names =>
      val unknown = names.diff(queries.keySet)
      if (unknown.nonEmpty)
        sys.error(s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(",")}")
    }
    queries.toSeq.sortBy(_._1).filter { case (n, _) => only.forall(_.contains(n)) }
  }

  /** Two executions per query, keep the min: the first run pays JIT +
    * codegen compilation and the host's load noise is large; steady state
    * is the honest number for an engine that runs queries repeatedly.
    * None when either run failed. */
  def time(spark: SparkSession, sfDir: String,
           selected: Seq[(String, Build)]): Seq[(String, Option[Double])] = {
    def once(name: String, fn: Build): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      }
    }
    // isolation barrier: queries that persist() intermediates would serve
    // run 2 from run 1's cache and undercount, and the scoped caches
    // release via ASYNC listener events — drain the bus so a prior run's
    // release can't land mid-way through the next timed run, then clear
    // whatever remains
    def barrier(): Unit = {
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      spark.catalog.clearCache()
    }
    selected.map { case (name, fn) =>
      val first = once(name, fn)
      barrier()
      val second = once(name, fn)
      barrier()
      name -> (for (a <- first; b <- second) yield math.min(a, b))
    }
  }

  /** The detail line, then the summary line. Failed queries read -1 so a
    * crash can never read as a fast run, and are left out of the total.
    * The summary is small and LAST, so a tail-windowed capture that cuts
    * the front of the growing detail line still carries the total. */
  def lines(results: Seq[(String, Option[Double])], filtered: Boolean,
            sfDir: String): Seq[String] = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    val filt = if (filtered) ""","filtered":true""" else ""
    Seq(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed$filt,"sf":"$sfDir"}""",
      s"""{"metric":"summary","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failed$filt,"sf":"$sfDir"}""")
  }
}
