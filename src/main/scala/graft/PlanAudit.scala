package graft

/** Print formatted physical plans for selected queries — the scale audit:
  * broadcast joins where intended, pushed filters, pruned read schemas,
  * WholeStageCodegen coverage. Usage: runMain graft.PlanAudit [query ...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_classify", "q1_pricing_summary", "q3_top_orders", "q_latest_per_station",
        "q_asof_attribution", "q_range_sessions", "text_train_ready",
        "q_funnel", "q_resample_ffill", "q7_bilateral_trade", "q18_large_orders",
        "text_langid_trained", "text_sitemap_frontier")
    // env-overridable so plan captures can run at the bench's scale factor
    // and core count (join strategy / AQE decisions are size-dependent)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Tables.session(cpus)
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      // scoped caches eager-materialize at plan-construction time (so bench
      // runs are reproducible); an explain-only audit never consumes them,
      // so release here or each audited cached plan stays resident
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
