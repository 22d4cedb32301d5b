package graft

/** Plan-shape audit: prints the formatted physical plan of selected
  * queries so scan pruning (ReadSchema), filter pushdown (PushedFilters),
  * broadcast joins, and whole-stage codegen spans can be eyeballed and
  * asserted in review. Run:
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.01 [queryName ...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val wanted = args.drop(1).toSet
    val spark = GraftSession("local[4]", "graft-plan-audit", shufflePartitions = Some(4),
      ui = Some(false), logLevel = Some("ERROR"))
    val names =
      if (wanted.nonEmpty) wanted.toSeq.sorted
      else Seq("q1_agg", "q_derived_fields", "q_fuzzy_top1", "q_dedup_exact",
        "q_token_count", "q_ann_brute", "q_ann_ivf", "q_resume_antijoin",
        "q_topk_per_group", "q_bucketed_join", "q_url_parse", "q_asof_join",
        "q_range_join", "q_dedup_minhash_lsh", "q_distinct_sketch")
    // hard invariants live in PlanShapeSpec (CI); this main is the
    // eyeball/report surface
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
