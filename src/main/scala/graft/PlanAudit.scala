package graft

/** Prints formatted physical plans for the load-bearing queries so the
  * shuffle/broadcast/pushdown shape can be audited (SURVEY.md §4.2).
  * Usage: runMain graft.PlanAudit <sfDir> [queryKey ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val keys = if (args.length > 1) args.tail.toSeq
      else Seq("filter_pred", "join_multiway", "join_theta_range",
               "agg_groupby", "dedup_ngram_jaccard", "sim_knn_join")
    SparkEntry.requireKeys(keys, "PlanAudit")
    val spark = GraftSession.local(GraftSession.cpus())
    keys.foreach { k =>
      println(s"\n=== PLAN: $k ===")
      SparkEntry.queries(k)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
