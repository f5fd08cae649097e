package graft

/** Global-window whitelist over EVERY graded key (r11 verdict ask #3).
  *
  * An unpartitioned Window funnels its whole input through ONE task —
  * the single worst scale hazard an operator can silently pick up. The
  * repo's convention allows them only over frames whose row count is
  * bounded by something other than corpus size (a calendar, a fixed
  * cardinality, a LIMIT). Until now that convention was enforced by
  * per-key plan pins on the load-bearing shapes; this spec closes the
  * gap the verdict called out: it walks the EXECUTED plan of every key
  * in SparkEntry.queries, collects unpartitioned Window operators, and
  * asserts the offending keys against an explicit whitelist — so a
  * future key that accidentally global-windows a data-sized frame fails
  * CI instead of shipping.
  *
  * Every whitelist entry documents its row bound. The test is
  * two-sided: a NON-whitelisted key with a global window fails (the
  * hazard), and a whitelisted key WITHOUT one fails too (stale entry —
  * the whitelist can only ever shrink to match reality, never rot).
  */
class WindowWhitelistSpec extends SparkSpecBase {

  /** Keys whose executed plan legitimately contains an unpartitioned
    * Window, each with the reason its input is NOT data-sized. Bounds
    * are structural (calendar / fixed cardinality / LIMIT upstream),
    * not observed row counts. */
  private val whitelist: Map[String, String] = Map(
    // -- Windows.bucketPrefix / priorBuckets: the offset window runs
    //    over one row per bucket, bucket count fixed by the operator
    //    (distributedRunningSum: nParts chunks), never data-sized
    "event_peak_concurrency" -> "Windows.bucketPrefix over nParts chunks",
    "stats_auc_delong" -> "Windows.bucketPrefix over nParts chunks (x2 arms)",
    "text_heaps_law" -> "Windows.bucketPrefix over nParts chunks (x2 passes)",
    "win_distinct_running" -> "Windows.bucketPrefix over nParts chunks",
    "agg_gini" -> "Windows.priorBuckets over fixed value buckets",
    "agg_weighted_median" -> "Windows.bucketPrefix over fixed value buckets",
    "pipeline_shuffle_order" -> "Windows.bucketPrefix over fixed hash buckets",
    "stats_kruskal_wallis" -> "Windows.bucketPrefix over fixed value buckets",
    "stats_ks_test" -> "Windows.bucketPrefix over fixed value buckets",
    "stats_mann_whitney" -> "Windows.priorBuckets over fixed value buckets",
    "stats_roc_auc" -> "Windows.bucketPrefix over fixed score buckets",
    "stats_pr_auc" -> "threshold-bin prefix + scalars (fixed bins)",
    "model_lift_deciles" -> "decile frame: cum/total over fixed score bins",
    "pipeline_length_histogram" -> "length-bucket frame (fixed bucket grid)",
    "stats_brier_calibration" -> "calibration-bin frame (fixed bins)",
    "win_pareto_abc" -> "Windows.bucketPrefix over fixed value buckets",
    "stream_late_audit" -> "hour-bucket high-water-mark prefix (calendar)",
    // -- k-group / contingency-cell frames: rows = small categorical
    //    cardinality (|event_type|, digit, treatment), not data
    "graph_clustering_coeff" -> ("node-grain frame reduced to two exact " +
      "integer sums (documented order-free-math tradeoff; nodes = " +
      "co-purchase parts, ~SFx200k — past ~1e8 pay a scalar join instead)"),
    "profile_benford" -> "9 leading-digit rows",
    "stats_anova" -> "k-group moment frame (|event_type| rows)",
    "stats_levene" -> "k-group moment frame (|event_type| rows)",
    "stats_friedman" -> "k-treatment rank frame (|event_type| rows)",
    "stats_chi_square" -> "contingency cells (|types| x |buckets|)",
    "stats_cramers_v" -> "contingency cells (|types| x |buckets|)",
    "stats_mutual_info" -> "contingency cells (|types| x |buckets|)",
    "stats_benjamini_hochberg" -> ("hypothesis frame: (type x heavy-" +
      "hitter) grid, bounded by the tested-hypothesis set"),
    // -- calendar-bounded day/time grains (a decade ~ 3.7k rows)
    "stats_group_sequential" -> "interim-look frame at day grain",
    "stats_runs_test" -> "day-grain sign lag",
    "stats_survival_km" -> "distinct lifetime-day frame",
    "stats_wilcoxon_signed_rank" -> "day-grain |diff| ranks",
    "timeseries_granger" -> "day-grain lags (x2 fit passes)",
    "win_running" -> "day-grain running sum/avg (the key's semantics)",
    // -- LIMIT-bounded frames: the window runs after a top-k cut
    "sim_hybrid_search" -> "rank windows after limit(100) per arm",
    "text_word_zipf" -> "rank/cum window after limit(100)",
    // -- documented single-scan tradeoffs at aggregate grain (scaladoc
    //    records the cutover point where a second scan wins)
    "q11_value_concentration" -> ("part-grain HAVING scalar, single fact" +
      " scan; documented fine to ~1e8 parts, then pay the second scan"),
    "q15_top_supplier" -> "supplier-grain argmax scalar, same tradeoff",
    "pipeline_repeat_upsample" -> "per-source rollup scalar (|source| rows)"
  )

  /** Unpartitioned-window detector shared with PlanAuditSpec's
    * corpus-build pin: WindowExec prints
    * `Window [exprs], [partitionSpec], [orderSpec]`; with an empty
    * partition spec the second bracket group is empty or holds sort
    * directions. */
  private def globalWindows(plan: String): Seq[String] =
    plan.linesIterator
      .filter(_.contains("Window ["))
      .filter { l =>
        val groups = l.substring(l.indexOf("Window [")).split("\\], \\[")
        groups.length < 2 || {
          val second = groups(1).takeWhile(_ != ']').trim
          second.isEmpty || second.contains(" ASC") || second.contains(" DESC")
        }
      }.map(_.trim).toSeq

  test("every key's unpartitioned windows are whitelisted with a row bound") {
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val gw = globalWindows(
          fn(spark, sfSmoke).queryExecution.executedPlan.toString)
        if (gw.isEmpty) None else Some(name -> gw)
    }.toMap
    val unlisted = found.keySet.diff(whitelist.keySet)
    assert(unlisted.isEmpty,
      s"\n${unlisted.size} keys have NON-whitelisted unpartitioned windows " +
        "(bound the frame or justify it here):\n" +
        unlisted.toSeq.sorted.map(k =>
          s"  $k:\n    ${found(k).mkString("\n    ")}").mkString("\n"))
    val stale = whitelist.keySet.diff(found.keySet)
    assert(stale.isEmpty,
      s"\nstale whitelist entries (no unpartitioned window in the plan " +
        s"anymore — delete them): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
