package graft

import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, InputAdapter,
  ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col

/** Physical-plan audits: the properties that make these operators hold
  * at 100 TB are plan shapes, not result values — filters reaching the
  * parquet scan, scans pruned to referenced columns, map-side partial
  * aggregation, broadcast of bounded dims, top-k never globally sorting,
  * and wide WholeStageCodegen spans. Asserting them here pins the shape
  * against regressions that would still pass every result check.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Unpartitioned windows of `df`'s executed plan that do NOT read the
    * per-bucket summary: walking down from each one through sorts,
    * exchanges, projections and stacked windows, the first other node
    * must be a HashAggregate grouped on exactly `grain` (the bucket
    * column, after any partition columns), before any row-grain node. */
  private def windowsOffBucketSummary(df: DataFrame,
                                      grain: Seq[String]): Seq[String] = {
    def onSummary(p: SparkPlan): Boolean = p match {
      case a: HashAggregateExec => a.groupingExpressions.map(_.name) == grain
      case _: SortExec | _: ShuffleExchangeExec | _: ProjectExec |
           _: WindowExec | _: WholeStageCodegenExec | _: InputAdapter =>
        p.children.size == 1 && onSummary(p.children.head)
      case _ => false
    }
    WindowWhitelistSpec.unpartitionedWindows(df)
      .filterNot(w => onSummary(w.child)).map(_.simpleString(400))
  }

  test("filter_pred pushes its predicates into the parquet scan") {
    val plan = formatted(Relational.filterPred(spark, sfSmoke))
    assert(plan.contains("PushedFilters:"), plan)
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters:")).mkString
    assert(pushed.contains("l_shipdate") && pushed.contains("l_quantity"),
      s"shipdate/quantity predicates must reach the scan: $pushed")
  }

  test("project_select prunes the scan to the referenced columns only") {
    val plan = formatted(Relational.projectSelect(spark, sfSmoke))
    val read = plan.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(read.contains("l_extendedprice") && read.contains("l_discount"), read)
    assert(!read.contains("l_shipdate") && !read.contains("l_returnflag"),
      s"unreferenced columns must be pruned from the scan: $read")
  }

  test("flagship aggregation is two-phase (map-side partial + final)") {
    val plan = Relational.aggGroupBy(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final HashAggregate pair:\n$plan")
    assert(plan.contains("partial_"), s"map-side combine missing:\n$plan")
  }

  test("dim join broadcasts; top-k plans TakeOrderedAndProject, never a global sort") {
    val bPlan = Relational.joinBroadcast(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)
    val kPlan = Relational.limitTopK(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(kPlan.contains("TakeOrderedAndProject"), kPlan)
  }

  test("partition-column filters prune at listing time (PartitionFilters, not data filters)") {
    val dir = graft.Scratch.dir("graft_prune_")
    Tables.documents(spark, sfSmoke)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("lang") === "en")
    val plan = formatted(read)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters:")).mkString
    assert(pf.contains("lang"),
      s"lang predicate must prune partitions at listing time: $plan")
    // the pruned scan must touch only the en partition's rows
    val en = Tables.documents(spark, sfSmoke)
      .filter(col("lang") === "en").count()
    assert(read.count() == en)
  }

  test("argmax shapes scan their fact table exactly once (q2, q21)") {
    // the round-5 q2 aggregated-then-joined-back: three consumers of the
    // same join subtree with different downstream partitionings defeated
    // ReuseExchange and the 5-way pipeline ran 3x. The max(struct) /
    // window rewrites have ONE fact scan by construction — pin that, so
    // a future "just join the aggregate back" edit can't reintroduce
    // the recompute class silently.
    def locationScans(df: DataFrame, fact: String): Int =
      formatted(df).linesIterator
        .count(l => l.contains("Location:") && l.contains(fact))
    assert(locationScans(
      operators.TpchShapes.q2MinCostSupplier(spark, sfSmoke), "lineitem") == 1,
      "q2 must read lineitem exactly once")
    assert(locationScans(
      operators.TpchShapes.q21WaitingSupplier(spark, sfSmoke), "lineitem") == 1,
      "q21 must read lineitem exactly once")
    assert(locationScans(
      operators.TpchShapes.q15TopSupplier(spark, sfSmoke), "lineitem") == 1,
      "q15 must read lineitem exactly once")
    assert(locationScans(
      operators.TpchShapes.q11ValueConcentration(spark, sfSmoke), "lineitem") == 1,
      "q11 must read lineitem exactly once")
    assert(locationScans(
      operators.TpchShapes.q17SmallQtyAvg(spark, sfSmoke), "lineitem") == 1,
      "q17 must read lineitem exactly once")
  }

  test("hot paths stay inside WholeStageCodegen") {
    for ((name, df) <- Seq[(String, DataFrame)](
        "agg_groupby" -> Relational.aggGroupBy(spark, sfSmoke),
        "join_multiway" -> Relational.joinMultiway(spark, sfSmoke),
        "filter_pred" -> Relational.filterPred(spark, sfSmoke))) {
      // codegen stages exist only in the FINAL adaptive plan — AQE
      // annotates this QueryExecution instance once it materializes
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("),
        s"$name lost whole-stage codegen:\n$plan")
    }
  }

  test("incremental bloom: half-split bounds reach every documents scan") {
    // the batch/historical doc_id cutoffs must be parquet PushedFilters —
    // at 100 TB with date/id-partitioned layout these become partition
    // and row-group pruning, so neither half ever reads the other.
    val plan = formatted(
      graft.operators.Dedup.dedupIncrementalBloom(spark, sfSmoke))
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters:")).toSeq
    assert(pushed.nonEmpty, plan)
    assert(pushed.forall(l => l.contains("GreaterThan(doc_id")
                           || l.contains("LessThanOrEqual(doc_id")),
      s"every scan must carry its half's doc_id bound:\n${pushed.mkString("\n")}")
  }

  test("sorted-layout sink: range bounds reach the read-back scan") {
    // pushdown is what turns the clustered layout into row-group
    // pruning — if the bounds stay a post-scan Filter the layout buys
    // nothing.
    val plan = formatted(
      graft.operators.Sources.sinkSortedLayout(spark, sfSmoke))
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters:")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_orderkey,1000)")
        && pushed.contains("LessThan(l_orderkey,2000)"),
      s"range bounds must be pushed to the clustered files: $pushed")
  }

  test("running distinct count never single-partitions the fact stream") {
    // the distributed prefix-sum rewrite: first-occurrence marks flow
    // through a per-user hash window and chunk-local sums through a
    // hash exchange on the value-derived chunk id (both parallel); the
    // only single-partition step allowed is the prefix over per-chunk
    // TOTALS (≤ nParts rows).
    val df = graft.operators.Windows.winDistinctRunning(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_set"),
      s"set-state-per-row idiom must stay gone:\n$plan")
    assert(plan.contains("hashpartitioning(pid"),
      s"chunk-local sums must hash-partition on the chunk id:\n$plan")
    // every unpartitioned window must be the per-chunk TOTALS prefix
    // (≤ nParts rows) — it reads the aggregate grouped on the chunk id;
    // the row-level event stream may never appear under one. (The
    // remaining SinglePartition exchanges are the min/max bounds scalar
    // agg — also bounded.)
    val offSummary = windowsOffBucketSummary(df, Seq("pid"))
    assert(offSummary.isEmpty,
      s"an unpartitioned window touches row-level data:\n${offSummary.mkString("\n")}")
  }

  test("train/val split plans exactly one exchange (the cluster window)") {
    // split assignment must stay map-side: one hash-partitioning
    // exchange for the bag-hash window, then the output sort — a second
    // data exchange would mean the guard re-shuffles what dedup already
    // shuffled.
    val df = graft.operators.Pipeline.trainValSplit(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly one hash exchange, got $exchanges:\n$plan")
  }

  test("q16 distinct count is the two-level aggregate, no pre-join fact shuffle") {
    // the fact reaches its first aggregate through broadcast joins only;
    // a distinct() before the joins (or a countDistinct expand) would
    // add a second fact-sized exchange.
    val plan = graft.operators.TpchShapes.q16SupplierCount(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"both dimension joins must broadcast:\n$plan")
    assert(!plan.contains("Expand"),
      s"countDistinct expand must not appear (two-level agg instead):\n$plan")
  }

  test("late audit: corpus window is bucket-partitioned; only the bucket summary single-partitions") {
    val plan = graft.streaming.Streaming.lateAuditBatch(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    // the full-corpus window must partition by bkt, and the one
    // SinglePartition exchange must sit above an aggregate (the
    // 256-row-scale bucket summary), never above a raw scan
    assert(plan.contains("windowspecdefinition(bkt"),
      s"corpus running-max window must partition by bucket:\n$plan")
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(single <= 1, s"at most one SinglePartition exchange:\n$plan")
  }

  test("boilerplate/nearest-asof broadcast their small sides") {
    val bp = graft.operators.TextOps.textBoilerplateNgrams(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(bp.contains("BroadcastHashJoin"),
      s"df-filtered boilerplate set must broadcast, not shuffle on gram:\n$bp")
    // nearest-asof: both window frames plan off ONE data exchange
    val asof = graft.operators.AdvancedJoins.joinAsofNearest(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(asof).length
    assert(exchanges == 1,
      s"nearest-asof must shuffle the union exactly once, got $exchanges:\n$asof")
  }

  test("single-shuffle subset-partitioning plans: sessionize, mode, entropy, funnel") {
    // each of these claims ONE hashpartitioning exchange in its
    // scaladoc: the up-front user_id (or content-hash) partitioning is
    // reused by every downstream agg/window via the subset rule
    for ((name, df) <- Seq(
      "sessionize_gap" -> graft.operators.Pipeline.sessionizeGap(spark, sfSmoke),
      "agg_mode" -> graft.operators.AdvancedAggs.aggMode(spark, sfSmoke),
      "agg_entropy" -> graft.operators.AdvancedAggs.aggEntropy(spark, sfSmoke),
      "pipeline_filter_funnel" -> graft.operators.Pipeline.filterFunnel(spark, sfSmoke))) {
      val plan = df.queryExecution.executedPlan.toString
      val n = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(n == 1, s"$name must plan exactly one hash exchange, got $n:\n$plan")
    }
  }

  test("gini: single scan, bucket-partitioned rank, tiny single-partition points only") {
    val plan = graft.operators.Stats.aggGini(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(bkt"),
      s"the intra-rank window must partition by bucket:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"the spend subtree must not compute twice:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"exactly the user-shuffle and the bucket-shuffle:\n$plan")
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    // one for the bucket-summary offset window, one for the final agg
    assert(single <= 2, s"at most the two tiny single-partition points:\n$plan")
  }

  test("ks/mann-whitney: no single-partition window ever touches the distinct-value frame") {
    // the r7 shape ran the running ECDF/midrank sums through ONE task
    // via a bare Window.orderBy(value) over the per-distinct-value frame
    // (~linear in corpus size). The rewrite must window PARTITIONED BY
    // the monotone value bucket; any unpartitioned window may only sit
    // above the per-bucket summary aggregate (grouped on bkt), never
    // above the row-grain arm counts.
    for ((name, df) <- Seq(
        "stats_ks_test" -> graft.operators.Stats.statsKsTest(spark, sfSmoke),
        "stats_mann_whitney" -> graft.operators.Stats.statsMannWhitney(spark, sfSmoke),
        "agg_weighted_median" -> graft.operators.AdvancedAggs.aggWeightedMedian(spark, sfSmoke))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("windowspecdefinition(bkt"),
        s"$name: the running-sum window must partition by bucket:\n$plan")
      val offSummary = windowsOffBucketSummary(df, Seq("bkt"))
      assert(offSummary.isEmpty,
        s"$name: an unpartitioned window touches the distinct-value frame:\n" +
          offSummary.mkString("\n"))
    }
  }

  test("variant access prunes the events scan to the props column path") {
    val plan = formatted(graft.functions.Families.fnVariant(spark, sfSmoke))
    val read = plan.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(read.contains("props") && read.contains("event_id"), read)
    assert(!read.contains("user_id") && !read.contains("value"),
      s"unreferenced event columns must be pruned: $read")
  }

  test("asof-tolerance keeps the no-join one-shuffle asof shape") {
    val plan = graft.operators.AdvancedJoins.joinAsofTolerance(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"tolerance must not re-introduce a join:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"one user_id shuffle expected, got $n:\n$plan")
  }

  test("multiset set-ops plan as count-aggregate + generate, never a join") {
    val plan = Relational.setOpsAll(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"INTERSECT/EXCEPT ALL must not plan a join:\n$plan")
    assert("Generate".r.findAllIn(plan).length >= 2,
      s"multiplicity re-expansion generates must be present:\n$plan")
  }

  test("spearman: every window is partitioned (midranks ride the bucket prefix)") {
    // statsSpearman's ranks come from the distributed midrank helper —
    // the ks/mann-whitney discipline generalized. A bare
    // Window.orderBy(value) here would funnel both variables' distinct
    // values through one task; pin that NO unpartitioned window exists
    // anywhere in the plan (even the offset windows partition by the
    // group key).
    val df = graft.operators.Stats.statsSpearman(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition("),
      s"midrank windows missing entirely:\n$plan")
    val unpartitioned = WindowWhitelistSpec.unpartitionedWindows(df)
    assert(unpartitioned.isEmpty,
      s"spearman must not plan any unpartitioned window:\n" +
        unpartitioned.map(_.simpleString(400)).mkString("\n"))
  }

  test("link-prediction kernels broadcast the node-grain degree frame") {
    for ((name, df) <- Seq(
        "graph_jaccard_neighbors" ->
          graft.operators.Graph.graphJaccardNeighbors(spark, sfSmoke),
        "graph_adamic_adar" ->
          graft.operators.Graph.graphAdamicAdar(spark, sfSmoke))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: degree join must broadcast the node-grain side:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        s"$name: top-20 must never globally sort:\n$plan")
    }
  }

  test("length histogram prunes the documents scan to the text column") {
    val plan = graft.operators.Pipeline.lengthHistogram(spark, sfSmoke)
      .queryExecution.explainString(FormattedMode)
    val read = plan.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(read.contains("text"), read)
    assert(!read.contains("source") && !read.contains("lang") &&
           !read.contains("doc_id"),
      s"histogram needs only text; scan must prune the rest: $read")
  }

  test("pq: codebook and ADC table broadcast; ranking windows partition per query") {
    val df = graft.operators.Similarity.simAnnPq(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"the 128-row codebook and |Q|x128 ADC table must broadcast:\n$plan")
    val unpartitioned = WindowWhitelistSpec.unpartitionedWindows(df)
    assert(unpartitioned.isEmpty,
      s"pq rank windows must partition by query:\n" +
        unpartitioned.map(_.simpleString(400)).mkString("\n"))
  }

  test("roc auc: midrank windows stay bucket-partitioned (no global rank)") {
    // the constant AUC group lets Catalyst drop the group key from the
    // offsets window's partition spec — the surviving unpartitioned
    // window may only ride the BUCKET SUMMARY (the aggregate grouped on
    // the constant group and bkt, never the row-grain counts), the same
    // bounded single-partition point the ks/mann-whitney pin allows
    val df = graft.operators.Stats.statsRocAuc(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    // Catalyst folds the constant group key out of the partition specs
    // entirely, so the per-value window must still partition by bucket
    assert(plan.contains("windowspecdefinition(bkt"),
      s"the per-value midrank window must partition by bucket:\n$plan")
    val offSummary = windowsOffBucketSummary(df, Seq("all", "bkt"))
    assert(offSummary.isEmpty,
      s"an unpartitioned window touches the distinct-value frame:\n" +
        offSummary.mkString("\n"))
  }

  test("native as-of join plans as AsOfJoinExec over two clustered sorts") {
    // the custom strategy must fire (an unevaluable marker reaching
    // execution would throw), and EnsureRequirements must provision the
    // SortMergeJoin layout: one hashpartitioning exchange per side
    val plan = graft.operators.AdvancedJoins.joinAsofNative(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"),
      s"AsOfJoinStrategy did not plan the custom exec:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoop"),
      s"as-of must not fall back to a generic join:\n$plan")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).length >= 1 &&
           "hashpartitioning\\(v_user".r.findAllIn(plan).length >= 1,
      s"both sides must hash-cluster on the as-of key:\n$plan")
  }

  test("round-8 pair-space keys never plan cartesian or nested-loop joins") {
    // every key that materializes a pair space must reach it through an
    // equi-join on a blocking key (bands for phash, type for kendall,
    // user for the as-of frontier) — a BNLJ/cartesian here is the
    // quadratic shape that dies at 100 TB
    for ((name, df) <- Seq(
        "multimodal_phash" ->
          graft.operators.Multimodal.multimodalPhash(spark, sfSmoke),
        "stats_kendall_tau" ->
          graft.operators.Stats.statsKendallTau(spark, sfSmoke),
        "graph_random_walk" ->
          graft.operators.Graph.graphRandomWalk(spark, sfSmoke),
        "timeseries_snaive_backtest" ->
          graft.operators.Stats.timeseriesSnaiveBacktest(spark, sfSmoke))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must block its pair space, not cross-join it:\n" +
          plan.linesIterator.take(25).mkString("\n"))
    }
  }

  test("round-10 keys: LPA/multiprobe block their pair spaces; hybrid arms end in TakeOrdered; ESD removals broadcast") {
    // label propagation and multiprobe reach their pair spaces through
    // equi-joins on (v=node) / (tbl, bucket) — never a cartesian
    for ((name, df) <- Seq(
        "graph_label_propagation" ->
          graft.operators.Graph.graphLabelPropagation(spark, sfSmoke),
        "sim_ann_multiprobe" ->
          graft.operators.Similarity.simAnnMultiprobe(spark, sfSmoke))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must block its pair space, not cross-join it:\n" +
          plan.linesIterator.take(25).mkString("\n"))
    }
    // hybrid search: both arms are mergeable top-k (TakeOrdered), so
    // nothing data-sized is ever globally sorted; the only permitted
    // nested-loop is the 1-row query-vector/query-words broadcast
    val hPlan = graft.operators.Similarity.simHybridSearch(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(hPlan.contains("TakeOrderedAndProject"),
      s"hybrid arms must plan mergeable top-k:\n$hPlan")
    assert(!hPlan.contains("CartesianProduct"), hPlan)
    // ESD: each round's removal is a broadcast LEFT ANTI equi-join on
    // the 1-row argmax — the day frame is never shuffled for removal
    val ePlan = graft.operators.Stats.timeseriesEsdAnomaly(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(ePlan).nonEmpty,
      s"ESD removals must be broadcast anti-joins:\n$ePlan")
  }

  test("null-aware anti join plans as broadcast NAAJ, never nested-loop") {
    // NOT IN compiles to LeftAnti + NAAJ only for single-column keys with
    // a broadcastable build; a BroadcastNestedLoopJoin here would be the
    // quadratic fallback that dies at scale.
    val plan = graft.operators.AdvancedJoins.joinAntiNullAware(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    // BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as a bare
    // trailing `true` after the build side
    assert(plan.contains("LeftAnti, BuildRight, true"),
      s"NOT IN must plan as a null-aware broadcast anti join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"NOT IN must not fall back to nested-loop:\n$plan")
  }

  test("corpus build: one documents scan feeds every gate; no unpartitioned window") {
    // the end-to-end composite's whole claim is single-scan linearity:
    // gates, decontamination, pack and the three stat rollups must all
    // hang off ONE read of documents (the (lang, source) exchange is
    // planned once and reused). A second Location: line here means a
    // branch defeated ReuseExchange and the full gate pipeline runs
    // twice; an unpartitioned window means some stage funnels the doc
    // frame through one task.
    val df = operators.Pipeline.pipelineCorpusBuild(spark, sfSmoke)
    val fmt = formatted(df)
    val scans = fmt.linesIterator
      .count(l => l.contains("Location:") && l.contains("documents"))
    assert(scans == 1, s"corpus build must read documents exactly once:\n$fmt")
    val unpartitioned = WindowWhitelistSpec.unpartitionedWindows(df)
    assert(unpartitioned.isEmpty,
      s"every corpus-build window must be partitioned:\n" +
        unpartitioned.map(_.simpleString(400)).mkString("\n"))
  }
}
