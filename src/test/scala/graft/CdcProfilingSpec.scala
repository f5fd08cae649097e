package graft

import graft.operators.{Cdc, Pipeline, Profiling}
import org.apache.spark.sql.functions._

/** Semantic pins for the table-maintenance family (CDC merge, SCD2,
  * profiling, domain mixing). Result correctness is oracle-scored; these
  * tests pin the invariants the oracle hash alone doesn't explain. */
class CdcProfilingSpec extends SparkSpecBase {

  test("merge_cdc_upsert: deletes win over updates, inserts are novel keys") {
    val out = Cdc.mergeCdcUpsert(spark, sfSmoke).cache()
    try {
      // every key divisible by 7 (delete, version 3) is gone — including
      // keys divisible by 35 that also had a version-2 update
      assert(out.filter(col("key") < 1000000000L && col("key") % 7 === 0)
        .count() === 0L)
      // updated keys carry the re-priced version 2
      val upd = out.filter(col("key") < 1000000000L && col("key") % 5 === 0 &&
                           col("key") % 7 =!= 0)
      assert(upd.filter(col("version") =!= 2L).count() === 0L)
      // inserted keys live above the 1e9 offset with version 1
      val ins = out.filter(col("key") >= 1000000000L)
      assert(ins.count() > 0 && ins.filter(col("version") =!= 1L).count() === 0L)
      // untouched keys survive at version 0
      assert(out.filter(col("version") === 0L).count() > 0)
    } finally out.unpersist()
  }

  test("scd2_intervals: intervals tile each user's history without overlap") {
    val iv = Cdc.scd2Intervals(spark, sfSmoke).cache()
    try {
      // exactly one open (current) interval per user
      val bad = iv.groupBy("user_id")
        .agg(sum(when(col("is_current"), 1).otherwise(0)).as("open"))
        .filter(col("open") =!= 1)
      assert(bad.count() === 0L, "each user must have exactly one open interval")
      // each interval ends exactly where the next begins (no gaps/overlap)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("valid_from")
      val broken = iv.withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .filter(col("next_from").isNotNull && col("valid_to") =!= col("next_from"))
      assert(broken.count() === 0L, "intervals must tile: valid_to == next valid_from")
      // consecutive intervals always change the attribute value
      val sameNeighbor = iv.withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull && col("next_type") === col("event_type"))
      assert(sameNeighbor.count() === 0L, "consecutive duplicates must collapse")
    } finally iv.unpersist()
  }

  test("profile_table: one scan, stats agree with direct queries") {
    val df = Profiling.profileTable(spark, sfSmoke)
    // the multi-distinct aggregate must compile to ONE scan via Expand —
    // a per-column loop of jobs is the anti-pattern at 100 TB
    val scans = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
      .linesIterator.count(l => l.contains("Location:") && l.contains("orders"))
    assert(scans === 1, s"profile must be a single-scan plan, saw $scans scans")
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    val o = Tables.orders(spark, sfSmoke)
    assert(rows("o_custkey").getLong(3) === o.select("o_custkey").distinct().count())
    assert(rows("o_orderstatus").getLong(1) === o.count())
    assert(rows("o_orderstatus").getLong(2) === o.filter(col("o_orderstatus").isNull).count())
  }

  test("cdc plans: scd2 windows share one shuffle; merge gets map-side group limit") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // scd2: lag and lead share (user_id, ts, event_id) partitioning+order
    // → exactly 2 exchanges total: the window shuffle + the output sort
    val scd2 = plan(Cdc.scd2Intervals(spark, sfSmoke))
    assert("Exchange".r.findAllIn(scd2).length == 2,
      s"scd2 must shuffle once for both windows (+1 output sort):\n$scd2")
    // merge: latest-version-per-key must push a WindowGroupLimit below
    // the shuffle — each map task forwards one candidate per key, so the
    // changelog fold shuffles survivors, not the whole union
    val merge = plan(Cdc.mergeCdcUpsert(spark, sfSmoke))
    assert(merge.contains("WindowGroupLimit"),
      s"merge must keep the map-side rank-1 pushdown:\n$merge")
    assert("Exchange".r.findAllIn(merge).length == 2,
      s"merge must be one key shuffle (+1 output sort):\n$merge")
  }

  test("join_fuzzy_editdist: FastSS blocking is complete and stays an equi-join") {
    val out = graft.operators.AdvancedJoins.joinFuzzyEditdist(spark, sfSmoke)
    // the deletion-neighborhood join must never degrade to a product plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fuzzy join must stay an equi-join:\n${plan.take(1500)}")
    val got = out.select("doc_id", "dirty", "clean").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // reference: direct levenshtein filter over the (small) cross space
    val dirty = Tables.documents(spark, sfSmoke)
      .select(col("doc_id"), split(col("text"), " ").getItem(0).as("w0"))
      .select(col("doc_id"), expr(
        """concat(substring(w0, 1, CAST(doc_id % length(w0) AS INT)),
          |       substring(w0, CAST(doc_id % length(w0) AS INT) + 2))"""
          .stripMargin).as("dirty"))
    val vocab = Tables.documents(spark, sfSmoke)
      .select(explode(split(col("text"), " ")).as("clean")).distinct()
    val want = dirty.crossJoin(vocab)
      .filter(levenshtein(col("dirty"), col("clean")) <= 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == want, s"blocking must find exactly the distance<=1 pairs " +
      s"(missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)})")
    assert(got.nonEmpty, "fixture must produce links")
  }

  test("agg_histogram: bins cover all rows with monotone bounds") {
    val h = Profiling.aggHistogram(spark, sfSmoke).collect()
    assert(h.map(_.getLong(3)).sum === Tables.orders(spark, sfSmoke).count())
    assert(h.length <= 20 && h.nonEmpty)
    h.foreach(r => assert(r.getDouble(1) < r.getDouble(2)))
    // bins arrive ordered and distinct
    val bins = h.map(_.getLong(0))
    assert(bins.sameElements(bins.sorted) && bins.distinct.length == bins.length)
  }

  test("profile_heavy_hitters: top-k is TakeOrdered over aggregated counts") {
    val df = Profiling.profileHeavyHitters(spark, sfSmoke)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must never be a global sort of raw rows:\n${plan.take(1200)}")
    val rows = df.collect()
    assert(rows.count(_.getString(0) == "event_type") == 5) // only 5 types exist
    assert(rows.count(_.getString(0) == "user_id") == 10)
    // shares of the full event_type partition sum to 1
    val typeShare = rows.filter(_.getString(0) == "event_type")
      .map(_.getDouble(3)).sum
    assert(math.abs(typeShare - 1.0) < 1e-4)
  }

  test("quality_constraints: every rule fires on a planted-violations corpus") {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_qc_")
    Seq(
      (1L, Some(10L), "F", 100.0, "1996-01-01 00:00:00", "1-URGENT"),
      (1L, Some(11L), "O", 200.0, "1996-01-02 00:00:00", "2-HIGH"),   // dup key
      (2L, None,      "O", 300.0, "1996-01-03 00:00:00", "3-MEDIUM"), // null custkey
      (3L, Some(12L), "X", -50.0, "1996-01-04 00:00:00", "4-NOT SPECIFIED") // bad status + negative
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "d", "o_orderpriority")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1), (99L, 1))                                            // 99 = orphan
      .toDF("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Profiling.qualityConstraints(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "o_custkey_not_null" -> 1L, "o_orderkey_unique" -> 1L,
      "o_totalprice_positive" -> 1L, "o_orderstatus_accepted" -> 1L,
      "l_orderkey_fk_orders" -> 1L), s"each planted violation must fire: $got")
    // and the shape holds: single-table rules share ONE scan of orders
    val plan = Profiling.qualityConstraints(spark, sfSmoke).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val ordersScans = plan.linesIterator
      .count(l => l.contains("Location:") && l.contains("orders"))
    assert(ordersScans <= 2, // 1 for the fused rule aggregate + 1 for the FK join
      s"single-table rules must fuse into one scan, saw $ordersScans")
  }

  test("behavioral stats: transition shares are row-stochastic, arms partition users") {
    import graft.operators.Stats
    val tr = Stats.pathTransitions(spark, sfSmoke).collect()
    assert(tr.length == 25, "5 event types must yield a full 5x5 matrix")
    tr.groupBy(_.getString(0)).values.foreach { row =>
      assert(math.abs(row.map(_.getDouble(3)).sum - 1.0) < 1e-4,
        "each prev_type's outgoing shares must sum to 1")
    }
    val t = Stats.experimentTtest(spark, sfSmoke).head()
    val purchases = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull).count()
    assert(t.getLong(0) + t.getLong(1) === purchases,
      "arms must partition the purchase events")
    assert(t.getLong(0) > 0 && t.getLong(1) > 0 && !t.getDouble(4).isNaN)
    val z = Stats.anomalyZscore(spark, sfSmoke).collect()
    assert(z.forall(r => math.abs(r.getDouble(3)) > 2.0))
    // the A/B aggregate is ONE pass: both arms' stats from one scan
    val plan = Stats.experimentTtest(spark, sfSmoke).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = plan.linesIterator
      .count(l => l.contains("Location:") && l.contains("events"))
    assert(scans == 1, s"t-test must compute both arms in one scan, saw $scans")
  }

  test("timeseries_resample: per-user grid is contiguous and gaps are explicit") {
    import graft.operators.Stats
    val rs = Stats.timeseriesResample(spark, sfSmoke).cache()
    try {
      // row count per user == span days (contiguity: no holes, no extras)
      val bad = rs.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
             (datediff(max(col("d")), min(col("d"))) + 1).as("span"))
        .filter(col("n") =!= col("span"))
      assert(bad.count() === 0L, "each user's grid must cover exactly its span")
      // gap rows exist, are zero-valued, and only they are unobserved
      val gaps = rs.filter(!col("observed"))
      assert(gaps.count() > 0, "fixture must contain gap days")
      assert(gaps.filter(col("day_value") =!= 0.0).count() === 0L,
        "gap days must be zero-filled")
    } finally rs.unpersist()
  }

  test("agg_freq_sketch: CMS never undercounts, overcount within eps*n, deterministic") {
    import graft.operators.Profiling
    val rows = Profiling.aggFreqSketch(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val n = Tables.events(spark, sfSmoke)
      .filter(col("user_id").isNotNull).count()
    val bound = math.ceil(0.001 * n).toLong
    rows.foreach { r =>
      val over = r.getAs[Long]("overcount")
      assert(over >= 0L, s"CMS must never undercount: $r")
      assert(over <= bound, s"overcount $over exceeds eps*n=$bound: $r")
    }
    // fixed seed → bit-identical estimates across runs
    assert(Profiling.aggFreqSketch(spark, sfSmoke).collect().sameElements(rows))
  }

  test("pipeline_domain_mix: every language hits exactly the minority quota") {
    val mix = Pipeline.domainMix(spark, sfSmoke)
    val counts = mix.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val quota = Tables.documents(spark, sfSmoke)
      .groupBy("lang").count().agg(min("count")).head().getLong(0)
    assert(counts.values.toSet === Set(quota),
      s"expected all langs at quota $quota, got $counts")
    assert(counts.keySet === Set("de", "en", "es", "fr", "zh"))
  }
}
