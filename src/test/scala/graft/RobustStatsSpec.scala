package graft

import graft.operators.{Pipeline, Sources, Stats}
import org.apache.spark.sql.functions._

/** Invariants for the robust-stats / mixture / bloom-sink batch —
  * properties the oracle hash cannot see: the rank-sum conservation law
  * behind Kruskal–Wallis, OLS passing through the mean point, the
  * permutation test's exact p arithmetic, sqrt-temperature flattening
  * actually flattening, and the bloom sink's byte-faithful round trip.
  */
class RobustStatsSpec extends SparkSpecBase {

  test("kruskal-wallis: rank sums conserve n(n+1)/2, H finite and " +
      "nonnegative, mean ranks within [1, n]") {
    val rows = Stats.statsKruskalWallis(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n_j")).sum
    val sumRanks = rows.map(_.getAs[Double]("rank_sum")).sum
    // midranks are a relabeling of 1..n: their total is invariant
    assert(math.abs(sumRanks - n.toDouble * (n + 1) / 2) < 1e-4)
    val h = rows.head.getAs[Double]("h_stat")
    assert(!h.isNaN && h >= -1e-9)
    rows.foreach { r =>
      val mr = r.getAs[Double]("mean_rank")
      assert(mr >= 1.0 && mr <= n.toDouble)
      assert(r.getAs[Double]("h_stat") == h) // global stat repeated
    }
  }

  test("orderedSum folds a keyOrdered array in key order, not arrival " +
      "order, bit for bit") {
    import spark.implicits._
    // in key order 1e16 + 1.0 rounds back to 1e16 and -1e16 cancels it
    // to 0.0; the same terms arriving with 1.0 last sum to 1.0
    val byKey = Seq(1L -> 1e16, 2L -> 1.0, 3L -> -1e16)
    val want = byKey.map(_._2).foldLeft(0.0)(_ + _)
    assert(want == 0.0)
    val feed = for (g <- Seq("a", "b"); i <- Seq(2, 0, 1))
      yield (g, byKey(i)._1, byKey(i)._2)
    assert(feed.filter(_._1 == "a").map(_._3).foldLeft(0.0)(_ + _) == 1.0)
    // one row per partition, in feed order
    val got = spark.sparkContext.parallelize(feed, feed.size).toDF("g", "k", "x")
      .groupBy(col("g"))
      .agg(Stats.keyOrdered(col("k"), col("x")).as("s"))
      .select(col("g"), Stats.orderedSum("s", "r.x").as("sum_x"))
      .collect()
    assert(got.map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(want), s"group ${r.getString(0)}")
    }
  }

  test("welch anova: F nonnegative, df2 positive, grand mean inside " +
      "the group-mean envelope") {
    val r = Stats.statsWelchAnova(spark, sfSmoke).head()
    assert(r.getAs[Double]("f_welch") >= 0)
    assert(r.getAs[Double]("df2") > 0)
    val means = Tables.events(spark, sfSmoke)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type")).agg(avg(col("value")).as("m"))
      .collect().map(_.getAs[Double]("m"))
    val gm = r.getAs[Double]("weighted_grand_mean")
    assert(gm >= means.min - 1e-6 && gm <= means.max + 1e-6)
    assert(r.getAs[Long]("k_groups") == means.length)
  }

  test("ols multi: fitted plane passes through the mean point and " +
      "r2 is a valid fit fraction") {
    val r = Stats.statsOlsMulti(spark, sfSmoke).head()
    val daily = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value")), 4).as("y"))
      .select(
        datediff(col("d"), lit("2024-01-01").cast("date")).cast("double")
          .as("t"),
        when(dayofweek(col("d")).isin(1, 7), 1.0).otherwise(0.0).as("wk"),
        col("y"))
      .agg(avg("t"), avg("wk"), avg("y")).head()
    val (mt, mwk, my) =
      (daily.getDouble(0), daily.getDouble(1), daily.getDouble(2))
    val fitAtMean = r.getAs[Double]("b_intercept") +
      r.getAs[Double]("b_day") * mt + r.getAs[Double]("b_weekend") * mwk
    // OLS with an intercept always passes through (x̄, ȳ); slack covers
    // the 6-decimal coefficient rounding amplified by the feature means
    assert(math.abs(fitAtMean - my) < math.max(1e-2, math.abs(my) * 1e-4))
    val r2 = r.getAs[Double]("r2_fit")
    assert(r2 <= 1.0 + 1e-9 && r2 >= -1e-6)
  }

  test("permutation test: 64 draws, p exactly (extreme+1)/65, in (0,1]") {
    val r = Stats.statsPermutationTest(spark, sfSmoke).head()
    assert(r.getAs[Long]("n_perms") == 64L)
    val ne = r.getAs[Long]("n_extreme")
    val p = r.getAs[Double]("p_value")
    assert(math.abs(p - (ne + 1.0) / 65.0) < 1e-6)
    assert(p > 0 && p <= 1)
  }

  test("mix temperature: weights normalize, sqrt flattening compresses " +
      "shares toward uniform, allocations bounded by the budget") {
    val rows = Pipeline.pipelineMixTemperature(spark, sfSmoke).collect()
    assert(rows.length > 1)
    val wSum = rows.map(_.getAs[Double]("weight_t05")).sum
    assert(math.abs(wSum - 1.0) < 1e-4)
    // flattening: a lang below-uniform share gains weight, above loses
    val k = rows.length.toDouble
    rows.foreach { r =>
      val p = r.getAs[Double]("p_raw"); val w = r.getAs[Double]("weight_t05")
      if (p < 1.0 / k - 1e-9) assert(w > p - 1e-6)
      if (p > 1.0 / k + 1e-9) assert(w < p + 1e-6)
    }
    assert(rows.map(_.getAs[Long]("alloc_per_million")).sum <= 1000000L)
  }

  test("bloom sink: point lookup equals the same filter on the table " +
      "of record") {
    val back = Sources.sinkBloomFilter(spark, sfSmoke).collect()
    val direct = Tables.events(spark, sfSmoke)
      .filter(col("user_id") === 1L)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("event_id").collect()
    assert(back.length == direct.length && back.nonEmpty)
    back.zip(direct).foreach { case (a, b) => assert(a == b) }
  }

  test("cuped: adjusted variance shrinks by exactly the reduction pct, theta finite") {
    val r = Stats.statsCuped(spark, sfSmoke).collect()
    assert(r.length == 1)
    val row = r(0)
    val (n, theta, varPost, varAdj, red) = (row.getLong(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3), row.getDouble(4))
    assert(n > 1)
    assert(!theta.isNaN && !theta.isInfinite)
    assert(varPost > 0.0)
    assert(varAdj >= 0.0 && varAdj <= varPost,
      "CUPED cannot increase the metric variance")
    assert(red >= 0.0 && red <= 100.0)
    // identity: var_adjusted = var_post * (1 - reduction/100), up to the
    // 1e-6 output rounding on each of the three reported values
    assert(math.abs(varAdj - varPost * (1.0 - red / 100.0)) <=
      1e-5 * math.max(1.0, varPost),
      s"var_adjusted $varAdj inconsistent with var_post $varPost at $red%")
  }

  test("delta method: se positive, CI brackets the ratio symmetrically") {
    val r = Stats.statsDeltaMethod(spark, sfSmoke).collect()
    assert(r.length == 1)
    val row = r(0)
    val (ratio, se, lo, hi) = (row.getDouble(1), row.getDouble(2),
      row.getDouble(3), row.getDouble(4))
    assert(ratio > 0.0, "revenue per event must be positive on this corpus")
    assert(se > 0.0 && !se.isNaN)
    assert(lo < ratio && ratio < hi)
    // 1.96-symmetric up to the 1e-6 output rounding of each bound
    assert(math.abs((hi - ratio) - (ratio - lo)) <= 2.1e-6)
  }

  test("tost: z stats finite, verdict consistent with both one-sided bounds") {
    val r = Stats.statsTostEquivalence(spark, sfSmoke).collect()
    assert(r.length == 1)
    val row = r(0)
    val (na, nb) = (row.getLong(0), row.getLong(1))
    assert(na > 1 && nb > 1, "md5 split must populate both arms")
    val (diff, margin, zLo, zHi, eq) = (row.getDouble(4), row.getDouble(5),
      row.getDouble(6), row.getDouble(7), row.getBoolean(8))
    assert(margin > 0.0)
    assert(!zLo.isNaN && !zHi.isNaN)
    // the two z statistics straddle the same diff: z_lower + z_upper =
    // 2*margin/se > 0
    assert(zLo + zHi > 0.0)
    assert(eq == (zLo > 1.644854 && zHi > 1.644854),
      "equivalence verdict must be exactly the two-sided clearance")
    assert(math.abs(diff) < margin || !eq,
      "cannot certify equivalence when the observed diff exceeds the margin")
  }

  test("esd: three distinct suspect days, remaining count telescopes, round-1 equals grubbs") {
    val rows = Stats.timeseriesEsdAnomaly(spark, sfSmoke).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(0)).sameElements(Array(1, 2, 3)))
    val days = rows.map(_.getDate(2).toString)
    assert(days.distinct.length == 3, "each round must remove its suspect")
    val ns = rows.map(_.getLong(1))
    assert(ns(1) == ns(0) - 1 && ns(2) == ns(1) - 1,
      "remaining-day count must telescope by exactly one per round")
    rows.foreach(r => assert(r.getDouble(4) > 0.0))
    // ESD round 1 is exactly the Grubbs test
    val g = Stats.statsGrubbs(spark, sfSmoke).collect()(0)
    assert(g.getDate(3).toString == days(0), "round 1 must agree with grubbs")
    assert(math.abs(g.getDouble(5) - rows(0).getDouble(4)) <= 1e-9)
  }

  test("pinball: q=0.5 is half the MAE over the same rows, tails ordered by forecast bias") {
    val rows = Stats.statsQuantilePinball(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    assert(rows.nonEmpty && rows.keys.map(_._2).toSet == Set(0.1, 0.5, 0.9))
    // recompute MAE over pinball's exact row set (snaive's key drops
    // x = 0 rows for its MAPE divisor; pinball keeps them)
    import org.apache.spark.sql.functions.{abs => fabs, avg, col, date_add, round => rnd, to_date, sum => fsum}
    val daily = Tables.events(spark, sfSmoke)
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(rnd(fsum(col("value")), 4).as("x"))
    val prior = daily.select(col("event_type"),
      date_add(col("d"), 7).as("d"), col("x").as("f"))
    val mae = daily.join(prior, Seq("event_type", "d"))
      .groupBy(col("event_type"))
      .agg(rnd(avg(fabs(col("x") - col("f"))), 6).as("mae"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    mae.foreach { case (t, m) =>
      assert(math.abs(rows((t, 0.5)) - m / 2.0) <= 2e-6,
        s"pinball(0.5) must be MAE/2 for $t")
    }
  }

  test("croston: driver-side replay of one part's recursion matches; " +
      "SBA is exactly 0.85x croston") {
    val out = Stats.timeseriesCroston(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("interval_est") >= 0.3 - 1e-9,
        "interval EWMA can never fall below alpha * 1 day")
      assert(math.abs(r.getAs[Double]("sba_forecast") -
        0.85 * r.getAs[Double]("croston_forecast")) <= 2e-6)
    }
    val pk = out.head.getAs[Long]("l_partkey")
    val demand = Tables.lineitem(spark, sfSmoke)
      .filter(col("l_partkey") === pk)
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(sum(col("l_quantity")).cast("double").as("x"))
      .orderBy("d").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    assert(demand.length.toLong == out.head.getAs[Long]("n_demand_days"))
    var z = 0.0; var p = 0.0; var prev: java.time.LocalDate = null
    demand.foreach { case (d, x) =>
      if (prev == null) { z = x; p = 1.0 }
      else {
        z = 0.3 * x + 0.7 * z
        p = 0.3 * java.time.temporal.ChronoUnit.DAYS.between(prev, d) +
          0.7 * p
      }
      prev = d
    }
    assert(math.abs(out.head.getAs[Double]("size_est") - z) <= 1e-6)
    assert(math.abs(out.head.getAs[Double]("interval_est") - p) <= 1e-6)
    assert(math.abs(out.head.getAs[Double]("croston_forecast") - z / p)
      <= 2e-6)
  }

  test("theta: SES recursion replayed driver-side from the same " +
      "rounded theta2 line; forecast averages SES and trend lines") {
    val rows = Stats.timeseriesTheta(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val r = rows.head
    val a = r.getAs[Double]("intercept"); val b = r.getAs[Double]("slope")
    val n = r.getAs[Long]("n_days")
    val daily = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value")), 4).as("x"))
      .orderBy("d").collect().map(_.getDouble(1))
    assert(daily.length.toLong == n)
    var l = Double.NaN
    daily.zipWithIndex.foreach { case (x, i) =>
      val th2 = BigDecimal(2.0 * x - (a + b * (i + 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      l = if (i == 0) th2 else 0.5 * th2 + 0.5 * l
    }
    assert(math.abs(r.getAs[Double]("ses_theta2") - l) <= 2e-6)
    val fc = 0.5 * (r.getAs[Double]("ses_theta2") + (a + b * (n + 1)))
    assert(math.abs(r.getAs[Double]("forecast_next") - fc) <= 2e-6)
  }

  test("negative binomial: moments replay driver-side; NB params only " +
      "under overdispersion and round-trip to the moments") {
    val r = Stats.statsNegativeBinomial(spark, sfSmoke).collect()(0)
    val counts = Tables.events(spark, sfSmoke)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      .collect().map(_.getAs[Long]("x").toDouble)
    val n = counts.length
    assert(r.getAs[Long]("n_users") == n.toLong)
    val mean = counts.sum / n
    val varr = counts.map(x => (x - mean) * (x - mean)).sum / (n - 1)
    assert(math.abs(r.getAs[Double]("mean_count") - mean) <= 1e-4)
    assert(math.abs(r.getAs[Double]("var_count") - varr) <= 1e-3)
    val over = r.getAs[Boolean]("overdispersed")
    assert(over == (r.getAs[Double]("var_count") > r.getAs[Double]("mean_count")))
    if (over) {
      val (m, v) = (r.getAs[Double]("mean_count"), r.getAs[Double]("var_count"))
      assert(math.abs(r.getAs[Double]("nb_r") - m * m / (v - m)) <= 1e-4)
      assert(math.abs(r.getAs[Double]("nb_p") - m / v) <= 1e-6)
      // NB mean identity: r(1-p)/p recovers the sample mean
      val (nr, np) = (r.getAs[Double]("nb_r"), r.getAs[Double]("nb_p"))
      assert(math.abs(nr * (1 - np) / np - m) <= 1e-2)
    } else assert(r.isNullAt(r.fieldIndex("nb_r")) && r.isNullAt(r.fieldIndex("nb_p")))
  }

  test("diff-in-diff: arms partition the purchaser set and the estimate " +
      "is exactly the four-mean algebra") {
    val r = Stats.statsDiffInDiff(spark, sfSmoke).collect()(0)
    val nPurchasers = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase" &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id")).distinct().count()
    assert(r.getAs[Long]("n_treated") + r.getAs[Long]("n_control") ==
      nPurchasers)
    assert(r.getAs[Long]("n_treated") > 0 && r.getAs[Long]("n_control") > 0,
      "md5 halves must populate both arms")
    val did = (r.getAs[Double]("mean_treated_post") -
        r.getAs[Double]("mean_treated_pre")) -
      (r.getAs[Double]("mean_control_post") -
        r.getAs[Double]("mean_control_pre"))
    assert(math.abs(r.getAs[Double]("did_estimate") - did) <= 2e-6)
  }

  test("lift deciles: capture monotone to 1.0, final lift exactly 1, " +
      "counts conserve the corpus") {
    val rows = graft.operators.ModelEval.modelLiftDeciles(spark, sfSmoke)
      .collect().sortBy(_.getAs[Long]("decile"))
    assert(rows.nonEmpty && rows.length <= 10)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Double]("cum_capture") <=
        b.getAs[Double]("cum_capture") + 1e-9)
      case _ =>
    }
    val last = rows.last
    assert(math.abs(last.getAs[Double]("cum_capture") - 1.0) <= 1e-6,
      "full depth must capture every positive")
    assert(math.abs(last.getAs[Double]("cum_lift") - 1.0) <= 1e-6,
      "full depth is the base rate by definition")
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    val direct = Tables.events(spark, sfSmoke)
      .filter(col("value").isNotNull && col("event_type").isNotNull).count()
    assert(total == direct)
  }

  test("manifest snapshot: totals equal the table of record, and a " +
      "directory-listing read WOULD see the planted orphan") {
    val r = Sources.sinkManifestSnapshot(spark, sfSmoke).collect()(0)
    val direct = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .agg(count(lit(1)).cast("bigint"),
        sum(round(col("value"), 4).cast("decimal(18,4)")).cast("double"),
        countDistinct(col("user_id")).cast("bigint"))
      .collect()(0)
    assert(r.getAs[Long]("n_rows") == direct.getLong(0))
    assert(math.abs(r.getAs[Double]("total_value") - direct.getDouble(1))
      <= 1e-6)
    assert(r.getAs[Long]("n_users") == direct.getLong(2))
    // the isolation is real only if the orphan is LIVE in the dir: a
    // listing-based read must see more rows than the manifest read
    val dirs = new java.io.File("/tmp").listFiles()
      .filter(_.getName.startsWith("graft_manifest_"))
      .sortBy(-_.lastModified())
    assert(dirs.nonEmpty)
    val unsafe = spark.read.parquet(dirs.head.getAbsolutePath + "/data")
    assert(unsafe.count() > r.getAs[Long]("n_rows"),
      "the orphan file must be visible to a naive directory read")
  }

  test("tukey hsd: all k(k-1)/2 pairs emitted, q nonnegative and " +
      "symmetric in the pair, anova-consistent grand structure") {
    val rows = Stats.statsTukeyHsd(spark, sfSmoke).collect()
    val types = rows.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct
    val k = types.length
    assert(rows.length == k * (k - 1) / 2)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs are oriented t1 < t2")
      assert(r.getAs[Double]("q_stat") >= 0.0)
      assert(math.abs(r.getAs[Double]("diff") -
        (r.getAs[Double]("mean_1") - r.getAs[Double]("mean_2"))) <= 2e-6)
      assert(r.getAs[Boolean]("significant") ==
        (r.getAs[Double]("q_stat") > 3.858))
    }
  }

  test("burstiness: top-20 by count, ratio >= 1 and bounded by " +
      "total/doc identity replayed for the top word") {
    val rows = graft.operators.TextOps.textBurstiness(spark, sfSmoke)
      .collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("total_count") >= b.getAs[Long]("total_count"))
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_count") <= r.getAs[Long]("total_count"))
      assert(r.getAs[Double]("burstiness") >= 1.0 - 1e-9)
    }
    val top = rows.head
    val replay = Tables.documents(spark, sfSmoke)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") === top.getAs[String]("word"))
    assert(replay.count() == top.getAs[Long]("total_count"))
    assert(replay.select("doc_id").distinct().count() ==
      top.getAs[Long]("doc_count"))
  }

  test("delong: auc equals the mann-whitney roc key exactly, variance " +
      "components positive, CI brackets the point estimate") {
    val r = Stats.statsAucDelong(spark, sfSmoke).collect()(0)
    val roc = Stats.statsRocAuc(spark, sfSmoke).collect()(0)
    assert(r.getAs[Long]("n_pos") == roc.getAs[Long]("n_pos"))
    assert(r.getAs[Long]("n_neg") == roc.getAs[Long]("n_neg"))
    assert(r.getAs[Double]("auc") == roc.getAs[Double]("auc"),
      "the placement identity must reproduce the rank-sum AUC bit-for-bit")
    assert(r.getAs[Double]("s10") >= 0 && r.getAs[Double]("s01") >= 0)
    val se = r.getAs[Double]("se_auc")
    assert(se > 0 && se < 0.5)
    assert(r.getAs[Double]("ci_lo") < r.getAs[Double]("auc"))
    assert(r.getAs[Double]("ci_hi") > r.getAs[Double]("auc"))
    assert(math.abs(r.getAs[Double]("z_vs_half") -
      (r.getAs[Double]("auc") - 0.5) / se) <= 1e-4)
  }

  test("conversion latency: quantiles ordered, converter count matches " +
      "the conversion-window key, max bounds the tail") {
    val r = Stats.eventConversionLatency(spark, sfSmoke).collect()(0)
    val cw = Stats.eventConversionWindow(spark, sfSmoke).collect()(0)
    assert(r.getAs[Long]("n_converters") == cw.getAs[Long]("n_converted"))
    val (p50, p90, p99, mx) = (r.getAs[Double]("p50_hours"),
      r.getAs[Double]("p90_hours"), r.getAs[Double]("p99_hours"),
      r.getAs[Double]("max_hours"))
    assert(p50 >= 0 && p50 <= p90 && p90 <= p99 && p99 <= mx + 1e-9)
  }

  test("granger: both directions present, SSE_r >= SSE_u (adding a " +
      "regressor never hurts in-sample), F consistent with the SSEs") {
    val rows = Stats.timeseriesGranger(spark, sfSmoke).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(0)).sorted.sameElements(
      Array("purchase_to_view", "view_to_purchase")))
    rows.foreach { r =>
      val (sseR, sseU) = (r.getAs[Double]("sse_r"), r.getAs[Double]("sse_u"))
      assert(sseU > 0.0)
      assert(sseR >= sseU - 1e-6,
        "the restricted model cannot fit better than the unrestricted")
      val f = (sseR - sseU) / (sseU / (r.getAs[Long]("n_obs") - 3).toDouble)
      assert(math.abs(r.getAs[Double]("f_stat") - f) <= 1e-4)
      assert(r.getAs[Boolean]("granger_causal") ==
        (r.getAs[Double]("f_stat") > 3.841459))
    }
  }

  test("paired t-test: moments replay driver-side and t recomputes " +
      "from the reported mean/sd") {
    val r = Stats.statsPairedTtest(spark, sfSmoke).collect()(0)
    val all = Tables.events(spark, sfSmoke)
      .filter(col("user_id").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
      .collect()
    val dsAll = all.map(_.getDate(1).toLocalDate)
    val mid = dsAll.min.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(dsAll.min, dsAll.max) / 2)
    val per = all.groupBy(_.getLong(0)).map { case (_, rows) =>
      def s(f: java.time.LocalDate => Boolean) =
        BigDecimal(rows.filter(r2 => f(r2.getDate(1).toLocalDate))
          .map(_.getDouble(2)).sum).setScale(4,
            BigDecimal.RoundingMode.HALF_UP)
      (s(_.compareTo(mid) >= 0) - s(_.compareTo(mid) < 0)).toDouble
    }.toArray
    assert(r.getAs[Long]("n_pairs") == per.length.toLong)
    val mean = per.sum / per.length
    assert(math.abs(r.getAs[Double]("mean_diff") - mean) <= 1e-3)
    val t = r.getAs[Double]("mean_diff") /
      (r.getAs[Double]("sd_diff") / math.sqrt(per.length.toDouble))
    assert(math.abs(r.getAs[Double]("t_stat") - t) <= 1e-5)
    assert(r.getAs[Long]("df") == per.length - 1L)
  }

  test("absorbing markov: purchase pinned at 1, probabilities in [0,1] " +
      "and nondecreasing in the step count") {
    val rows = Stats.eventAbsorbingMarkov(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val byType = rows.map(r => r.getString(0) -> r.getAs[Double](2)).toMap
    assert(byType("purchase") == 1.0)
    byType.values.foreach(p => assert(p >= 0.0 && p <= 1.0))
    // monotonicity in k: absorption within 4 steps includes absorption
    // within any shorter horizon — the same chain run via the
    // stationary key's machinery can't check this; replay 1 step
    // driver-side: a1(i) = P(i -> purchase)
    val pairs = Tables.events(spark, sfSmoke)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type").as("to_t"), col("ts"),
        col("event_id"))
      .withColumn("from_t", lag(col("to_t"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
      .filter(col("from_t").isNotNull)
      .groupBy("from_t", "to_t").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("count"))
      .toMap
    val tot = pairs.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    byType.keys.filter(_ != "purchase").foreach { t =>
      val oneStep = pairs.getOrElse((t, "purchase"), 0L).toDouble / tot(t)
      assert(byType(t) >= oneStep - 1e-9,
        s"4-step absorption from $t cannot be below the 1-step jump")
    }
  }

  test("covariate balance: md5 arms are balanced on pre-period " +
      "covariates and the SMD replays from the reported moments") {
    val rows = Stats.statsCovariateBalance(spark, sfSmoke).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_treated") > 1 && r.getAs[Long]("n_control") > 1)
      val smd = r.getAs[Double]("smd")
      assert(!smd.isNaN && !smd.isInfinite)
      assert(r.getAs[Boolean]("balanced") == (math.abs(smd) < 0.1))
      // random md5 assignment: imbalance beyond |SMD| = 1 would mean
      // the arms systematically differ — impossible by construction
      assert(math.abs(smd) < 1.0)
    }
  }

  test("winsorized/trimmed means: ordering raw >= winsorized-ish " +
      "bounds, caps bracket both robust means, kept-count matches") {
    val r = Stats.statsWinsorizedMean(spark, sfSmoke).collect()(0)
    val (p05, p95) = (r.getAs[Double]("p05"), r.getAs[Double]("p95"))
    assert(p05 < p95)
    Seq("winsorized_mean", "trimmed_mean").foreach { c =>
      val m = r.getAs[Double](c)
      assert(m >= p05 - 1e-9 && m <= p95 + 1e-9,
        s"$c must lie inside the clamp interval")
    }
    assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_values"))
    // replay driver-side
    val vals = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(round(col("value"), 4).as("v")).collect().map(_.getDouble(0))
    val wm = vals.map(v => math.min(math.max(v, p05), p95)).sum / vals.length
    assert(math.abs(r.getAs[Double]("winsorized_mean") - wm) <= 1e-4)
    val kept = vals.filter(v => v >= p05 && v <= p95)
    assert(r.getAs[Long]("n_kept") == kept.length.toLong)
    assert(math.abs(r.getAs[Double]("trimmed_mean") -
      kept.sum / kept.length) <= 1e-4)
  }

  test("propensity stratification: strata partition both arms, ATT is " +
      "the treated-weighted diff, and sits near the naive diff under " +
      "random assignment") {
    val rows = Stats.statsPropensityStrat(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val att = rows.head.getAs[Double]("att")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_treated") > 0 && r.getAs[Long]("n_control") > 0)
      assert(r.getAs[Double]("att") == att)
      assert(math.abs(r.getAs[Double]("diff") -
        (r.getAs[Double]("mean_y_treated") -
         r.getAs[Double]("mean_y_control"))) <= 2e-6)
    }
    val totT = rows.map(_.getAs[Long]("n_treated")).sum.toDouble
    val attReplay = rows.map(r =>
      r.getAs[Long]("n_treated") / totT * r.getAs[Double]("diff")).sum
    assert(math.abs(att - attReplay) <= 1e-5)
  }

  test("extreme value: weekly maxima replay driver-side; return levels " +
      "order correctly above the location parameter") {
    val r = Stats.statsExtremeValue(spark, sfSmoke).collect()(0)
    val maxima = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value")), 4).as("x"))
      .select((datediff(col("d"), lit("1970-01-01").cast("date")) / 7)
        .cast("long").as("wk"), col("x"))
      .groupBy("wk").agg(max(col("x")).as("m"))
      .collect().map(_.getDouble(1))
    assert(r.getAs[Long]("n_weeks") == maxima.length.toLong)
    val mean = maxima.sum / maxima.length
    assert(math.abs(r.getAs[Double]("mean_max") - mean) <= 1e-4)
    // Gumbel: mu < mean (gamma shift), and return levels escalate
    assert(r.getAs[Double]("gumbel_mu") < r.getAs[Double]("mean_max"))
    assert(r.getAs[Double]("return_level_4w") >
      r.getAs[Double]("gumbel_mu"))
    assert(r.getAs[Double]("return_level_12w") >
      r.getAs[Double]("return_level_4w"),
      "a rarer event can never have a lower return level")
  }

  test("heaps law: totals conserve, checkpoints ride the 50-grid, and " +
      "beta is sublinear for a natural-ish corpus") {
    val r = graft.operators.TextOps.textHeapsLaw(spark, sfSmoke)
      .collect()(0)
    val words = Tables.documents(spark, sfSmoke)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
    assert(r.getAs[Long]("total_tokens") == words.count())
    assert(r.getAs[Long]("total_vocab") ==
      words.select("w").distinct().count())
    assert(r.getAs[Long]("total_vocab") <= r.getAs[Long]("total_tokens"))
    val beta = r.getAs[Double]("heaps_beta")
    assert(beta > 0.0 && beta < 1.2,
      s"vocabulary growth exponent out of the plausible band: $beta")
    assert(r.getAs[Double]("heaps_k") > 0.0)
    assert(math.abs(math.pow(2.0, r.getAs[Double]("heaps_log2k")) -
      r.getAs[Double]("heaps_k")) <= 1e-3)
  }

  test("pacf: level-1 equals acf1, levels 2-3 replay the " +
      "Durbin-Levinson closed forms from the reported ACFs") {
    val rows = Stats.statsPartialAutocorr(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a1, a2, a3) = (r.getAs[Double]("acf1"), r.getAs[Double]("acf2"),
        r.getAs[Double]("acf3"))
      assert(r.getAs[Double]("pacf1") == a1)
      val p2 = BigDecimal((a2 - a1 * a1) / (1.0 - a1 * a1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("pacf2") - p2) <= 1e-9)
      val f21 = BigDecimal(a1 - p2 * a1)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val p3 = (a3 - f21 * a2 - p2 * a1) / (1.0 - f21 * a1 - p2 * a2)
      assert(math.abs(r.getAs[Double]("pacf3") - p3) <= 1e-5)
      Seq(a1, a2, a3).foreach(a => assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9))
    }
  }

  test("stickiness: dau <= mau always, ratio in (0,1], first day is " +
      "exactly 1, mau replays driver-side for a spot day") {
    val rows = Stats.eventUserStickiness(spark, sfSmoke).collect()
      .sortBy(_.getAs[java.sql.Date]("d").toString)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dau") <= r.getAs[Long]("mau"))
      val st = r.getAs[Double]("stickiness")
      assert(st > 0.0 && st <= 1.0)
    }
    assert(rows.head.getAs[Double]("stickiness") == 1.0,
      "the first day's trailing window contains only itself")
    // spot-replay the last day's MAU
    val lastD = rows.last.getAs[java.sql.Date]("d").toLocalDate
    val mau = Tables.events(spark, sfSmoke)
      .filter(col("user_id").isNotNull)
      .filter(to_date(col("ts")).between(
        java.sql.Date.valueOf(lastD.minusDays(29)),
        java.sql.Date.valueOf(lastD)))
      .select(col("user_id")).distinct().count()
    assert(rows.last.getAs[Long]("mau") == mau)
  }

  test("hurst: R/S replayed driver-side for the m=7 blocks; exponent " +
      "finite and within the R/S-feasible band") {
    val rows = Stats.statsHurst(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val r = rows.head
    assert(r.getAs[Double]("rs_7") > 0 && r.getAs[Double]("rs_14") > 0)
    val h = r.getAs[Double]("hurst")
    assert(!h.isNaN && !h.isInfinite && h > -0.5 && h < 1.5)
    // replay: daily purchase revenue, 1e-4 integer units, m=7 blocks
    val xs = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(round(sum(col("value")), 4).as("x"))
      .orderBy("d").collect()
      .map(row => math.round(row.getDouble(1) * 10000))
    val m = 7
    val rss = xs.grouped(m).filter(_.length == m).map { blk =>
      val sb = blk.sum
      val cum = blk.scanLeft(0L)(_ + _).tail
      val dj = cum.zipWithIndex.map { case (c, i) => m * c - (i + 1) * sb }
      val bigR = (dj.max - dj.min).toDouble / m
      val s2 = blk.map(x => BigInt(x) * BigInt(x)).sum
      val varr = (BigInt(m) * s2 - BigInt(sb) * BigInt(sb)).toDouble /
        (m.toLong * (m - 1))
      bigR / math.sqrt(varr)
    }.toArray
    assert(rss.length.toLong == r.getAs[Long]("n_blocks_7"))
    assert(math.abs(r.getAs[Double]("rs_7") - rss.sum / rss.length) <= 2e-6)
  }

  test("group sequential: OBF boundary decays to 1.96 at the final " +
      "look, z replays from the reported means, looks are complete") {
    val rows = Stats.statsGroupSequential(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val bigK = rows.head.getAs[Long]("n_looks")
    rows.foreach(r => assert(r.getAs[Long]("n_looks") == bigK))
    val sorted = rows.sortBy(_.getAs[Long]("k"))
    // boundary strictly decreasing in k, ending at ~1.96
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Double]("obf_bound") >
        b.getAs[Double]("obf_bound"))
      case _ =>
    }
    val last = sorted.last
    if (last.getAs[Long]("k") == bigK)
      assert(math.abs(last.getAs[Double]("obf_bound") - 1.96) <= 1e-6)
    // cumulative ns are nondecreasing; crossed flag is |z| vs bound
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_a") <= b.getAs[Long]("n_a"))
        assert(a.getAs[Long]("n_b") <= b.getAs[Long]("n_b"))
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getAs[Boolean]("boundary_crossed") ==
        (math.abs(r.getAs[Double]("z_k")) > r.getAs[Double]("obf_bound")))
    }
  }

  test("entropy rate: bounded by log2(k), below the conditional-entropy " +
      "envelope, state probabilities normalize") {
    val rows = Stats.statsEntropyRate(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val k = rows.length
    val hr = rows.head.getAs[Double]("entropy_rate_bits")
    val maxH = math.log(k.toDouble) / math.log(2.0)
    rows.foreach { r =>
      val h = r.getAs[Double]("h_conditional_bits")
      assert(h >= -1e-9 && h <= maxH + 1e-9,
        "conditional entropy of a k-state next-step lies in [0, log2 k]")
      assert(r.getAs[Double]("entropy_rate_bits") == hr)
    }
    assert(hr >= -1e-9 && hr <= maxH + 1e-9)
    // H is a pi-weighted average of the per-state conditional entropies
    val hs = rows.map(_.getAs[Double]("h_conditional_bits"))
    assert(hr >= hs.min - 1e-6 && hr <= hs.max + 1e-6)
    val piSum = rows.map(_.getAs[Double]("p_state")).sum
    assert(math.abs(piSum - 1.0) <= 1e-4)
  }

  test("cohort ltv: cumulative revenue is monotone per cohort and " +
      "totals the corpus purchase revenue") {
    val rows = graft.operators.Pipeline.eventCohortLtv(spark, sfSmoke)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[java.sql.Date]("cohort_day")).foreach {
      case (_, rs) =>
        val sorted = rs.sortBy(_.getAs[Long]("day_offset"))
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getAs[Double]("cum_revenue") <=
              b.getAs[Double]("cum_revenue") + 1e-9)
          case _ =>
        }
        val last = sorted.last
        assert(math.abs(last.getAs[Double]("ltv_per_user") -
          last.getAs[Double]("cum_revenue") /
            last.getAs[Long]("cohort_size")) <= 2e-6)
    }
    // per-cohort finals sum to (approximately — each day rounds at 4)
    // the corpus-wide purchase revenue
    val totalLtv = rows.groupBy(_.getAs[java.sql.Date]("cohort_day"))
      .values.map(_.maxBy(_.getAs[Long]("day_offset"))
        .getAs[Double]("cum_revenue")).sum
    val direct = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase" &&
        col("user_id").isNotNull && col("value").isNotNull)
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(totalLtv - direct) <= 0.01 * rows.length)
  }

  test("friedman: rank sums conserve n*k(k+1)/2 and Q is finite " +
      "nonnegative with df = k-1") {
    val rows = Stats.statsFriedman(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val k = rows.head.getAs[Long]("k_treatments")
    val nb = rows.head.getAs[Long]("n_blocks")
    assert(rows.length.toLong == k)
    val total = rows.map(_.getAs[Double]("rank_sum")).sum
    assert(math.abs(total - nb.toDouble * k * (k + 1) / 2) <= 1e-6,
      "within-block midranks must relabel 1..k per block")
    val q = rows.head.getAs[Double]("q_stat")
    assert(!q.isNaN && q >= -1e-9)
    rows.foreach { r =>
      assert(r.getAs[Double]("q_stat") == q)
      assert(r.getAs[Long]("df") == k - 1)
    }
  }

  test("capture-recapture: marks replayed with driver-side md5; " +
      "overlap bounded by both samples") {
    val r = Stats.statsCaptureRecapture(spark, sfSmoke).collect()(0)
    val users = Tables.events(spark, sfSmoke)
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .collect().map(_.getLong(0))
    def mark(u: Long, salt: String): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((u.toString + salt).getBytes("UTF-8"))
      ((d(0) >> 4) & 0xf) < 8
    }
    val n1 = users.count(mark(_, "a")); val n2 = users.count(mark(_, "b"))
    val m = users.count(u => mark(u, "a") && mark(u, "b"))
    assert(r.getAs[Long]("n_true") == users.length.toLong)
    assert(r.getAs[Long]("n_sample_a") == n1.toLong)
    assert(r.getAs[Long]("n_sample_b") == n2.toLong)
    assert(r.getAs[Long]("n_recaptured") == m.toLong)
    assert(m <= math.min(n1, n2))
    val chap = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    assert(math.abs(r.getAs[Double]("chapman_estimate") - chap) <= 1e-4)
  }
}
