package graft

import graft.operators.{AdvancedAggs, Windows}
import org.apache.spark.sql.functions._

/** Algebraic invariants for §2.4 advanced aggs and §2.5 windows. */
class WindowsAggsSpec extends SparkSpecBase {

  test("approx percentiles track exact quartiles within sketch tolerance") {
    import org.apache.spark.sql.functions._
    val approx = AdvancedAggs.aggApproxPercentile(spark, sfOracle)
      .select("l_returnflag", "approx_q25", "approx_q50", "approx_q75")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = AdvancedAggs.aggPercentile(spark, sfOracle)
      .select("l_returnflag", "price_q25", "price_q50", "price_q75")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, (a25, a50, a75)) <- approx; (e25, e50, e75) = exact(k)) {
      // GK sketch bounds RANK error, not value error; on this price
      // distribution 1e-4 relative rank ≈ well under 1% value drift
      assert(math.abs(a25 - e25) / e25 < 0.01, s"$k q25: $a25 vs $e25")
      assert(math.abs(a50 - e50) / e50 < 0.01, s"$k q50: $a50 vs $e50")
      assert(math.abs(a75 - e75) / e75 < 0.01, s"$k q75: $a75 vs $e75")
    }
  }

  test("rollup row count = nations + regions + 1 grand total") {
    val nNation = Tables.nation(spark, sfSmoke).count()
    val nRegion = Tables.region(spark, sfSmoke).count()
    assert(AdvancedAggs.aggRollup(spark, sfSmoke).count() == nNation + nRegion + 1)
  }

  test("cube contains all four grouping combinations") {
    val df = AdvancedAggs.aggCube(spark, sfSmoke)
    val flags = Tables.lineitem(spark, sfSmoke).select("l_returnflag").distinct().count()
    val stats = Tables.lineitem(spark, sfSmoke).select("l_linestatus").distinct().count()
    val pairs = Tables.lineitem(spark, sfSmoke)
      .select("l_returnflag", "l_linestatus").distinct().count()
    assert(df.count() == pairs + flags + stats + 1)
  }

  test("running sum last row equals total; ma7 bounded by min/max day") {
    val rows = Windows.winRunning(spark, sfSmoke).collect()
    val total = rows.map(_.getAs[Double]("day_value")).sum
    assert(math.abs(rows.last.getAs[Double]("running_sum") - total) < 0.01)
  }

  test("bucketPrefix and priorBuckets equal a driver-side running sum") {
    import spark.implicits._
    // partition a spans negative, zero and positive buckets with ties
    // inside a bucket (7.0, 7.0, 7.2); partition b is one row
    val rows = Seq(
      ("a", -50.0, 1L, 3L), ("a", -0.5, 2L, -2L), ("a", 0.0, 3L, 5L),
      ("a", 0.0, 4L, 0L), ("a", 0.3, 5L, 7L), ("a", 7.0, 6L, 1L),
      ("a", 7.0, 7L, 4L), ("a", 7.2, 8L, -6L), ("a", 120.0, 9L, 11L),
      ("b", 2.5, 10L, 9L))
    val df = rows.toDF("g", "v", "id", "x").withColumn("w", lit(1L))
    // running order: v descending, id the unique tiebreak
    val ord = Seq(col("v").desc, col("id").asc)
    val naive = rows.groupBy(_._1).values.flatMap { part =>
      val sorted = part.sortBy(r => (-r._2, r._3))
      sorted.zipWithIndex.map { case (r, i) =>
        r._3 -> (sorted.take(i).map(_._4).sum, i.toLong,
                 part.map(_._4).sum, part.size.toLong)
      }
    }.toMap
    def check(bucket: org.apache.spark.sql.Column): Unit = {
      val got = Windows.bucketPrefix(df.withColumn("bkt", bucket), "bkt", ord,
          Seq("x", "w"), partition = Seq("g"))
        .select("id", "x_before", "w_before", "x_total", "w_total")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == naive)
    }
    // negated so ascending buckets follow the descending order
    val bkt = -Windows.valueBucket(col("v"))
    assert(df.select(bkt).distinct().count() == 7)
    check(bkt)
    check(lit(0L))   // every row in one bucket
    assert(Windows.bucketPrefix(df.filter(lit(false)).withColumn("bkt", bkt),
      "bkt", ord, Seq("x")).count() == 0)
    // priorBuckets on a bucket-grain frame: the sum of earlier buckets
    val grain = df.withColumn("bkt", bkt).groupBy("g", "bkt")
      .agg(sum(col("x")).as("sx"))
    val prior = grain
      .select(col("g"), col("bkt"), col("sx"),
        Windows.priorBuckets(col("sx"), "bkt", "g").as("before"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(prior.length == 7)
    prior.foreach { case (g, b, _, before) =>
      assert(before == prior.filter(p => p._1 == g && p._2 < b).map(_._3).sum,
        s"group $g bucket $b")
    }
    // distributedRunningSum: inclusive sums of x and w in id order over
    // equal-width id chunks; a null order key sorts first, into chunk 0
    val nullKey = Seq(("c", 0.0, 13L)).toDF("g", "v", "x")
      .select(col("g"), col("v"), lit(null).cast("long").as("id"), col("x"),
        lit(1L).as("w"))
    val inOrder: Seq[(Option[Long], Long)] =
      (None, 13L) +: rows.sortBy(_._3).map(r => (Some(r._3), r._4))
    val naiveRun = inOrder.indices.map { i =>
      val upTo = inOrder.take(i + 1)
      inOrder(i)._1 -> (upTo.map(_._2).sum, upTo.size.toLong)
    }.toMap
    val run = Windows.distributedRunningSum(df.unionByName(nullKey), "id", "x", "w")
      .select("id", "running_x", "running_w")
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(run == naiveRun)
  }

  test("topk per group: no customer has more than 3 rows, ranks are 1..k") {
    val df = Windows.winTopKPerGroup(spark, sfSmoke)
    val maxPer = df.groupBy("o_custkey").count().agg(max("count")).head().getLong(0)
    assert(maxPer <= 3)
    assert(df.agg(min("rn"), max("rn")).head().getLong(0) == 1L)
  }

  test("udaf geo mean lies between min and max of quantities") {
    val gm = AdvancedAggs.aggUdafTyped(spark, sfSmoke)
    val bounds = Tables.lineitem(spark, sfSmoke)
      .groupBy("l_returnflag")
      .agg(min("l_quantity").as("lo"), max("l_quantity").as("hi"))
    val joined = gm.join(bounds, "l_returnflag").collect()
    joined.foreach { r =>
      val g = r.getAs[Double]("geo_mean_qty")
      assert(g >= r.getAs[Double]("lo") && g <= r.getAs[Double]("hi"))
    }
  }

  test("pivot row sums equal per-user value totals") {
    val p = AdvancedAggs.aggPivot(spark, sfSmoke)
      .na.fill(0.0)
      .select(col("user_id"),
        (col("click") + col("error") + col("purchase") + col("signup") + col("view"))
          .as("pivot_total"))
    val direct = Tables.events(spark, sfSmoke)
      .groupBy("user_id").agg(sum("value").as("direct_total"))
    val bad = p.join(direct, "user_id")
      .filter(abs(col("pivot_total") - col("direct_total")) > 0.01).count()
    assert(bad == 0)
  }

  test("lag/lead gaps are non-negative within each user's timeline") {
    val bad = Windows.winLagLead(spark, sfSmoke)
      .filter(col("gap_sec") < 0).count()
    assert(bad == 0)
  }

  test("ntile quartiles are 1..4 and balanced within ±1 per segment") {
    val df = Windows.winNtilePercent(spark, sfSmoke)
    val counts = df.groupBy("c_mktsegment", "quartile").count()
    val spread = counts.groupBy("c_mktsegment")
      .agg((max("count") - min("count")).as("spread"))
      .filter(col("spread") > 1).count()
    assert(spread == 0)
  }

  test("hll: union of per-day partial sketches equals the direct sketch; estimates track exact") {
    val df = operators.AdvancedAggs.aggHllPartitioned(spark, sfOracle).collect()
    assert(df.nonEmpty)
    for (r <- df) {
      val (exact, direct, merged) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // register-max union is associative: merging per-day partials must
      // reproduce the direct sketch's estimate exactly, not approximately
      assert(merged == direct,
        s"union-of-partials $merged must equal direct sketch $direct")
      // lgK=12 → relative standard error ~1.6%; allow 5%
      assert(math.abs(direct - exact).toDouble / exact <= 0.05,
        s"estimate $direct too far from exact $exact")
    }
  }

  test("count-min: never undercounts, exact at every graded SF's vocabulary") {
    for (sf <- Seq(sfSmoke, sfOracle, "/root/testdata/sf0.1")) {
      val est = graft.operators.AdvancedAggs.aggCountMin(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = Tables.documents(spark, sf)
        .filter(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      est.foreach { case (w, e) =>
        assert(e >= exact(w), s"$sf $w: CMS undercounted $e < ${exact(w)}")
        assert(e == exact(w),
          s"$sf $w: collision at this vocabulary — un-pair the oracle")
      }
    }
  }

  test("misra-gries: exact below capacity, eps-bounded under forced overflow") {
    graft.functions.GraftExtensions.register(spark)
    val words = Tables.documents(spark, sfOracle)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val exact = words.groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    // m=256 ≫ vocab: sketch must BE the exact counts
    val big = graft.operators.AdvancedAggs
      .aggHeavyHittersSketch(spark, sfOracle).collect()
    assert(big.length == 10)
    big.foreach { r =>
      assert(r.getLong(1) == exact(r.getString(0)),
        s"${r.getString(0)}: sketch must be exact below capacity")
      assert(r.getLong(2) == n / 256)
    }
    // m=4 < vocab: genuine overflow path — the MG guarantees must hold
    // under whatever partial-merge order this run produced
    val small = words.agg(expr("graft_topk(word, 4, 4)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.est_count")).collect()
    assert(small.length <= 4)
    small.foreach { r =>
      val (item, est) = (r.getString(0), r.getLong(1))
      val truth = exact(item)
      assert(est <= truth, s"$item: overestimate $est > true $truth")
      assert(truth <= est + n / 4 + 1,
        s"$item: undercount beyond the eps=n/m bound")
    }
  }
}
