package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Behavioral-statistics operators — the analysis a user-study platform
  * (SURVEY §1.1) runs on its event stream: A/B comparison, event-flow
  * transitions, and outlier detection. All pure aggregate/window
  * algebra; aggregated-double outputs and comparisons are rounded on
  * both engine sides per the §0.3 determinism convention.
  */
object Stats {

  /** The A/B arm every experiment key shares: users hash into arms by
    * md5's first hex char, 0-7 → A (true), else B — md5 is the
    * cross-engine-identical hash. Callers add their own
    * `.cast("long")` or `when(arm, …)`. */
  private[operators] val arm: Column =
    substring(md5(col("user_id").cast("string").cast("binary")), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7")

  /** The treatment midpoint of `ev`'s day column `d` — d0 + (d1 − d0)
    * div 2 over the corpus span — as a broadcast one-row frame `mid`.
    * Days before it are the pre period, the rest the post period. */
  private[operators] def midpoint(ev: DataFrame): DataFrame =
    broadcast(ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("date_add(d0, cast(datediff(d1, d0) div 2 as int))")
        .as("mid")))

  /** Per-(event_type, d) daily counts `c` as doubles on each type's own
    * contiguous d0..d1 day grid: missing days are true zeros, so lags
    * align calendar-wise, not row-wise. Only the (type, day) aggregate
    * is data-sized; the grid and its join are calendar-bounded. */
  private[operators] def typeDayCounts(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      // a NULL type would order NULLS FIRST here vs DuckDB's NULLS LAST,
      // and its all-zero gap-filled series yields corr = NaN vs NULL —
      // exclude it on both engines (matches sample_reservoir_group)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("c"))
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("event_type"),
              explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    grid.join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
              coalesce(col("c"), lit(0L)).cast("double").as("c"))
  }

  /** Per-user daily purchase totals on each user's own contiguous
    * first..last purchase-day grid: (user_id, d, day_value), with
    * day_value NULL on gap days. Aggregate first (events → one row per
    * (user, day)), then explode each user's span, so the grid is
    * bounded by span-days × users, never events × days; the grid⋈daily
    * join is a hash join between two user-day-grain frames. Day totals
    * round at 4 on both engines (non-integral doubles, §0.3). */
  private[operators] def userPurchaseDays(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(round(sum(col("value")), 4).as("day_value"))
    daily.groupBy(col("user_id"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("user_id"),
              explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      .join(daily, Seq("user_id", "d"), "left")
  }

  /** One-step event-type transition counts (from_t, to_t, c) over each
    * user's (ts, event_id)-ordered journey — the data-sized part of
    * every Markov-chain key: one per-user lag window (user-grain
    * parallelism), then one ≤|types|² aggregate. */
  private[operators] def transitionCounts(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type").as("to_t"),
        lag(col("event_type"), 1).over(w).as("from_t"))
      .filter(col("from_t").isNotNull)
      .groupBy(col("from_t"), col("to_t"))
      .agg(count(lit(1)).as("c"))
  }

  /** Cramer's rule for the symmetric 3×3 system A·b = r, over columns
    * a11 a12 a13 a22 a23 a33 and r1 r2 r3: the determinant `det` and
    * the numerators `n0`, `n1`, `n2` (b_i = n_i / det). Spliced into a
    * `selectExpr` after the caller's pass-through columns. */
  private val cramer3: Seq[String] = Seq(
    "a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13) as det",
    "r1 * (a22 * a33 - a23 * a23) - a12 * (r2 * a33 - a23 * r3) + a13 * (r2 * a23 - a22 * r3) as n0",
    "a11 * (r2 * a33 - r3 * a23) - r1 * (a12 * a33 - a23 * a13) + a13 * (a12 * r3 - r2 * a13) as n1",
    "a11 * (a22 * r3 - a23 * r2) - a12 * (a12 * r3 - r2 * a13) + r1 * (a12 * a23 - a22 * a13) as n2")

  /** The source × lang contingency cells (obs per non-null pair) of
    * the documents table — ONE partial+final HashAggregate, the only
    * data-sized step of every contingency key. */
  private def sourceLangCells(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .filter(col("source").isNotNull && col("lang").isNotNull)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("obs"))

  /** A/B experiment comparison (Welch's t): users hash deterministically
    * into arms (md5 first hex char, 0-7 → A, else B — md5 is the
    * cross-engine-identical hash), the purchase-value metric aggregates
    * per arm, and the t statistic compares the means.
    *
    * Scale shape: ONE conditional aggregate over the filtered events
    * scan — n/mean/variance for both arms in a single pass (each stat is
    * an expression over `when(arm, value)`), then scalar math on the
    * 1-row result. No join, no second pass, map-side combinable.
    */
  def experimentTtest(s: SparkSession, sf: String): DataFrame = {
    val va = when(arm, col("value"))
    val vb = when(!arm, col("value"))
    Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .agg(count(va).as("n_a"), count(vb).as("n_b"),
           avg(va).as("mean_a"), avg(vb).as("mean_b"),
           var_samp(va).as("var_a"), var_samp(vb).as("var_b"))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"),
        round(col("mean_b"), 6).as("mean_b"),
        round((col("mean_a") - col("mean_b")) /
              sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 4)
          .as("t_stat"))
  }

  /** Event-flow transition matrix: P(next event type | current) per
    * user journey — the Markov view of a funnel. One window shuffle on
    * user_id for the lag, one ≤|types|² aggregate for the counts; the
    * row-share denominator is a window over the tiny aggregated matrix.
    */
  def pathTransitions(s: SparkSession, sf: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wPrev = Window.partitionBy(col("prev_type"))
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
              lag(col("event_type"), 1).over(ord).as("prev_type"),
              col("event_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        round(col("n").cast("double") / sum(col("n")).over(wPrev), 6))
      .orderBy("prev_type", "event_type")
  }

  /** Per-user outlier detection: purchases whose value sits more than
    * 2 rounded z-scores from that user's own mean. Users need ≥ 5
    * purchases (a 2-point std is noise); std = 0 (all-identical values
    * — exactly representable, so exactly zero on both engines) is
    * excluded before the division. The z compare uses the ROUNDED z on
    * both engines — the repo's round-before-compare rule for
    * aggregated-double thresholds.
    *
    * Scale shape: per-user mean/std as one window over the user
    * shuffle, z map-side, no join-back.
    */
  def anomalyZscore(s: SparkSession, sf: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id"))
    Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("value"),
              count(lit(1)).over(wu).as("n_u"),
              avg(col("value")).over(wu).as("mean_u"),
              stddev_samp(col("value")).over(wu).as("std_u"))
      .filter(col("n_u") >= 5 && col("std_u") > 0)
      .withColumn("z", round((col("value") - col("mean_u")) / col("std_u"), 4))
      .filter(abs(col("z")) > 2.0)
      .select(col("user_id"), col("event_id"), round(col("value"), 4).as("value"),
              col("z"))
      .orderBy("user_id", "event_id")
  }

  /** Time-series resampling with gap fill: per-user daily purchase
    * totals on a CONTIGUOUS day grid — missing days surface as explicit
    * zero rows with `observed = false`. Downstream models (retention
    * curves, forecasting) need the gaps as rows, not as absences.
    *
    * Scale shape: the `userPurchaseDays` grid and one map-side select.
    */
  def timeseriesResample(s: SparkSession, sf: String): DataFrame = {
    userPurchaseDays(s, sf)
      .select(col("user_id"), col("d"),
              coalesce(col("day_value"), lit(0.0)).as("day_value"),
              col("day_value").isNotNull.as("observed"))
      .orderBy("user_id", "d")
  }

  /** Chi-square independence test on the source × lang contingency
    * matrix — "is language distribution independent of source" (the
    * stratification sanity check before mixing corpus domains). Emits
    * each cell's observed count, expected count under independence, and
    * its χ² contribution; the test statistic is the contribution sum.
    *
    * Scale shape: ONE partial+final HashAggregate over the scan builds
    * the contingency matrix (≤ |sources|·|langs| cells); the row/col/
    * grand totals are windows over that tiny matrix, so the only
    * data-sized cost is the first aggregate.
    */
  def statsChiSquare(s: SparkSession, sf: String): DataFrame = {
    val wRow = Window.partitionBy(col("source"))
    val wCol = Window.partitionBy(col("lang"))
    val wAll = Window.partitionBy()
    sourceLangCells(s, sf)
      .withColumn("exp",
        sum(col("obs")).over(wRow) * sum(col("obs")).over(wCol) /
          sum(col("obs")).over(wAll))
      .select(col("source"), col("lang"), col("obs"),
        round(col("exp"), 4).as("expected"),
        round(pow(col("obs") - col("exp"), 2) / col("exp"), 6)
          .as("chi2_contrib"))
      .orderBy("source", "lang")
  }

  /** Market-basket pair affinity — the top-20 part pairs that co-occur
    * in orders, with support and lift (the association-rule starter:
    * lift > 1 means the pair attracts, < 1 repels). Self-join blocked
    * on the basket key, so the pair space is Σ k²/2 over basket sizes —
    * bounded by items-per-order, never a global n².
    *
    * Scale shape: (order, part) distinct → orderkey-blocked self-join
    * (fan-out ≈ avg basket² ≈ 50, constant) → pair HashAggregate →
    * distributed TakeOrderedAndProject top-20 → broadcast joins for the
    * two singles lookups + the order-count scalar. Nothing global-sorts
    * and the only big shuffles carry (order, part) and pair counts.
    *
    * Measured alternative, rejected: a collect_list + tagged-generate
    * single-pass (pairs, singleton markers, and the order marker out of
    * one explode) was 3.3 s vs 2.7 s at sf0.1 — the interpreted
    * transform/flatten lambdas recompute 3× (no ReuseExchange on the
    * shared aggregate) and lose to four cheap whole-stage-codegen
    * passes. Codegen-everywhere beats fewer-passes-interpreted.
    */
  def basketAffinity(s: SparkSession, sf: String): DataFrame = {
    val items = Tables.lineitem(s, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val nOrders = items.agg(countDistinct(col("o")).as("n_orders"))
    val singles = items.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val pairs = items.as("a").join(items.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("p1").asc, col("p2").asc)
      .limit(20)
    pairs
      .join(broadcast(singles.withColumnRenamed("p", "p1")
        .withColumnRenamed("n_p", "n_p1")), "p1")
      .join(broadcast(singles.withColumnRenamed("p", "p2")
        .withColumnRenamed("n_p", "n_p2")), "p2")
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("n_pair"),
        round(col("n_pair") / col("n_orders"), 6).as("support"),
        round(col("n_pair") * col("n_orders") /
          (col("n_p1") * col("n_p2")), 6).as("lift"))
      .orderBy(col("n_pair").desc, col("p1").asc, col("p2").asc)
  }


  /** RFM segmentation — the standard customer-value grid: each
    * purchaser scored 1–5 on Recency (days since last purchase, anchored
    * at the corpus's latest purchase day), Frequency, and Monetary,
    * with quintile boundaries from EXACT interpolated percentiles.
    *
    * Scale note: quintile labels from a global `ntile` window would
    * single-partition the user frame; thresholds-as-aggregates keep the
    * whole thing distributive — one user-grain shuffle, one 13-scalar
    * threshold aggregate broadcast back, pure projection after. The
    * user frame is computed twice (thresholds + labeling), the
    * summarize-then-compare shape; at 100 TB persist the user frame or
    * accept two identical one-shuffle passes. Thresholds and metrics
    * are rounded before comparison so boundary users land identically
    * on both engines.
    */
  def behaviorRfm(s: SparkSession, sf: String): DataFrame = {
    // rides the session-memoized user-day rollup (r10 verdict ask #6):
    // recency/frequency re-aggregate exactly (day max, count sums);
    // monetary is an exact long cents sum divided once — order-free by
    // construction (r11 ask #4), same round-4 value as the raw-row sum
    val u = UserFrames.daily(s, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(datediff(max(col("d")), lit("1970-01-01").cast("date"))
             .cast("bigint").as("ld"),
           sum(col("c")).as("frequency"),
           round(sum(col("xsc")).cast("double") / 100d, 4).as("monetary"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val thCols = max(col("ld")).as("anchor") +:
      (qs.map(q => round(expr(s"percentile(ld, $q)"), 6).as(s"ld${(q * 100).toInt}")) ++
       qs.map(q => round(expr(s"percentile(frequency, $q)"), 6).as(s"f${(q * 100).toInt}")) ++
       qs.map(q => round(expr(s"percentile(monetary, $q)"), 6).as(s"m${(q * 100).toInt}")))
    val th = u.agg(thCols.head, thCols.tail: _*)
    def score(x: org.apache.spark.sql.Column, pre: String) =
      qs.map(q => (x > col(s"$pre${(q * 100).toInt}")).cast("long"))
        .foldLeft(lit(1L))(_ + _)
    u.crossJoin(broadcast(th))
      .select(col("user_id"),
        (col("anchor") - col("ld")).as("recency_days"),
        col("frequency"), col("monetary"),
        score(col("ld"), "ld").as("r_score"),
        score(col("frequency"), "f").as("f_score"),
        score(col("monetary"), "m").as("m_score"))
      .withColumn("segment",
        concat(lit("R"), col("r_score"), lit("F"), col("f_score"),
               lit("M"), col("m_score")))
      .orderBy("user_id")
  }

  /** Gini coefficient of per-user purchase spend — revenue-concentration
    * in one number (0 = equal, →1 = one whale), by the rank formula
    * G = 2·Σ(i·xᵢ) / (n·Σx) − (n+1)/n over ascending spend.
    *
    * Scale shape: the global rank never materializes and there is no
    * global-window sort. Σi·x decomposes per log-scale bucket as
    * off_b·Σx_b + Σ(j·x)_b (j = intra-bucket rank, off_b = users in
    * lower buckets from [[Windows.priorBuckets]] over the tiny bucket
    * summary), so the plan is one user-shuffle, one bucket-shuffle, and
    * two O(#buckets) single-partition points — the offset phase of
    * [[Windows.bucketPrefix]] without its join-back: no subtree computes
    * twice (plan-pinned). Tied spends share a bucket and make Σi·x
    * tie-order-independent, so the rank tiebreak never reaches the
    * result.
    */
  def aggGini(s: SparkSession, sf: String): DataFrame = {
    // monotone log-scale bucket key (Windows.valueBucket): needs NO
    // min/max pre-pass (a bounds scalar would recompute the spend
    // subtree — the q2-style ReuseExchange defeat), and same-spend ties
    // always share a bucket
    val spend = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(round(sum(col("value")), 4).as("x"))
      .withColumn("bkt", Windows.valueBucket(col("x")))
    // decompose Σ global-rank·x per bucket: with j the intra-bucket
    // rank and off_b the count of users in lower buckets,
    // Σ i·x = Σ_b [ off_b·Σx_b + Σ(j·x)_b ] — so ONE window pass per
    // bucket + a tiny per-bucket summary replace any global sort or
    // join-back; no part of the spend subtree is computed twice
    val j = row_number().over(Window.partitionBy(col("bkt"))
      .orderBy(col("x").asc, col("user_id").asc))
    spend
      .withColumn("j", j)
      .groupBy(col("bkt"))
      .agg(count(lit(1)).as("n_b"), sum(col("x")).as("sx_b"),
           sum(col("j") * col("x")).as("jx_b"))
      .withColumn("off_b", Windows.priorBuckets(col("n_b"), "bkt"))
      .agg(sum(col("n_b")).cast("bigint").as("n_users"),
           round(sum(col("sx_b")), 4).as("total_spend"),
           round(lit(2.0) * sum(col("off_b") * col("sx_b") + col("jx_b")) /
               (sum(col("n_b")) * sum(col("sx_b"))) -
             (sum(col("n_b")) + lit(1.0)) / sum(col("n_b")), 6).as("gini"))
  }

  /** Per-segment linear trend: OLS of the purchase metric on time (days
    * since epoch) via the ANSI `regr_*` aggregate family — slope,
    * intercept, fit quality, and pair count per event_type. The x axis
    * is an INTEGER day index (`datediff` vs 1970-01-01), so both engines
    * aggregate identical inputs; only the regression outputs are doubles
    * and they are rounded per §0.3.
    *
    * Scale shape: one partial+final HashAggregate over the events scan —
    * `regr_*` are sum-of-moments aggregates (map-side combinable,
    * constant state per group), the same cost as an `avg`.
    */
  def statsTrendRegression(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("event_type"),
              datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
                .cast("double").as("x"),
              col("value").as("y"))
      .groupBy(col("event_type"))
      .agg(round(regr_slope(col("y"), col("x")), 6).as("slope_per_day"),
           round(regr_intercept(col("y"), col("x")), 4).as("intercept"),
           round(regr_r2(col("y"), col("x")), 6).as("r2"),
           regr_count(col("y"), col("x")).cast("bigint").as("n_pairs"))
      .orderBy("event_type")

  /** Forward-fill imputation over the daily grid — the other standard
    * gap policy next to `timeseries_resample`'s zero-fill: a missing day
    * carries the last observed day's value forward (sensor/metrics
    * semantics, "last known state"). Leading days are always observed
    * because each user's grid starts at their first active day.
    *
    * Scale shape: the `userPurchaseDays` grid, plus ONE running
    * `last(ignoreNulls)` window per user — the join output is already
    * hash-partitioned by (user_id, d), but the window needs user_id
    * clustering, so the window adds the single per-user exchange; frame
    * is rows-unbounded-preceding (O(1) state per row, no buffering).
    */
  def timeseriesFfill(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    userPurchaseDays(s, sf)
      .select(col("user_id"), col("d"),
              last(col("day_value"), ignoreNulls = true).over(w)
                .as("filled_value"),
              col("day_value").isNotNull.as("observed"))
      .orderBy("user_id", "d")
  }

  /** Two-sample Kolmogorov–Smirnov test on purchase values between the
    * deterministic md5 arms of `experimentTtest` — the distribution-
    * free companion to the t test (detects shape shifts a mean compare
    * misses). D = max |F_A(x) − F_B(x)| over the pooled sample, computed
    * from running arm counts over the value order; ties collapse to one
    * evaluation point per distinct value (the sup over a tie group is
    * its last row, so max-after-group is exact).
    *
    * Scale shape: the data-sized work is ONE HashAggregate collapsing
    * events to per-distinct-value arm counts (map-side combinable).
    * Distinct rounded doubles grow ~linearly with the corpus, so the
    * running ECDFs must NOT be a global unpartitioned window (that was
    * this operator's round-7 shape — all distinct values through one
    * task). Instead the running arm counts and their grand totals come
    * from [[Windows.bucketPrefix]] over the value bucket; ca = the
    * counts before + the value's own is integer-exact, so ks_d is
    * bit-identical to the global form.
    */
  def statsKsTest(s: SparkSession, sf: String): DataFrame = {
    // collapse to per-distinct-value arm counts BEFORE the running sums:
    // a running window over raw tied rows would see an arbitrary intra-
    // tie order (engine-dependent intermediate ECDFs); the sup of a step
    // function is attained at step points, so the per-value grain is both
    // deterministic and exact
    val byVal = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull
        && col("value").isNotNull)  // a null metric has no ECDF position —
                                    // and Spark orders nulls first vs
                                    // DuckDB last, so excluding them is
                                    // also the only engine-stable choice
      .select(round(col("value"), 4).as("value"), arm.cast("long").as("a"))
      .groupBy(col("value"))
      .agg(sum(col("a")).as("av"), sum(lit(1L) - col("a")).as("bv"))
      .withColumn("bkt", Windows.valueBucket(col("value")))
    Windows.bucketPrefix(byVal, "bkt", Seq(col("value").asc), Seq("av", "bv"))
      .agg(max(col("av_total")).cast("bigint").as("n_a"),
           max(col("bv_total")).cast("bigint").as("n_b"),
           round(max(abs(
             (col("av_before") + col("av")).cast("double") / col("av_total") -
             (col("bv_before") + col("bv")).cast("double") / col("bv_total"))),
             6).as("ks_d"))
  }

  /** One-way ANOVA across event types on the event value — does the
    * metric differ by event type beyond noise? Emits the classic table:
    * between/within sums of squares, degrees of freedom, and the F
    * statistic, from per-group (n, mean, M2) in a single pass.
    *
    * Scale shape: one partial+final HashAggregate over the scan builds
    * the ≤|types|-row group summary (count/avg/var are sum-of-moments,
    * map-side combinable); the grand mean and F are windows/scalar math
    * over that tiny frame. Identical cost to a plain groupBy-avg.
    */
  def statsAnova(s: SparkSession, sf: String): DataFrame = {
    val wAll = Window.partitionBy()
    Tables.events(s, sf)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
           var_samp(col("value")).as("v"))
      .select(
        sum(col("n")).over(wAll).as("n_total"),
        count(lit(1)).over(wAll).as("k"),
        (sum(col("n") * col("m")).over(wAll) / sum(col("n")).over(wAll))
          .as("gm"),
        col("n"), col("m"), col("v"))
      .groupBy(col("n_total"), col("k"), col("gm"))
      .agg(sum(col("n") * pow(col("m") - col("gm"), 2)).as("ss_between"),
           sum((col("n") - 1) * col("v")).as("ss_within"))
      .select(col("n_total").cast("bigint").as("n_total"),
        col("k").cast("bigint").as("k_groups"),
        round(col("ss_between"), 4).as("ss_between"),
        round(col("ss_within"), 4).as("ss_within"),
        round((col("ss_between") / (col("k") - 1)) /
              (col("ss_within") / (col("n_total") - col("k"))), 6)
          .as("f_stat"))
  }

  /** Lag-k autocorrelation (k = 1, 2, 3) of each event type's daily
    * count series — the seasonality probe run before any forecasting
    * model choice. The series is the per-(type, day) count on each
    * type's own contiguous day grid (missing days are true zeros, so
    * lags align calendar-wise, not row-wise); ACF_k is the Pearson corr
    * of the series against itself shifted k days.
    *
    * Scale shape: events collapse to the (type, day) grain first — the
    * only data-sized aggregate; the grid explode, three lag windows over
    * the per-type day order, and the corr aggregates all run on the
    * tiny daily frame. `corr` is sum-of-moments, map-side combinable.
    */
  def statsAutocorr(s: SparkSession, sf: String): DataFrame =
    lagCorrs(s, sf).orderBy("event_type")

  /** Per event type: day count and round-6 ACF at lags 1–3, the frame
    * statsAutocorr reports and statsPartialAutocorr recurses on. */
  private def lagCorrs(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d").asc)
    typeDayCounts(s, sf)
      .select(col("event_type"), col("c"),
              lag(col("c"), 1).over(w).as("c1"),
              lag(col("c"), 2).over(w).as("c2"),
              lag(col("c"), 3).over(w).as("c3"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
           round(corr(col("c"), col("c1")), 6).as("acf1"),
           round(corr(col("c"), col("c2")), 6).as("acf2"),
           round(corr(col("c"), col("c3")), 6).as("acf3"))
  }

  /** Partial autocorrelation (lags 1–3) by Durbin–Levinson — the other
    * half of Box–Jenkins identification ([[statsAutocorr]] reads the MA
    * signature, PACF reads the AR signature: an AR(p) series cuts off
    * after lag p in PACF). Same gap-filled per-type daily count series
    * and corr moments as the ACF key; the recursion is unrolled closed
    * forms on the ROUND-6 ACF values, each level rounding at 6 before
    * the next consumes it — both engines replay the literal tree:
    * φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²); φ₂₁ = r₁−φ₂₂r₁;
    * φ₃₃ = (r₃−φ₂₁r₂−φ₂₂r₁)/(1−φ₂₁r₁−φ₂₂r₂).
    *
    * Scale shape: identical to statsAutocorr — one day-grain aggregate,
    * three lag windows over the tiny daily frame, map-side-combinable
    * corr moments; the recursion is per-type scalar arithmetic. */
  def statsPartialAutocorr(s: SparkSession, sf: String): DataFrame =
    lagCorrs(s, sf)
      .withColumn("pacf2", round(
        (col("acf2") - col("acf1") * col("acf1")) /
          nullif(lit(1.0d) - col("acf1") * col("acf1"), lit(0.0d)), 6))
      .withColumn("f21", round(col("acf1") - col("pacf2") * col("acf1"), 6))
      .withColumn("pacf3", round(
        (col("acf3") - col("f21") * col("acf2") -
          col("pacf2") * col("acf1")) /
        nullif(lit(1.0d) - col("f21") * col("acf1") -
          col("pacf2") * col("acf2"), lit(0.0d)), 6))
      .select(col("event_type"), col("n_days"), col("acf1"), col("acf2"),
        col("acf3"), col("acf1").as("pacf1"), col("pacf2"), col("pacf3"))
      .orderBy("event_type")

  /** DAU/MAU stickiness — the engagement ratio product analytics runs
    * daily: for every day, active users that day over distinct active
    * users in the trailing 30 days. All counts are exact integers; only
    * the final ratio divides (round 6).
    *
    * Scale shape: the data-sized step is the (user, day) distinct
    * presence aggregate; the trailing-window distinct joins presence
    * against the ≤ |days| broadcast day frame (30× bounded fan-out —
    * the exact form; at extreme scale the approximate form swaps in
    * per-day HLL sketches merged over the window, `agg_hll_partitioned`
    * machinery) and re-distincts at (day, user) grain. */
  def eventUserStickiness(s: SparkSession, sf: String): DataFrame = {
    // (user, day) presence off the session-memoized user-day rollup —
    // exact (counts only), the events scan is paid once per session
    val pres = UserFrames.daily(s, sf)
      .select(col("user_id"), col("d"))
      .distinct()
    val days = pres.select(col("d").as("dd")).distinct()
    val dau = pres.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val mau = pres.join(broadcast(days),
        col("d").between(date_sub(col("dd"), 29), col("dd")))
      .select(col("dd"), col("user_id")).distinct()
      .groupBy(col("dd")).agg(count(lit(1)).as("mau"))
    dau.join(mau, col("d") === col("dd"))
      .select(col("d"), col("dau").cast("bigint").as("dau"),
        col("mau").cast("bigint").as("mau"),
        round(col("dau").cast("double") / col("mau").cast("double"), 6)
          .as("stickiness"))
      .orderBy("d")
  }

  /** Winsorized and trimmed means of purchase value — the robust
    * location estimates that survive the heavy tail `anomaly_mad`
    * flags: values outside the exact [p05, p95] interpolated
    * percentiles (round-6, the mad-key discipline) are clamped
    * (winsorized) or dropped (trimmed), and each mean is an exact
    * DECIMAL sum over the adjusted values — never a bare float SUM.
    *
    * Scale shape: one filtered scan → percentile aggregate (sort-based
    * exact percentile; at extreme scale the t-digest key is the
    * mergeable swap-in) broadcast back, then one decimal rollup. */
  def statsWinsorizedMean(s: SparkSession, sf: String): DataFrame = {
    val v = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(round(col("value"), 4).as("value"))
    val caps = broadcast(v.agg(
      round(expr("percentile(value, 0.05)"), 6).as("p05"),
      round(expr("percentile(value, 0.95)"), 6).as("p95")))
    v.crossJoin(caps)
      .select(col("value"), col("p05"), col("p95"),
        least(greatest(col("value"), col("p05")), col("p95"))
          .cast("decimal(18,6)").as("wv"),
        when(col("value") >= col("p05") && col("value") <= col("p95"),
          col("value").cast("decimal(18,6)")).as("tv"))
      .groupBy(col("p05"), col("p95"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("sraw"),
        sum(col("wv")).as("sw"),
        count(col("tv")).as("nt"), sum(col("tv")).as("st"))
      .select(col("n").cast("bigint").as("n_values"),
        col("p05"), col("p95"),
        round(col("sraw").cast("double") / col("n").cast("double"), 6)
          .as("mean_raw"),
        round(col("sw").cast("double") / col("n").cast("double"), 6)
          .as("winsorized_mean"),
        col("nt").cast("bigint").as("n_kept"),
        round(col("st").cast("double") / col("nt").cast("double"), 6)
          .as("trimmed_mean"))
  }

  /** Propensity-score stratification (Rosenbaum–Rubin) of the md5-arm
    * revenue effect — the causal-adjustment companion to
    * [[statsDiffInDiff]]: a linear-probability propensity model
    * P(T|x₁, x₂) on pre-period activity (event count, revenue at the
    * cuped span midpoint) fit by exact-moment normal equations (the
    * statsOlsMulti Cramer machinery), users cut into score quintiles
    * (exact round-6 percentile boundaries), and
    * ATT = Σₛ wₛ·(ȳT,s − ȳC,s) with wₛ the treated share of strata
    * where BOTH arms appear. With md5 arms the truth is ATT ≈ naive
    * diff (assignment ignores x) — the key certifies the estimator's
    * machinery, reported next to the unadjusted difference.
    *
    * Determinism: all propensity moments are exact longs/decimals; the
    * 3×3 Cramer solve and the score are round-6 arithmetic; per-stratum
    * means are decimal-sum ratios; the ≤5-term ATT reduction is a
    * seeded fold in stratum order.
    *
    * Scale shape: one user-grain aggregate, one broadcast moment/
    * cutpoint pass, one stratum rollup — no joins beyond broadcast
    * scalars, no windows. */
  def statsPropensityStrat(s: SparkSession, sf: String): DataFrame = {
    // session-memoized user-day rollup (r10 verdict ask #6): x1 is an
    // exact cell-count sum; the revenue covariate/outcome sum the
    // cells' exact long cents (all-null cells carry xsc NULL, coalesced
    // to 0 — the same rows the raw form skipped via its per-row CASE)
    // and divide once — order-free by construction (r11 ask #4)
    val ev = UserFrames.daily(s, sf)
      .select(col("user_id"), col("d"), col("c"), col("xsc"))
    val span = midpoint(ev)
    val users = ev.crossJoin(span)
      .groupBy(col("user_id"))
      .agg(sum(when(col("d") < col("mid"), col("c")).otherwise(0L)).as("x1"),
        (sum(when(col("d") < col("mid"), coalesce(col("xsc"), lit(0L)))
          .otherwise(lit(0L))).cast("double") / 100d)
          .cast("decimal(18,4)").as("x2"),
        (sum(when(col("d") >= col("mid"), coalesce(col("xsc"), lit(0L)))
          .otherwise(lit(0L))).cast("double") / 100d)
          .cast("decimal(18,4)").as("y"))
      .withColumn("t", arm)
    // 3x3 normal equations on exact moments; Cramer in doubles, round-6
    val fit = broadcast(users.agg(
        count(lit(1)).as("n"), sum(col("x1")).as("sx1"),
        sum(col("x2")).as("sx2"),
        sum(col("x1") * col("x1")).as("sx11"),
        sum(col("x1") * col("x2")).as("sx12"),
        sum(col("x2") * col("x2")).as("sx22"),
        sum(col("t").cast("long")).as("st"),
        sum(col("t").cast("long") * col("x1")).as("stx1"),
        sum(when(col("t"), col("x2")).otherwise(lit(0).cast("decimal(18,4)")))
          .as("stx2"))
      .selectExpr("cast(n as double) as a11", "cast(sx1 as double) as a12",
        "cast(sx2 as double) as a13", "cast(sx11 as double) as a22",
        "cast(sx12 as double) as a23", "cast(sx22 as double) as a33",
        "cast(st as double) as r1", "cast(stx1 as double) as r2",
        "cast(stx2 as double) as r3")
      .selectExpr(cramer3: _*)
      .selectExpr("round(n0 / nullif(det, 0.0d) , 6) as b0",
        "round(n1 / nullif(det, 0.0d), 6) as b1",
        "round(n2 / nullif(det, 0.0d), 6) as b2"))
    val scored = users.crossJoin(fit)
      .withColumn("score", round(col("b0") +
        col("b1") * col("x1").cast("double") +
        col("b2") * col("x2").cast("double"), 6))
    val cuts = broadcast(scored.agg(
      round(expr("percentile(score, 0.2)"), 6).as("q1"),
      round(expr("percentile(score, 0.4)"), 6).as("q2"),
      round(expr("percentile(score, 0.6)"), 6).as("q3"),
      round(expr("percentile(score, 0.8)"), 6).as("q4")))
    val strata = scored.crossJoin(cuts)
      .withColumn("stratum", lit(1L) +
        (col("score") > col("q1")).cast("long") +
        (col("score") > col("q2")).cast("long") +
        (col("score") > col("q3")).cast("long") +
        (col("score") > col("q4")).cast("long"))
      .groupBy(col("stratum"))
      .agg(sum(col("t").cast("long")).as("nt"),
        sum((!col("t")).cast("long")).as("nc"),
        sum(when(col("t"), col("y")).otherwise(lit(0).cast("decimal(18,4)")))
          .as("syt"),
        sum(when(!col("t"), col("y")).otherwise(lit(0).cast("decimal(18,4)")))
          .as("syc"))
      .filter(col("nt") > 0L && col("nc") > 0L)
      .withColumn("mean_y_treated",
        round(col("syt").cast("double") / col("nt").cast("double"), 6))
      .withColumn("mean_y_control",
        round(col("syc").cast("double") / col("nc").cast("double"), 6))
      .withColumn("diff", round(col("mean_y_treated") -
        col("mean_y_control"), 6))
    val att = broadcast(strata
      .groupBy()
      .agg(sum(col("nt")).as("tot_t"), sort_array(collect_list(
        struct(col("stratum"), col("nt"), col("diff")))).as("s"))
      .select(round(expr("aggregate(s, cast(0.0 as double)," +
        " (acc, r) -> acc + cast(r.nt as double) / cast(tot_t as double)" +
        " * r.diff)"), 6).as("att")))
    strata.crossJoin(att)
      .select(col("stratum"), col("nt").cast("bigint").as("n_treated"),
        col("nc").cast("bigint").as("n_control"),
        col("mean_y_treated"), col("mean_y_control"), col("diff"),
        col("att"))
      .orderBy("stratum")
  }

  /** Paired t-test on per-user pre/post revenue around the span
    * midpoint — the parametric member of the paired family
    * (`stats_wilcoxon_signed_rank` ranks day pairs,
    * `stats_mcnemar` flips binary pairs; this one t-tests the mean of
    * per-user differences, the within-subject design that cancels
    * user-level variance a two-sample test eats as noise).
    *
    * Determinism: differences ride integer 1e-4 units (exact from the
    * rollup's long cents sums ×100), so Σd and Σd² stay exact
    * long/DECIMAL(38)/HUGEINT; mean and variance are exact-ratio
    * doubles rounded at 6 before the t arithmetic.
    *
    * Scale shape: one user-grain aggregate + one global moment
    * rollup — map-side combinable, no windows, no joins. */
  def statsPairedTtest(s: SparkSession, sf: String): DataFrame = {
    // session-memoized user-day rollup (r10 verdict ask #6): the
    // value-IS-NOT-NULL pre-filter recovers as cv > 0; per-period sums
    // ride the memo's exact long cents end-to-end (r11 ask #4) — di is
    // a pure integer subtraction in 1e-4 units, no double ever touched
    val ev = UserFrames.daily(s, sf)
      .filter(col("cv") > 0 && col("event_type").isNotNull)
      .select(col("user_id"), col("d"), col("xsc"))
    val span = midpoint(ev)
    ev.crossJoin(span)
      .groupBy(col("user_id"))
      .agg(((sum(when(col("d") >= col("mid"), col("xsc")).otherwise(lit(0L))) -
             sum(when(col("d") < col("mid"), col("xsc")).otherwise(lit(0L))))
          * lit(100L)).as("di"))
      .agg(count(lit(1)).as("n"), sum(col("di")).as("s1"),
        sum(col("di").cast("decimal(19,0)") * col("di").cast("decimal(19,0)"))
          .as("s2"))
      .select(col("n").cast("bigint").as("n_pairs"),
        round(col("s1").cast("double") / col("n").cast("double") /
          lit(10000.0d), 6).as("mean_diff"),
        round(sqrt((col("n").cast("decimal(38,0)") * col("s2") -
            col("s1").cast("decimal(19,0)") * col("s1").cast("decimal(19,0)"))
            .cast("double") /
          nullif((col("n") * (col("n") - 1L)).cast("double"), lit(0.0d))) /
          lit(10000.0d), 6).as("sd_diff"),
        (col("n") - 1L).cast("bigint").as("df"))
      .withColumn("t_stat", round(col("mean_diff") /
        nullif(col("sd_diff") / sqrt(col("n_pairs").cast("double")),
          lit(0.0d)), 6))
      .withColumn("significant", abs(col("t_stat")) > 1.959964d)
  }

  /** Granger causality between the view and purchase daily-count
    * series, both directions — does yesterday's X help predict today's
    * Y beyond Y's own history? F-test of the lag-1 unrestricted model
    * y_t ~ (1, y_{t−1}, x_{t−1}) against the restricted y_t ~ (1,
    * y_{t−1}): F = (SSE_r − SSE_u)/(SSE_u/(n−3)), flagged at the 3.84
    * large-n critical value. The demand-sensing question (do views
    * LEAD purchases?) asked with the statsOlsMulti machinery.
    *
    * Determinism: counts are integers so every regression moment is an
    * exact long/DECIMAL product-sum; both solves are closed-form
    * Cramer on round-6 coefficients, and each SSE is the moment
    * identity Syy − b᾿X᾿y on those rounded b's — no per-row residual
    * float sums anywhere.
    *
    * Scale shape: the day-grain pivot off the shared daily memo, one
    * lag window over the calendar-bounded frame, one moment rollup per
    * direction. */
  def timeseriesGranger(s: SparkSession, sf: String): DataFrame = {
    val byDay = DailyFrames.daily(s, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("d"))
      .agg(sum(when(col("event_type") === "purchase", col("c"))
          .otherwise(0L)).as("p"),
        sum(when(col("event_type") === "view", col("c"))
          .otherwise(0L)).as("v"))
    val w = Window.orderBy(col("d"))
    val lagged = byDay
      .select(col("d"), col("p"), col("v"),
        lag(col("p"), 1).over(w).as("pl"),
        lag(col("v"), 1).over(w).as("vl"))
      .filter(col("pl").isNotNull)
    def direction(name: String, y: String, yl: String, xl: String) = {
      def dprod(a: String, b: String) =
        sum(col(a).cast("decimal(19,0)") * col(b).cast("decimal(19,0)"))
      lagged.agg(
          count(lit(1)).as("n"), sum(col(yl)).as("syl"),
          sum(col(xl)).as("sxl"), dprod(yl, yl).as("sylyl"),
          dprod(yl, xl).as("sylxl"), dprod(xl, xl).as("sxlxl"),
          sum(col(y)).as("sy"), dprod(y, yl).as("syyl"),
          dprod(y, xl).as("syxl"), dprod(y, y).as("syy"))
        .selectExpr("cast(n as bigint) as n_obs",
          "cast(n as double) as a11", "cast(syl as double) as a12",
          "cast(sxl as double) as a13", "cast(sylyl as double) as a22",
          "cast(sylxl as double) as a23", "cast(sxlxl as double) as a33",
          "cast(sy as double) as r1", "cast(syyl as double) as r2",
          "cast(syxl as double) as r3", "cast(syy as double) as syy")
        .selectExpr(Seq("n_obs", "a11", "a12", "a22", "r1", "r2", "r3", "syy")
          ++ cramer3: _*)
        .selectExpr("n_obs", "a11", "a12", "a22", "r1", "r2", "r3", "syy",
          "round(n0 / nullif(det, 0.0d), 6) as b0",
          "round(n1 / nullif(det, 0.0d), 6) as b1",
          "round(n2 / nullif(det, 0.0d), 6) as b2")
        // restricted 2x2 solve, then both SSEs from the moment
        // identity SSE = Syy - b'X'y on the ROUNDED coefficients
        .selectExpr("n_obs", "r1", "r2", "r3", "syy", "b0", "b1", "b2",
          "a11", "a12",
          "round((a11 * r2 - a12 * r1) / nullif(a11 * a22 - a12 * a12, 0.0d), 6) as c1")
        .selectExpr("n_obs", "r1", "r2", "r3", "syy", "b0", "b1", "b2", "c1",
          "round((r1 - c1 * a12) / a11, 6) as c0")
        .selectExpr("n_obs", "b1", "b2",
          "round(syy - (b0 * r1 + b1 * r2 + b2 * r3), 6) as sse_u",
          "round(syy - (c0 * r1 + c1 * r2), 6) as sse_r")
        .selectExpr("n_obs", "b1 as coef_own_lag", "b2 as coef_cross_lag",
          "sse_r", "sse_u",
          "round((sse_r - sse_u) / nullif(sse_u / nullif(cast(n_obs - 3 as double), 0.0d), 0.0d), 6)" +
            " as f_stat")
        .withColumn("direction", lit(name))
        .withColumn("granger_causal", col("f_stat") > 3.841459d)
        .select(col("direction"), col("n_obs"), col("coef_own_lag"),
          col("coef_cross_lag"), col("sse_r"), col("sse_u"), col("f_stat"),
          col("granger_causal"))
    }
    direction("view_to_purchase", "p", "pl", "vl")
      .unionAll(direction("purchase_to_view", "v", "vl", "pl"))
      .orderBy("direction")
  }

  /** Gumbel extreme-value fit of weekly revenue maxima — the
    * block-maxima EVT that answers "how bad is a 1-in-T week": weekly
    * (epoch-day div 7, the engine-agnostic week key) maxima of daily
    * purchase revenue, method-of-moments Gumbel parameters
    * β = σ·√6/π, μ = m̄ − γ·β, and return levels
    * x_T = μ − β·ln(−ln(1−1/T)) at T = 4 and 12 weeks. Capacity
    * planning reads x_T directly; the normal-tail keys (grubbs/ESD)
    * under-call exactly these block extremes.
    *
    * Determinism: max is order-free; the maxima moments are exact
    * DECIMAL sums; √6/π, the Euler–Mascheroni constant, and the two
    * −ln(−ln(·)) factors are shared 16-digit literals on both engines
    * (computing them in-engine would race two libm implementations),
    * so every derived stat is arithmetic on round-6 agreed values. */
  def statsExtremeValue(s: SparkSession, sf: String): DataFrame = {
    val weekly = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("cast(datediff(d, date '1970-01-01') as long) div 7")
        .as("wk"))
      .agg(max(col("x4")).cast("decimal(18,4)").as("m"))
    weekly.agg(count(lit(1)).as("n"), sum(col("m")).as("s1"),
        sum(col("m") * col("m")).as("s2"))
      .select(col("n").cast("bigint").as("n_weeks"),
        round(col("s1").cast("double") / col("n").cast("double"), 6)
          .as("mean_max"),
        round(sqrt((col("n") * col("s2") - col("s1") * col("s1"))
            .cast("double") /
          nullif((col("n") * (col("n") - 1L)).cast("double"), lit(0.0d))), 6)
          .as("sd_max"))
      .withColumn("gumbel_beta",
        round(col("sd_max") * lit(0.779696801233676d), 6))
      .withColumn("gumbel_mu", round(col("mean_max") -
        lit(0.5772156649015329d) * col("gumbel_beta"), 6))
      .withColumn("return_level_4w", round(col("gumbel_mu") +
        col("gumbel_beta") * lit(1.2458993237072382d), 6))
      .withColumn("return_level_12w", round(col("gumbel_mu") +
        col("gumbel_beta") * lit(2.441716398881459d), 6))
  }

  /** Seasonal-naive backtest — the forecasting BASELINE every model
    * must beat before it ships: forecast(d) = value(d−7) (same weekday
    * last week), scored per type over the overlap with MAE, MAPE, and
    * bias. Emitting the baseline's error puts a floor under any model
    * comparison; `timeseries_seasonality`/`stl_decompose` explain the
    * structure, this key prices ignoring everything but the weekly
    * cycle.
    *
    * Determinism: daily x is 4-rounded; |x−x₋₇| differences and their
    * means are small exact-ish sums (≤ days addends), rounded at 6 —
    * the green lag-features discipline.
    *
    * Scale shape: (type, day) aggregate + ONE lag window partitioned by
    * type (calendar-bounded) + one moments aggregate. Nothing else
    * touches the scan.
    */
  def timeseriesSnaiveBacktest(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("x"))
    // calendar-correct lag: join on d−7 rather than "7 observed rows
    // back", so a gap week never silently shifts the weekday alignment
    val prior = daily.select(col("event_type"),
      date_add(col("d"), 7).as("d"), col("x").as("f"))
    daily.join(prior, Seq("event_type", "d"))
      .filter(col("x") =!= 0.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_scored"),
           round(avg(abs(col("x") - col("f"))), 6).as("mae"),
           round(avg(abs(col("x") - col("f")) / abs(col("x"))), 6).as("mape"),
           round(avg(col("f") - col("x")), 6).as("bias"))
      .orderBy("event_type")
  }

  /** Ljung–Box portmanteau test at h = 3 lags over each type's
    * gap-filled daily count series — the "is there ANY autocorrelation
    * left" gate run after fitting/deseasonalizing, built directly on
    * `statsAutocorr`'s lagged machinery: Q = n(n+2)·Σ ρ̂ₖ²/(n−k),
    * rejected at the χ²₍₃,0.95₎ = 7.814728 critical value.
    *
    * ρ̂ₖ is the TEXTBOOK ACF estimator (r9 advice fix): autocovariance
    * at lag k over the GLOBAL series mean, divided by the full-series
    * variance — Σₜ₌ₖ₊₁(xₜ−x̄)(xₜ₋ₖ−x̄) / Σₜ(xₜ−x̄)². The previous
    * per-lag Pearson correlations (lag-specific means over n−k pairs)
    * made Q only approximately the statistic the χ² critical value
    * assumes; this form matches it exactly. x̄ = (integer sum)/n is
    * bit-identical on both engines; the moment sums round at 6 like
    * every acf surface in the repo.
    *
    * Scale shape: identical to autocorr — (type, day) aggregate,
    * calendar-bounded per-type windows, one tiny final reduction.
    */
  def statsLjungBox(s: SparkSession, sf: String): DataFrame = {
    val filled = typeDayCounts(s, sf)
    val wp = Window.partitionBy(col("event_type"))
    val w = wp.orderBy(col("d").asc)
    filled
      .withColumn("xc", col("c") - avg(col("c")).over(wp))
      .select(col("event_type"), col("xc"),
              lag(col("xc"), 1).over(w).as("x1"),
              lag(col("xc"), 2).over(w).as("x2"),
              lag(col("xc"), 3).over(w).as("x3"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
           round(sum(col("xc") * col("x1")) / sum(col("xc") * col("xc")), 6)
             .as("r1"),
           round(sum(col("xc") * col("x2")) / sum(col("xc") * col("xc")), 6)
             .as("r2"),
           round(sum(col("xc") * col("x3")) / sum(col("xc") * col("xc")), 6)
             .as("r3"))
      .select(col("event_type"), col("n_days"),
        round(col("n_days") * (col("n_days") + lit(2.0)) *
          (col("r1") * col("r1") / (col("n_days") - lit(1)) +
           col("r2") * col("r2") / (col("n_days") - lit(2)) +
           col("r3") * col("r3") / (col("n_days") - lit(3))), 6).as("q_lb"))
      .withColumn("reject_white_noise", col("q_lb") > 7.814728)
      .orderBy("event_type")
  }

  /** Exponentially weighted moving average (α = 0.3, s₀ = x₀) of each
    * event type's daily purchase total — the smoothing baseline next to
    * `timeseries_resample`'s raw grid. The recursion s_t = αx_t +
    * (1−α)s_{t−1} folds over each type's ordered day array with the
    * `aggregate` higher-order function: exact, no pow(1−α, −k) rescaling
    * (which overflows on long series), and one output row per day via
    * posexplode of the running-state array.
    *
    * Scale shape: the data-sized work is the (type, day) aggregate; the
    * fold runs per type over day-count-sized arrays (bounded by the
    * calendar, not the data). A per-row window formulation would need a
    * non-distributive recursive frame — the fold is the honest shape,
    * and its state (one running array per type) is explicitly bounded.
    */
  def timeseriesEwma(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    // Per-type imperative scan instead of the SQL `aggregate` fold whose
    // `acc || array(…)` accumulator copies the whole array per step
    // (O(days²)) — the timeseriesEwmVar shape (r10 verdict ask #5).
    // Same IEEE op order as the fold (0.3·x + 0.7·prev), and the same
    // null propagation: an all-null purchase day poisons the series from
    // that point on, exactly as 0.3·NULL does in both engines' folds —
    // hence the boxed Double (a primitive would silently zero it).
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_type"), col("d"), col("x4").as("x"))
      .as[(String, java.sql.Date, java.lang.Double)]
    daily.groupByKey(_._1)
      .flatMapGroups { (t: String, it: Iterator[(String, java.sql.Date, java.lang.Double)]) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        var e: java.lang.Double = null
        var first = true
        rows.iterator.map { case (_, d, x) =>
          e = if (first) { first = false; x }
              else if (x == null || e == null) null
              else java.lang.Double.valueOf(0.3d * x + 0.7d * e)
          (t, d, x, e)
        }
      }
      .toDF("event_type", "d", "x", "e")
      .select(col("event_type"), col("d"),
              round(col("x"), 4).as("x"), round(col("e"), 6).as("ewma"))
      .orderBy("event_type", "d")
  }

  /** Mann–Whitney U (rank-sum) test between the md5 arms on purchase
    * value — the nonparametric companion to `experimentTtest`, valid
    * under any value distribution. Mid-ranks come from the per-distinct-
    * value grain (offset of lower values + (n_v+1)/2 — the closed form
    * of averaging tied row numbers), U_A = R_A − n_A(n_A+1)/2, and the
    * normal approximation applies the standard tie-corrected variance
    * σ² = n_A·n_B/12 · ((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Scale shape: per-value arm counts from one map-side-combinable
    * HashAggregate, as in `statsKsTest` — but here the global midrank
    * prefix DECOMPOSES like agg_gini's Σi·x (no join-back at all):
    * midrank = off_b + intra, so Σ av·midrank = Σ_b [off_b·Σav_b +
    * Σ(av·intra)_b]. One bucket-partitioned window (parallel), one
    * per-bucket summary whose offset window ([[Windows.priorBuckets]])
    * is the only single-partition point (bounded by bucket count), then
    * a scalar
    * aggregate. Midranks are half-integers and the per-bucket products
    * stay ≪ 2⁵³, so the decomposed sum is exactly the global one.
    */
  def statsMannWhitney(s: SparkSession, sf: String): DataFrame = {
    val byVal = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull
        && col("value").isNotNull)  // null metric: no rank position (and
                                    // engine null-order would diverge)
      .select(round(col("value"), 4).as("value"), arm.cast("long").as("a"))
      .groupBy(col("value"))
      .agg(sum(col("a")).as("av"), sum(lit(1L) - col("a")).as("bv"))
      .withColumn("tv", col("av") + col("bv"))
      .withColumn("bkt", Windows.valueBucket(col("value")))
    val wIntra = Window.partitionBy(col("bkt")).orderBy(col("value").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byVal
      .withColumn("prev", coalesce(sum(col("tv")).over(wIntra), lit(0L)))
      .groupBy(col("bkt"))
      .agg(sum(col("av")).as("sa"), sum(col("bv")).as("sb"),
           sum(col("tv")).as("st"),
           sum(col("av") * (col("prev").cast("double") +
             (col("tv") + 1).cast("double") / 2)).as("rai"),
           sum(col("tv") * col("tv") * col("tv") - col("tv")).as("tie_b"))
      .withColumn("offt", Windows.priorBuckets(col("st"), "bkt"))
      .agg(sum(col("sa")).as("na"), sum(col("sb")).as("nb"),
           sum(col("offt").cast("double") * col("sa") + col("rai")).as("ra"),
           sum(col("tie_b")).as("ties"))
      .select(col("na").cast("bigint").as("n_a"),
        col("nb").cast("bigint").as("n_b"),
        round(col("ra") - col("na").cast("double") * (col("na") + 1) / 2, 4)
          .as("u_a"),
        round((col("ra") - col("na").cast("double") * (col("na") + 1) / 2 -
               col("na").cast("double") * col("nb") / 2) /
          sqrt(col("na").cast("double") * col("nb") / 12 *
            ((col("na") + col("nb") + 1) -
             col("ties").cast("double") /
               ((col("na") + col("nb")) * (col("na") + col("nb") - 1)))), 6)
          .as("z_score"))
  }

  /** Robust global outliers by MODIFIED z-score — the median/MAD
    * companion to `anomalyZscore`'s mean/σ (which a single whale can
    * drag until nothing flags): flag purchases with
    * |x − median| / (1.4826·MAD) > 3.5 (Iglewicz–Hoaglin). Median and
    * MAD are EXACT interpolated percentiles, rounded before reuse so
    * both engines gate on identical scalars; an all-identical corpus
    * has MAD 0 and the nullif turns every score NULL (nothing flags —
    * the right answer, not a divide error).
    *
    * Scale shape: two percentile aggregates (Spark's percentile is a
    * single-pass sketchless exact aggregate) with their scalars
    * broadcast back in-plan via crossJoin — the summarize-then-compare
    * shape of behaviorRfm; the filtered scan is the only data-sized
    * work, computed once per percentile pass + once for scoring. */
  def anomalyMad(s: SparkSession, sf: String): DataFrame = {
    val v = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id"), round(col("value"), 4).as("value"))
    val med = v.agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val scored = v.crossJoin(broadcast(med))
      .withColumn("absdev", round(abs(col("value") - col("med")), 6))
    val mad = scored.agg(round(expr("percentile(absdev, 0.5)"), 6).as("mad"))
    scored.crossJoin(broadcast(mad))
      .withColumn("mod_z", round((col("value") - col("med")) /
        nullif(lit(1.4826) * col("mad"), lit(0.0)), 4))
      .filter(abs(col("mod_z")) > 3.5)
      .select(col("event_id"), col("value"), col("med"), col("mod_z"))
      .orderBy("event_id")
  }

  /** Two-proportion z-test on conversion between the deterministic md5
    * arms, at BOTH grains a rate experiment is read (r10 verdict ask
    * #4 — this key absorbs the former `stats_proportion_ztest`, which
    * was the same pooled closed form at event grain):
    *
    *   - `user` grain: did a user convert at all? (any purchase over
    *     200 — plain "any purchase" is degenerate on this corpus:
    *     every user converts, p̂ = 1 and the z denominator vanishes);
    *   - `event` grain: is an event a purchase? (the per-impression
    *     rate a dashboard quotes).
    *
    * p̂ pools both arms; z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)).
    *
    * Scale shape: both grains ride the session-memoized UserFrames
    * rollup (r10 verdict ask #6) — counts and the conversion flag are
    * EXACT re-aggregations of the checkpointed day-cells, so the
    * events scan is paid once per session; each grain is then one
    * map-side-combinable aggregate into ONE scalar row — no window, no
    * join. Every divisor rides a nullif so a one-armed or
    * conversion-free corpus yields NULL statistics, never an ANSI
    * divide-by-zero. */
  def statsProportionsZtest(s: SparkSession, sf: String): DataFrame = {
    def nz(c: org.apache.spark.sql.Column) = nullif(c, lit(0))
    val pHat = (col("xa") + col("xb")).cast("double") /
      nz((col("na") + col("nb")).cast("double"))
    // flags: (a, n trials, x successes) per user → one pooled-z row
    def zRow(grain: String, flags: DataFrame): DataFrame = flags
      .agg(sum(col("a") * col("n")).as("na"),
           sum((lit(1L) - col("a")) * col("n")).as("nb"),
           sum(col("a") * col("x")).as("xa"),
           sum((lit(1L) - col("a")) * col("x")).as("xb"))
      .select(lit(grain).as("grain"),
        col("na").cast("bigint").as("n_a"),
        col("nb").cast("bigint").as("n_b"),
        col("xa").cast("bigint").as("conv_a"),
        col("xb").cast("bigint").as("conv_b"),
        round(col("xa").cast("double") / nz(col("na").cast("double")), 6)
          .as("p_a"),
        round(col("xb").cast("double") / nz(col("nb").cast("double")), 6)
          .as("p_b"),
        round((col("xa").cast("double") / nz(col("na").cast("double")) -
               col("xb").cast("double") / nz(col("nb").cast("double"))) /
          nz(sqrt(pHat * (lit(1.0) - pHat) *
            (lit(1.0) / nz(col("na").cast("double")) +
             lit(1.0) / nz(col("nb").cast("double"))))), 6).as("z_score"))
    val uf = UserFrames.daily(s, sf)
    val userFlags = uf
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", col("v200"))
        .otherwise(lit(0L))).as("x"))
      .select(arm.cast("long").as("a"), lit(1L).as("n"), col("x"))
    val eventFlags = uf
      .filter(col("event_type").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("event_type") === "purchase", col("c"))
          .otherwise(lit(0L))).as("x"))
      .select(arm.cast("long").as("a"), col("n"), col("x"))
    zRow("event", eventFlags).unionByName(zRow("user", userFlags))
      .orderBy("grain")
  }

  /** Kaplan–Meier survival curve of user lifetime (days between first
    * and last event): users still active on the corpus's final day are
    * right-censored (their lifetime is a lower bound, they leave the
    * risk set without a death). S(t) multiplies (1 − d_t/n_t) over
    * event times ≤ t — the estimator every retention analysis quotes.
    *
    * Scale shape: events collapse to user-grain (first/last day) in one
    * aggregate, then to duration-grain (deaths/censored per duration) in
    * a second — the curve frame is bounded by the calendar span. The
    * risk set n_t and the running Π(1−d/n) (as exp∘Σlog, the
    * distributable form of a running product) are windows over that
    * tiny frame.
    */
  def statsSurvivalKm(s: SparkSession, sf: String): DataFrame = {
    val users = Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
    val horizon = users.agg(max(col("d1")).as("dmax"))
    val durs = users.crossJoin(broadcast(horizon))
      .select(datediff(col("d1"), col("d0")).cast("long").as("t"),
              (col("d1") < col("dmax")).cast("long").as("death"))
      .groupBy(col("t"))
      .agg(sum(col("death")).as("d"), count(lit(1)).as("c"))
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    durs
      .withColumn("n_risk",
        (sum(col("c")).over(Window.partitionBy()) -
         coalesce(sum(col("c")).over(wPrev), lit(0L))).cast("bigint"))
      // a fully-dying last risk set makes the factor 0 — Spark's log
      // returns NULL there and DuckDB's ln returns -inf, so the zero is
      // carried as an explicit flag and excluded from the log sum
      .withColumn("f", lit(1.0) - col("d").cast("double") / col("n_risk"))
      .withColumn("surv",
        when(max((col("f") <= 0.0).cast("int")).over(wRun) === 1, lit(0.0))
          .otherwise(exp(sum(when(col("f") > 0.0, log(col("f")))
            .otherwise(lit(0.0))).over(wRun))))
      .select(col("t"), col("d").cast("bigint").as("deaths"),
              col("n_risk"), round(col("surv"), 6).as("survival"))
      .orderBy("t")
  }

  /** Holt double-exponential smoothing (α = 0.5, β = 0.3, l₁ = x₁,
    * b₁ = 0) of each event type's daily purchase total — the
    * trend-aware upgrade of `timeseriesEwma`: level l_t = αx_t +
    * (1−α)(l_{t−1}+b_{t−1}), trend b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1},
    * one-step forecast l_t + b_t. The b-step re-states l_t inline
    * (rather than referencing a stored value) so the oracle's
    * struct-fold evaluates the LITERAL same expression tree.
    *
    * Scale shape: identical to the EWMA — the data-sized work is the
    * (type, day) aggregate; the recursion folds per type over
    * calendar-bounded arrays. */
  def timeseriesHolt(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    // Imperative O(days) scan replacing the O(days²) `acc || array(…)`
    // fold (r10 verdict ask #5; the timeseriesEwmVar shape). newL is
    // computed ONCE and reused in the b-step — the same double the
    // fold's inline re-statement of the identical expression tree
    // yields, so the series is bit-identical. Boxed Doubles preserve
    // the fold's null propagation (an all-null day poisons l and b
    // from that point on in both engines).
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_type"), col("d"), col("x4").as("x"))
      .as[(String, java.sql.Date, java.lang.Double)]
    daily.groupByKey(_._1)
      .flatMapGroups { (t: String, it: Iterator[(String, java.sql.Date, java.lang.Double)]) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        var l: java.lang.Double = null
        var b: java.lang.Double = null
        var first = true
        rows.iterator.map { case (_, d, x) =>
          if (first) { l = x; b = java.lang.Double.valueOf(0.0d); first = false }
          else {
            val newL: java.lang.Double =
              if (x == null || l == null || b == null) null
              else java.lang.Double.valueOf(0.5d * x + 0.5d * (l + b))
            val newB: java.lang.Double =
              if (newL == null || l == null || b == null) null
              else java.lang.Double.valueOf(0.3d * (newL - l) + 0.7d * b)
            l = newL; b = newB
          }
          (t, d, x, l, b)
        }
      }
      .toDF("event_type", "d", "x", "l", "b")
      .select(col("event_type"), col("d"),
              round(col("x"), 4).as("x"),
              round(col("l"), 6).as("level"),
              round(col("b"), 6).as("trend"),
              round(col("l") + col("b"), 6).as("forecast_next"))
      .orderBy("event_type", "d")
  }

  /** One-sided CUSUM change detection over each event type's daily
    * count series: S_t = max(0, S_{t-1} + (x_t − μ − k)) with reference
    * drift k = σ/2 — the classic upward-shift detector (a sustained
    * rate increase accumulates; noise resets to 0). μ and σ are the
    * series' own mean/stddev; the alarm flags S_t > 4σ (the h=4
    * control-limit convention).
    *
    * Scale shape: the data-sized work is the (type, day) count
    * aggregate; μ/σ are one window over the tiny daily frame, and the
    * recursive max-fold runs per type over calendar-bounded arrays —
    * same honest-recursion shape as `timeseriesEwma`, with the oracle
    * replaying the identical prefix folds.
    */
  def statsCusum(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    // Imperative O(days) scan replacing the O(days²) `acc || array(…)`
    // fold (r10 verdict ask #5). μ/σ stay WINDOW-computed (not re-summed
    // in the scan) so their doubles remain the exact values the oracle's
    // avg/stddev_samp agree with; the scan replays only the max-fold,
    // left-associated exactly like the SQL step ((prev + x) − μ) − σ/2.
    // x is a count cast to double — never null, so primitives are safe,
    // and math.max(0.0, −0.0) = +0.0 keeps the −0.0 lint clean.
    val wT = Window.partitionBy(col("event_type"))
    val daily = DailyFrames.daily(s, sf)
      .select(col("event_type"), col("d"), col("c").cast("double").as("x"))
      .withColumn("mu", avg(col("x")).over(wT))
      .withColumn("sigma", coalesce(stddev_samp(col("x")).over(wT), lit(0.0)))
      .as[(String, java.sql.Date, Double, Double, Double)]
    daily.groupByKey(_._1)
      .flatMapGroups { (t: String, it: Iterator[(String, java.sql.Date, Double, Double, Double)]) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        var c = 0.0
        rows.iterator.map { case (_, d, x, mu, sigma) =>
          c = math.max(0.0, c + x - mu - sigma / 2)
          (t, d, x, sigma, c)
        }
      }
      .toDF("event_type", "d", "x", "sigma", "c")
      .select(col("event_type"), col("d"), col("x"),
        round(col("c"), 6).as("cusum"),
        (col("c") > lit(4.0) * col("sigma")).as("alarm"))
      .orderBy("event_type", "d")
  }

  /** Last-touch attribution: each purchase is credited to the most
    * recent PRECEDING non-purchase event of the same user (strictly
    * earlier ts; ties within a timestamp break on event_id, the stream's
    * arrival order), then conversions and credited revenue roll up per
    * touch type. Purchases with no prior touch report as 'direct'.
    *
    * Scale shape: one window shuffle on user_id with a running
    * last(ignoreNulls) over (ts, event_id) order carries the latest
    * touch to each purchase row — the classic carry-forward form; the
    * rollup is a tiny per-type aggregate. No self-join, no as-of join:
    * the touch and the conversion live in the same ordered stream, so
    * the window IS the as-of.
    */
  def eventAttribution(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("value"),
        last(when(col("event_type") =!= "purchase", col("event_type")),
             ignoreNulls = true).over(w).as("touch"))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("conversions"),
           round(sum(col("value")), 4).as("attributed_value"))
      .orderBy("touch_type")
  }

  /** Delete-one-day jackknife of the ratio estimator θ = Σrevenue/Σcount
    * (mean purchase value weighted by day) per event type. The ratio is
    * the canonical NON-linear statistic where naive var/n is biased and
    * resampling earns its keep — for a plain mean the jackknife
    * collapses to var_samp/n and teaches nothing. Emits θ, the Tukey
    * jackknife standard error over the n leave-one-day-out replicates
    * θ_i = (R−r_i)/(C−c_i), and the ±1.96·SE interval.
    *
    * Scale shape: the raw scan reduces to DAY grain in one map-side-
    * combinable aggregate; every downstream step (totals window, the
    * replicate aggregate) runs on that ≤ |types|·|days| frame — bounded
    * by the calendar, not the data, so a 100× corpus only widens the
    * first aggregate. The totals join is a window over the tiny daily
    * frame partitioned by type, never a second scan of events.
    */
  def statsJackknife(s: SparkSession, sf: String): DataFrame = {
    val wType = Window.partitionBy(col("event_type"))
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_type"), col("d"), col("x4").as("r"),
              col("c").cast("double").as("c"))
    val repl = daily
      .withColumn("n", count(lit(1)).over(wType))
      .withColumn("th_i", (sum(col("r")).over(wType) - col("r")) /
                          (sum(col("c")).over(wType) - col("c")))
      .withColumn("theta", sum(col("r")).over(wType) / sum(col("c")).over(wType))
    repl.groupBy(col("event_type"))
      .agg(first(col("n")).as("n_days"),
           first(col("theta")).as("theta"),
           var_samp(col("th_i")).as("v"))
      .select(col("event_type"), col("n_days"),
        round(col("theta"), 6).as("theta"),
        round(sqrt((col("n_days") - 1) * (col("n_days") - 1) / col("n_days")
                   * col("v")), 6).as("jk_se"),
        round(col("theta") - lit(1.96) *
          sqrt((col("n_days") - 1) * (col("n_days") - 1) / col("n_days")
               * col("v")), 6).as("ci_lo"),
        round(col("theta") + lit(1.96) *
          sqrt((col("n_days") - 1) * (col("n_days") - 1) / col("n_days")
               * col("v")), 6).as("ci_hi"))
      .orderBy("event_type")
  }

  /** Sequence-pattern matching over per-user journeys — the
    * MATCH_RECOGNIZE-style question ("how often does view lead straight
    * to purchase?") expressed as regex algebra over an ordered journey
    * string: one initial per event (s/c/e/v/p, all five types distinct),
    * then non-overlapping regexp counts for the direct-conversion
    * pattern `vp`, the assisted pattern `vc+p`, and whether the journey
    * ever errors before first purchase. Literal-class regexes keep
    * Java and RE2-ish engines agreeing exactly.
    *
    * Scale shape: ONE user-grain sort-aggregate builds each journey
    * (sort_array over collected structs — the per-group data, not a
    * global sort), and the regex work is per-row codegen'd string ops.
    * Journey length is events-per-user; at 100 TB a per-user cap (slice
    * of the first N events) bounds the string — the aggregate itself
    * already partial-combines map-side. Users here are few and long,
    * the skew-worst-case for this shape, which is exactly what the key
    * is meant to exercise.
    */
  def eventSequencePattern(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
               substring(col("event_type"), 1, 1).as("i")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_join(transform(sort_array(collect_list(col("e"))),
             e => e.getField("i")), "").as("journey"))
      .select(col("user_id"),
        length(col("journey")).cast("bigint").as("n_events"),
        regexp_count(col("journey"), lit("vp")).cast("bigint").as("n_direct_vp"),
        regexp_count(col("journey"), lit("vc+p")).cast("bigint").as("n_assisted"),
        (regexp_instr(col("journey"), lit("e")) > lit(0) &&
         (regexp_instr(col("journey"), lit("p")) === lit(0) ||
          regexp_instr(col("journey"), lit("e")) <
            regexp_instr(col("journey"), lit("p")))).as("error_before_purchase"))
      .orderBy("user_id")

  /** Poisson bootstrap of the mean purchase value — the RESAMPLING-AT-
    * SCALE pattern (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012): instead of materializing R
    * resamples, each row draws a Poisson(1) weight per replicate and
    * every replicate mean is a weighted aggregate in ONE pass. Weights
    * come from a seeded integer LCG inverted through the Poisson CDF
    * (thresholds at 6-digit precision), so both engines draw the SAME
    * resample and the whole Monte-Carlo procedure stays hash-checked —
    * randomness is replayed, never re-rolled. Emits the plain estimate,
    * the bootstrap SE (stddev over R=32 replicate means), and the
    * normal-approximation 95% CI.
    *
    * Scale shape: the replicate axis is a 32-wide explode (constant
    * fan-out, no shuffle), and each replicate mean partial-aggregates
    * map-side into a 32-row frame — the shuffle carries 32·partitions
    * rows regardless of data size. The scalar base stats ride along via
    * a broadcast-scalar crossJoin, never a driver collect. The LCG
    * seeds off event_id mod a prime below 10⁶, so the 64-bit product
    * never overflows even at snowflake-scale ids.
    */
  def statsBootstrapCi(s: SparkSession, sf: String): DataFrame = {
    val p = Tables.events(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
    val h = ((col("event_id") % 999983L) * 1103515245L +
             col("rep") * 12345L + 6789L) % 1000000L
    // Poisson(1) inverse CDF at 6-digit thresholds: P(X<=k) for k=0..6
    val wt = when(h < 367879L, 0L).when(h < 735759L, 1L)
      .when(h < 919699L, 2L).when(h < 981012L, 3L)
      .when(h < 996340L, 4L).when(h < 999406L, 5L)
      .when(h < 999917L, 6L).otherwise(7L)
    val repMeans = p
      .withColumn("rep", explode(expr("sequence(1L, 32L)")))
      .withColumn("wt", wt)
      .groupBy(col("rep"))
      .agg((sum(col("wt") * col("value")) / sum(col("wt"))).as("mu"))
    val boot = repMeans.agg(avg(col("mu")).as("boot_mean"),
                            stddev_samp(col("mu")).as("se"))
    p.agg(count(lit(1)).as("n_purchases"), avg(col("value")).as("mean_value"))
      .crossJoin(boot)
      .select(col("n_purchases"),
        round(col("mean_value"), 6).as("mean_value"),
        lit(32L).as("n_reps"),
        round(col("boot_mean"), 6).as("boot_mean"),
        round(col("se"), 6).as("boot_se"),
        round(col("mean_value") - lit(1.96) * col("se"), 6).as("ci_lo"),
        round(col("mean_value") + lit(1.96) * col("se"), 6).as("ci_hi"))
  }

  /** Supervised-learning feature generation over the per-type daily
    * revenue series: calendar lags (1 and 7 days), the trailing 7-row
    * rolling mean/min/max, and day-over-day delta / percent change —
    * the standard tabular-forecasting feature block a training-data
    * pipeline emits before model fitting.
    *
    * Scale shape: the events scan reduces to day grain FIRST (map-side
    * combinable), and every window runs partitioned by event_type over
    * that calendar-bounded frame — no global window, no join. At 100 TB
    * a per-entity variant would partition by (entity, type) with the
    * same shape; the per-partition series length stays calendar-bounded
    * either way.
    */
  def timeseriesLagFeatures(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val w7 = w.rowsBetween(-6, 0)
    DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("x"))
      .select(col("event_type"), col("d"), col("x"),
        lag(col("x"), 1).over(w).as("lag_1"),
        lag(col("x"), 7).over(w).as("lag_7"),
        round(avg(col("x")).over(w7), 6).as("roll_mean_7"),
        min(col("x")).over(w7).as("roll_min_7"),
        max(col("x")).over(w7).as("roll_max_7"),
        round(col("x") - lag(col("x"), 1).over(w), 6).as("delta_1"),
        round((col("x") - lag(col("x"), 1).over(w)) /
              nullif(lag(col("x"), 1).over(w), lit(0.0)), 6).as("pct_change_1"))
      .orderBy("event_type", "d")
  }

  /** Linear gap interpolation over the daily grid — the third standard
    * imputation policy next to `timeseriesResample`'s zero-fill and
    * `timeseriesFfill`'s carry-forward: a missing day takes the value
    * on the straight line between its nearest observed neighbors
    * (metrics/telemetry semantics, "the signal moved smoothly through
    * the gap"). The grid spans each user's first..last observed day, so
    * interior gaps always have both anchors; the boundary fallbacks
    * still guard the degenerate single-observation user.
    *
    * Scale shape: the `userPurchaseDays` grid, plus TWO
    * `last/first(ignoreNulls)` windows per user carrying (day, value)
    * anchor structs — both partitioned by user_id in the SAME
    * clustering, so the second window reuses the first's exchange and
    * sort (one shuffle total past the grid join); frames are
    * running-unbounded in one direction each (O(1) state per row).
    */
  def timeseriesInterpolate(s: SparkSession, sf: String): DataFrame = {
    val wBack = Window.partitionBy(col("user_id")).orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("user_id")).orderBy(col("d").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val anchor = userPurchaseDays(s, sf)
      .select(col("user_id"), col("d"), col("day_value"),
        last(when(col("day_value").isNotNull,
          struct(col("d").as("pd"), col("day_value").as("pv"))),
          ignoreNulls = true).over(wBack).as("p"),
        first(when(col("day_value").isNotNull,
          struct(col("d").as("nd"), col("day_value").as("nv"))),
          ignoreNulls = true).over(wFwd).as("n"))
    anchor.select(col("user_id"), col("d"),
        round(
          when(col("day_value").isNotNull, col("day_value"))
            .when(col("p").isNull, col("n.nv"))
            .when(col("n").isNull, col("p.pv"))
            .otherwise(col("p.pv") + (col("n.nv") - col("p.pv")) *
              datediff(col("d"), col("p.pd")).cast("double") /
              datediff(col("n.nd"), col("p.pd"))), 6).as("filled_value"),
        col("day_value").isNotNull.as("observed"))
      .orderBy("user_id", "d")
  }

  /** Benjamini–Hochberg FDR correction — the multiple-testing control
    * every profiling sweep needs once it fires one hypothesis per cell:
    * here, "does this (event_type, hour-of-day) cell's mean purchase
    * size differ from its type's overall mean" (a one-sample z against
    * the type mean, normal CDF via the Abramowitz–Stegun 7.1.26
    * polynomial — closed-form arithmetic both engines replay
    * identically). BH then ranks the m p-values ascending and adjusts
    * p_(i) → min_{j≥i} p_(j)·m/j, the step-up procedure that bounds the
    * expected false-discovery rate at the chosen level.
    *
    * Scale shape: the data-sized pass is ONE HashAggregate to
    * (type, hour) grain (map-side combinable) plus a broadcast join of
    * the type-grain moments; everything after runs at HYPOTHESIS grain
    * — m is bounded by construction (|types|·24), so the global
    * rank/running-min windows touch ≤ m rows regardless of corpus
    * size. That is the structural difference from the ks/mann-whitney
    * rewrite: BH's sequential step is over hypotheses, not data. Cell
    * means are rounded to 4 before the z so both engines rank
    * identical doubles (the repo's daily-sum convention).
    */
  def statsBenjaminiHochberg(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.events(s, sf)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    // moments via EXACT decimal sums cast once to double: value carries
    // 2 decimals, so sum(DECIMAL) and sum(DECIMAL²) are order-free
    // exact on both engines; the old round(avg,4)/round(stddev,4)
    // pre-rounding hit a 4-decimal boundary at sf0.001 (engines' sum
    // orders differ ~1e-11) and flipped p by 4e-6
    val v2 = col("value").cast("decimal(18,2)")
    val cells = base
      .groupBy(col("event_type"), hour(col("ts")).cast("bigint").as("hh"))
      .agg(count(lit(1)).cast("bigint").as("n"),
           (sum(v2).cast("double") / count(lit(1))).as("cell_mean"))
    val typ = base.groupBy(col("event_type"))
      .agg((sum(v2).cast("double") / count(lit(1))).as("mu"),
           sqrt(greatest(lit(0.0),
             (sum((v2 * v2).cast("decimal(38,4)")).cast("double") -
               sum(v2).cast("double") * sum(v2).cast("double") /
                 count(lit(1))) / (count(lit(1)) - lit(1))))
             .as("sigma"))
    val z = cells.join(broadcast(typ), Seq("event_type"))
      .withColumn("z",
        (col("cell_mean") - col("mu")) / (col("sigma") / sqrt(col("n"))))
      // two-sided p via A&S 7.1.26 — the identical literal polynomial
      // runs in the oracle, so p is the same double on both engines
      .withColumn("p", expr(
        """least(1.0, 2.0 * (0.3989422804014327 * exp(-abs(z) * abs(z) / 2) *
          |  ((1.0 / (1.0 + 0.2316419 * abs(z))) * (0.319381530 +
          |   (1.0 / (1.0 + 0.2316419 * abs(z))) * (-0.356563782 +
          |   (1.0 / (1.0 + 0.2316419 * abs(z))) * (1.781477937 +
          |   (1.0 / (1.0 + 0.2316419 * abs(z))) * (-1.821255978 +
          |   (1.0 / (1.0 + 0.2316419 * abs(z))) * 1.330274429)))))))"""
          .stripMargin))
    val m = z.agg(count(lit(1)).cast("bigint").as("m"))
    val wRank = Window.orderBy(col("p").asc, col("event_type").asc,
                               col("hh").asc)
    val wStep = Window.orderBy(col("p").desc, col("event_type").desc,
                               col("hh").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    z.crossJoin(broadcast(m))
      .withColumn("r", row_number().over(wRank).cast("bigint"))
      .withColumn("p_adj",
        least(lit(1.0), min(col("p") * col("m") / col("r")).over(wStep)))
      .select(col("event_type"), col("hh"), col("n"),
              round(col("z"), 4).as("z"),
              round(col("p"), 6).as("p_value"),
              round(col("p_adj"), 6).as("p_adj"),
              (col("p_adj") <= 0.10).as("significant"))
      .orderBy("event_type", "hh")
  }

  /** Weekday seasonality profile — the decomposition step between the
    * lag-feature block and a forecast: each (event_type, weekday)'s
    * mean daily total over the type's overall mean daily total, the
    * multiplicative seasonal index (index > 1 = that weekday runs
    * hot). Weekday is Sunday-based 0..6 — Spark's `dayofweek`−1
    * equals DuckDB's `dayofweek`, the one calendar convention the two
    * engines share exactly.
    *
    * Scale shape: day-grain HashAggregate first (map-side combinable),
    * then a ≤ |types|·7-row aggregate; the per-type denominator is a
    * window over the tiny weekday frame — no second scan, no global
    * window at data grain.
    */
  def timeseriesSeasonality(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("x"))
    val byDow = daily
      .groupBy(col("event_type"),
               (dayofweek(col("d")) - 1).cast("bigint").as("dow"))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
           avg(col("x")).as("avg_x"))
    val wType = Window.partitionBy(col("event_type"))
    byDow
      .withColumn("overall",
        sum(col("avg_x") * col("n_days")).over(wType) /
          sum(col("n_days")).over(wType))
      .select(col("event_type"), col("dow"), col("n_days"),
              round(col("avg_x"), 6).as("avg_value"),
              round(col("avg_x") / col("overall"), 6).as("seasonal_index"))
      .orderBy("event_type", "dow")
  }

  /** Theil–Sen robust trend — the median-of-pairwise-slopes estimator
    * next to `statsTrendRegression`'s OLS: immune to the outlier days
    * that drag a least-squares slope (breakdown point ~29%). Slopes
    * are computed over integer day offsets from each type's first day,
    * so the pair algebra is integer-exact until the one division.
    *
    * Scale shape: the pair space is the day-grain SELF-join per type —
    * Σ days² per type, calendar-bounded (a decade is ~3.7k days →
    * ~7 M pairs per type, a partition not a problem), never data-sized.
    * The median is Spark's exact `percentile` (the same p·(n−1)
    * interpolation DuckDB's quantile_cont uses) over the per-type pair
    * groups — partial-aggregatable buffers, no global sort. At true
    * streaming scale the standard fallback is the repeated-median or a
    * sampled pair subset; the day-bounded exact form is right here.
    */
  def statsTheilSen(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("y"))
      .withColumn("x",
        datediff(col("d"),
          min(col("d")).over(Window.partitionBy(col("event_type"))))
          .cast("bigint"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
        col("a.x") < col("b.x"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.y") - col("a.y")) /
         (col("b.x") - col("a.x")).cast("double")).as("slope"))
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
           round(expr("percentile(slope, 0.5)"), 6).as("theil_slope"))
      .orderBy("event_type")
  }

  /** Funnel latency — the time dimension `funnelStages` (pure counts)
    * does not see: per user, the whole-day gap between the FIRST view
    * and the first purchase at-or-after it, summarized as conversion
    * counts plus min/mean/max days-to-convert. Day grain keeps the
    * latency integer-exact on both engines (no sub-second epoch
    * truncation semantics to reconcile).
    *
    * Scale shape: two map-side-combinable min-aggregates to user grain
    * (the purchase side pre-filters to purchases BEFORE the join), one
    * user-grain hash join between them, and a single-row final
    * aggregate with partial combine. Nothing data-sized survives past
    * the user-grain aggregates.
    */
  def eventFunnelTime(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf).filter(col("user_id").isNotNull)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vt"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val pAfter = firstView.join(purchases, Seq("user_id"))
      .filter(col("ts") >= col("vt"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("pt"))
    val conv = firstView.join(pAfter.select("user_id", "pt"),
        Seq("user_id"), "left")
      .select(col("user_id"),
              datediff(to_date(col("pt")), to_date(col("vt")))
                .cast("bigint").as("days"))
    conv.agg(
        count(lit(1)).cast("bigint").as("n_viewers"),
        count(col("days")).cast("bigint").as("n_converted"),
        round(count(col("days")).cast("double") / count(lit(1)), 6)
          .as("conv_rate"),
        min(col("days")).as("min_days"),
        round(avg(col("days")), 6).as("avg_days"),
        max(col("days")).as("max_days"))
  }

  /** Distributed midrank (average rank over ties) of `valCol` within
    * each `grp` partition, at distinct-value grain, from
    * [[Windows.bucketPrefix]] partitioned by `grp`: midrank =
    * cum_before + (ties+1)/2.
    * Returns (grp, value, midrank); midranks are exact .0/.5 doubles,
    * so downstream arithmetic is engine-stable. */
  private def midranks(df: DataFrame, grp: String, valCol: String): DataFrame = {
    val byVal = df.groupBy(col(grp), col(valCol).as("value"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bkt", Windows.valueBucket(col("value")))
    Windows.bucketPrefix(byVal, "bkt", Seq(col("value").asc), Seq("cnt"),
        partition = Seq(grp))
      .select(col(grp), col("value"),
        (col("cnt_before") + (col("cnt") + 1) / lit(2.0)).as("midrank"))
  }

  /** Spearman rank correlation between quantity and extended price per
    * return flag — the monotone-association companion to Pearson
    * (`profileCorrMatrix`): rank both variables with average ranks over
    * ties, then Pearson-correlate the ranks. Robust to the price
    * outliers and nonlinearity that distort raw-value correlation; the
    * tie handling matters here because quantity has only ~50 distinct
    * values (massive tie groups whose naive rank would bias ρ).
    *
    * Scale shape: ranks come from the bucketed-prefix midrank
    * decomposition — distinct-value grain, NO global window (the exact
    * shape the round-7 verdict required of ks/mann-whitney) — but
    * unlike the classic rank-then-join-back plan, rows are NEVER
    * rejoined to a row-sized rank frame. The quantity midranks are
    * distinct-value grain (~50 values × 3 flags), double to exact
    * integers (2·midrank), and BROADCAST onto the scan; the ONE
    * data-sized shuffle is the groupBy to (flag, price) grain, which
    * carries each price's row count and its exact Σ2rq / Σ(2rq)²
    * partial moments. Price midranks are then computed ON that
    * distinct-price frame in place ([[Windows.bucketPrefix]],
    * 2·midrank = 2·cum_before + ties + 1 — all integer), and ρ comes from six moment sums kept EXACT in
    * DECIMAL(38,0) (the stats_hurst ladder; doubled midranks are
    * integers, so every addend is an integer and the sums are
    * order-free on both engines — corr()'s FP co-moments would not
    * be). The closed form runs the identical IEEE double expression
    * tree on Spark and DuckDB over identical exact integers, so only
    * the final ρ rounds. Scaling both rank vectors by 2 leaves the
    * correlation unchanged.
    */
  def statsSpearman(s: SparkSession, sf: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val base = Tables.lineitem(s, sf)
      .select(col("l_returnflag").as("f"),
        round(col("l_quantity").cast("double"), 4).as("q"),
        round(col("l_extendedprice").cast("double"), 4).as("p"))
    val rq2 = midranks(base.select(col("f"), col("q")), "f", "q")
      .select(col("f"), col("value").as("q"),
        (col("midrank") * 2).cast("long").as("rq2"))
    val byP = base.join(broadcast(rq2), Seq("f", "q"))
      .groupBy(col("f"), col("p"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("rq2").cast(d19)).as("sq"),
           sum(col("rq2").cast(d19) * col("rq2").cast(d19)).as("sqq"))
      .withColumn("bkt", Windows.valueBucket(col("p")))
    val withRp = Windows.bucketPrefix(byP, "bkt", Seq(col("p").asc),
        Seq("cnt"), partition = Seq("f"))
      .withColumn("rp2",
        lit(2L) * col("cnt_before") + col("cnt") + lit(1L))
    val nD = col("n").cast("double")
    def mD(c: String) = col(c).cast("double")
    withRp.groupBy(col("f"))
      .agg(sum(col("cnt")).cast("bigint").as("n"),
           sum(col("sq")).as("sx"),
           sum(col("sqq")).as("sxx"),
           sum(col("cnt").cast(d19) * col("rp2").cast(d19)).as("sy"),
           sum(col("cnt").cast(d19) *
               (col("rp2").cast(d19) * col("rp2").cast(d19))).as("syy"),
           sum(col("sq") * col("rp2").cast(d19)).as("sxy"))
      .select(col("f").as("l_returnflag"), col("n"),
        round(
          (nD * mD("sxy") - mD("sx") * mD("sy")) /
            nullif(sqrt(
              (nD * mD("sxx") - mD("sx") * mD("sx")) *
              (nD * mD("syy") - mD("sy") * mD("sy"))), lit(0.0d)),
          6).as("spearman_rho"))
      .orderBy("l_returnflag")
  }

  /** 7-day rolling median of each event type's daily value total — the
    * robust companion to `winRolling7d`'s mean: a single spike day
    * shifts a rolling mean for a week but leaves the rolling median
    * untouched, which is why ops dashboards alert on the median line.
    * The frame is calendar-based (RANGE on the day index, 6 preceding),
    * so gap days genuinely shrink the window rather than silently
    * stretching it over older rows.
    *
    * Scale shape: events collapse to the (type, day) grain first — the
    * only data-sized aggregate (map-side combinable); the median window
    * runs on the daily frame, partitioned by type and calendar-bounded
    * (a decade ≈ 3.7k rows per partition), never data-sized. `percentile`
    * holds the ≤7 in-frame values only. Same grain discipline as
    * statsAutocorr/timeseriesEwma.
    */
  def timeseriesRollingMedian(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("day_value"))
      .withColumn("day_idx", datediff(col("d"), lit("1970-01-01")).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx").asc)
      .rangeBetween(-6, 0)
    daily
      .select(col("event_type"), col("d"), col("day_value"),
        round(expr("percentile(day_value, 0.5)").over(w), 6)
          .as("rolling_median_7d"),
        count(lit(1)).over(w).cast("bigint").as("n_in_window"))
      .orderBy("event_type", "d")
  }

  /** Cohen's kappa between two deterministic document-quality raters —
    * the agreement statistic that discounts chance: rater A keeps docs
    * with ≥ 50 words (the Gopher-style length gate), rater B keeps docs
    * whose distinct-word ratio is ≥ 0.5 (the repetition gate). Raw
    * agreement p_o overstates consensus when both raters keep almost
    * everything; κ = (p_o − p_e)/(1 − p_e) normalizes by the agreement
    * their marginal keep-rates would produce by chance. The 2×2
    * confusion counts are emitted alongside κ so the caller sees WHERE
    * the raters disagree, not just how much.
    *
    * Scale shape: both flags are pure column expressions at scan speed;
    * the whole statistic is ONE single-row aggregate of four boolean
    * counts (partial+final combine) — integer-exact until the two final
    * divisions, so both engines agree bit-for-bit. The marginal products
    * stay in int64 up to ~3e9 docs (n² bound); past that, divide each
    * marginal by n BEFORE multiplying (p_e as a product of rates).
    */
  def statsCohensKappa(s: SparkSession, sf: String): DataFrame = {
    val w = split(col("text"), " ")
    val flags = Tables.documents(s, sf)
      .filter(col("text").isNotNull)
      .select(
        (size(w) >= 50).as("a"),
        (size(array_distinct(w)).cast("double") / size(w) >= 0.5).as("b"))
    flags.agg(
        count(lit(1)).cast("bigint").as("n"),
        sum((col("a") && col("b")).cast("long")).cast("bigint").as("n_both_keep"),
        sum((col("a") && !col("b")).cast("long")).cast("bigint").as("n_a_only"),
        sum((!col("a") && col("b")).cast("long")).cast("bigint").as("n_b_only"),
        sum((!col("a") && !col("b")).cast("long")).cast("bigint").as("n_both_drop"))
      .select(col("n"), col("n_both_keep"), col("n_a_only"), col("n_b_only"),
        col("n_both_drop"),
        round((col("n_both_keep") + col("n_both_drop")).cast("double") /
          col("n"), 6).as("p_observed"),
        round(((col("n_both_keep") + col("n_a_only")) *
               (col("n_both_keep") + col("n_b_only")) +
               (col("n_b_only") + col("n_both_drop")) *
               (col("n_a_only") + col("n_both_drop"))).cast("double") /
          (col("n") * col("n")), 6).as("p_expected"))
      .withColumn("kappa",
        round((col("p_observed") - col("p_expected")) /
              (lit(1.0) - col("p_expected")), 6))
  }

  /** Levene's test (mean-centered, the 1960 original) for variance
    * homogeneity across event types — the assumption check run BEFORE
    * trusting `statsAnova`'s F (ANOVA assumes equal group variances;
    * when Levene rejects, the analyst switches to Welch). The statistic
    * is itself a one-way ANOVA F computed on the absolute deviations
    * z = |x − x̄_g| from each group's (4-rounded) mean.
    *
    * Scale shape: two data-sized passes — the group-mean HashAggregate
    * (map-side combinable) broadcast back onto the scan, then ONE
    * moments aggregate over the deviations; the F assembles from the
    * ≤|types|-row summary exactly like statsAnova. The median-centered
    * Brown–Forsythe variant needs a distributed median per group (the
    * midranks/bucketed-prefix machinery); the mean form is the one
    * that stays a pure two-aggregate plan.
    */
  def statsLevene(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.events(s, sf)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val means = base.groupBy(col("event_type"))
      .agg(round(avg(col("value")), 4).as("mu"))
    val wAll = Window.partitionBy()
    base.join(broadcast(means), Seq("event_type"))
      .select(col("event_type"), abs(col("value") - col("mu")).as("z"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("z")).as("mz"),
           var_samp(col("z")).as("vz"))
      .select(
        sum(col("n")).over(wAll).as("n_total"),
        count(lit(1)).over(wAll).as("k"),
        (sum(col("n") * col("mz")).over(wAll) / sum(col("n")).over(wAll))
          .as("gm"),
        col("n"), col("mz"), col("vz"))
      .groupBy(col("n_total"), col("k"), col("gm"))
      .agg(sum(col("n") * pow(col("mz") - col("gm"), 2)).as("ssb"),
           sum((col("n") - 1) * col("vz")).as("ssw"))
      .select(col("n_total").cast("bigint").as("n_total"),
        col("k").cast("bigint").as("k_groups"),
        round(col("ssb"), 4).as("ss_between"),
        round(col("ssw"), 4).as("ss_within"),
        round((col("ssb") / (col("k") - 1)) /
              (col("ssw") / (col("n_total") - col("k"))), 6).as("w_stat"))
  }

  /** Wilcoxon signed-rank test on paired daily view vs purchase counts —
    * the nonparametric paired companion to `experimentTtest`: are daily
    * view and purchase volumes systematically offset, judged by the
    * ranks of |difference| rather than its (outlier-fragile) magnitude?
    * Days with a zero difference drop (the standard treatment); W⁺/W⁻
    * are the signed midrank sums; z is the large-sample normal
    * approximation (n > 20 holds for any yearly corpus).
    *
    * Scale shape: events collapse to the (day, type) count grain first
    * — the only data-sized aggregate (map-side combinable). Everything
    * after — the pivot to per-day pairs, |diff| midranks, and the two
    * rank sums — runs on the DAY-grain frame, calendar-bounded (a
    * decade ≈ 3.7k rows), the same grain discipline as statsAutocorr;
    * the rank window is bounded by the calendar, never data-sized.
    * Counts are integers, so ranks are exact half-integers.
    */
  def statsWilcoxonSignedRank(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum((col("event_type") === "view").cast("long")).as("nv"),
           sum((col("event_type") === "purchase").cast("long")).as("np"))
      .select(col("d"), (col("nv") - col("np")).as("diff"))
      .filter(col("diff") =!= 0)
    val wRank = Window.orderBy(abs(col("diff")).asc)
    val wTies = Window.partitionBy(abs(col("diff")))
    val ranked = daily.select(col("diff"),
      (rank().over(wRank) + (count(lit(1)).over(wTies) - 1) / lit(2.0))
        .as("r"))
    ranked.agg(
        count(lit(1)).cast("bigint").as("n_pairs"),
        sum(when(col("diff") > 0, col("r")).otherwise(0.0)).as("wp"),
        sum(when(col("diff") < 0, col("r")).otherwise(0.0)).as("wm"))
      .select(col("n_pairs"), round(col("wp"), 6).as("w_plus"),
        round(col("wm"), 6).as("w_minus"),
        round((col("wp") - col("n_pairs") * (col("n_pairs") + 1) / 4.0) /
          sqrt(col("n_pairs") * (col("n_pairs") + 1) *
               (col("n_pairs") * 2 + 1) / 24.0), 6).as("z_stat"))
  }

  /** Mann–Kendall trend test on each event type's daily value series —
    * the hypothesis-test companion to `statsTheilSen`'s slope estimate
    * (the two are literally paired in every environmental/ops trend
    * methodology): S counts concordant-minus-discordant day pairs, the
    * variance gets the tie correction over equal daily sums, and z uses
    * the ±1 continuity correction. S is a sum of {-1,0,1} — integer-
    * exact, so only variance and z round.
    *
    * Scale shape: same day-grain self-join pair space as Theil–Sen —
    * calendar-bounded (Σ days² per type), never data-sized; the tie
    * spectrum is a ≤days-row aggregate joined back at type grain. The
    * sequential O(n log n) merge-count formulation matters only when
    * "days" is replaced by raw observations; at day grain the pair join
    * is the simpler plan and embarrassingly parallel.
    */
  def statsMannKendall(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("y"))
    val sPairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
        col("a.d") < col("b.d"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.y") > col("a.y"), 1L)
            .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s_stat"))
    val nDays = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val ties = daily.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_corr"))
    sPairs.join(broadcast(nDays), Seq("event_type"))
      .join(broadcast(ties), Seq("event_type"))
      .withColumn("var_s",
        (col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tie_corr"))
          / lit(18.0))
      .select(col("event_type"), col("n").cast("bigint").as("n_days"),
        col("s_stat").cast("bigint").as("s_stat"),
        round(col("var_s"), 4).as("var_s"),
        round(
          when(col("s_stat") > 0, (col("s_stat") - 1) / sqrt(col("var_s")))
            .when(col("s_stat") < 0, (col("s_stat") + 1) / sqrt(col("var_s")))
            .otherwise(0.0), 6).as("z_stat"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz runs test on the daily view-vs-purchase sign
    * sequence — the randomness check behind `statsWilcoxonSignedRank`'s
    * paired diffs: too FEW runs of like sign mean the imbalance drifts
    * (autocorrelated regimes), too many mean oscillation; either breaks
    * the independence the signed-rank p-value assumes. Counts are
    * integers; runs are integer; only the closed-form moments round.
    *
    * Scale shape: one data-sized (day, type) count aggregate, then the
    * run boundary count is a lag window over the DAY-grain sign series
    * — calendar-bounded like every sequential day-grain op here
    * (statsAutocorr discipline).
    */
  def statsRunsTest(s: SparkSession, sf: String): DataFrame = {
    val signs = Tables.events(s, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("d"))
      .agg((sum((col("event_type") === "view").cast("long")) -
            sum((col("event_type") === "purchase").cast("long"))).as("diff"))
      .filter(col("diff") =!= 0)
      .select(col("d"), signum(col("diff")).cast("long").as("sgn"))
    val w = Window.orderBy(col("d").asc)
    val runs = signs
      .select(col("sgn"),
        when(lag(col("sgn"), 1).over(w).isNull ||
             lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L)
          .otherwise(0L).as("boundary"))
    runs.agg(
        sum((col("sgn") === 1).cast("long")).cast("bigint").as("n_pos"),
        sum((col("sgn") === -1).cast("long")).cast("bigint").as("n_neg"),
        sum(col("boundary")).cast("bigint").as("n_runs"))
      .select(col("n_pos"), col("n_neg"), col("n_runs"),
        round(lit(1.0) + (col("n_pos") * col("n_neg") * 2).cast("double") /
          (col("n_pos") + col("n_neg")), 6).as("expected_runs"),
        round((col("n_runs") -
            (lit(1.0) + (col("n_pos") * col("n_neg") * 2).cast("double") /
             (col("n_pos") + col("n_neg")))) /
          sqrt((col("n_pos") * col("n_neg") * 2).cast("double") *
               (col("n_pos") * col("n_neg") * 2 - col("n_pos") - col("n_neg")) /
               (pow((col("n_pos") + col("n_neg")).cast("double"), 2) *
                (col("n_pos") + col("n_neg") - 1))), 6).as("z_stat"))
  }


  /** Effect size for the md5-arm experiment — the number every test
    * statistic in this family (t, KS, Mann–Whitney, proportion z) needs
    * next to it before anyone acts: Cohen's d on the pooled standard
    * deviation plus the small-sample Hedges' g correction
    * (1 − 3/(4df − 1)). A tiny p-value with d = 0.02 ships nothing.
    * Group moments are 4-rounded (the corpus-sized-sum convention), so
    * the closed form runs on identical doubles.
    *
    * Scale shape: ONE map-side-combinable moments aggregate at arm
    * grain; everything after is scalar algebra on a two-row frame.
    */
  def statsEffectSize(s: SparkSession, sf: String): DataFrame = {
    Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull
        && col("value").isNotNull)
      .select(arm.as("a"), col("value"))
      .agg(
        sum(col("a").cast("long")).cast("bigint").as("n_a"),
        sum((!col("a")).cast("long")).cast("bigint").as("n_b"),
        round(avg(when(col("a"), col("value"))), 4).as("m_a"),
        round(avg(when(!col("a"), col("value"))), 4).as("m_b"),
        round(var_samp(when(col("a"), col("value"))), 4).as("v_a"),
        round(var_samp(when(!col("a"), col("value"))), 4).as("v_b"))
      .withColumn("pooled_sd",
        round(sqrt(((col("n_a") - 1) * col("v_a") +
                    (col("n_b") - 1) * col("v_b")) /
                   (col("n_a") + col("n_b") - 2)), 6))
      .withColumn("cohens_d",
        round((col("m_a") - col("m_b")) / col("pooled_sd"), 6))
      .withColumn("hedges_g",
        round(col("cohens_d") *
          (lit(1.0) - lit(3.0) /
            (lit(4.0) * (col("n_a") + col("n_b") - 2) - 1)), 6))
  }

  /** ROC AUC of "event value discriminates purchases" — the rank-based
    * evaluation metric every trained quality/relevance scorer in a data
    * pipeline is judged by, computed through the Mann–Whitney identity
    * AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻) with midranks over ties.
    * Midranks are exact half-integers and every partial sum stays far
    * below 2⁵³, so the rank sum is EXACT on both engines regardless of
    * accumulation order — the one data-sized sum here carries no FP
    * noise at all.
    *
    * Scale shape: ranks ride the distributed `midranks` helper
    * (bucketed prefix, no global window — the constant group column
    * degenerates the offset frame to bucket-count rows), joined back at
    * (score) grain; the AUC assembles from one three-number aggregate.
    */
  def statsRocAuc(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.events(s, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(lit("all").as("g"), round(col("value"), 4).as("sc"),
        (col("event_type") === "purchase").as("y"))
    val mr = midranks(base.select(col("g"), col("sc")), "g", "sc")
      .select(col("g"), col("value").as("sc"), col("midrank"))
    base.join(mr, Seq("g", "sc"))
      .agg(
        sum(col("y").cast("long")).cast("bigint").as("n_pos"),
        sum((!col("y")).cast("long")).cast("bigint").as("n_neg"),
        sum(when(col("y"), col("midrank")).otherwise(0.0)).as("rsum"))
      .select(col("n_pos"), col("n_neg"),
        round((col("rsum") - col("n_pos") * (col("n_pos") + 1) / 2.0) /
          (col("n_pos").cast("double") * col("n_neg")), 6).as("auc"))
  }

  /** Tukey–Kramer HSD — the post-hoc that answers what
    * `stats_anova`'s F cannot: WHICH event-type pairs differ in mean
    * value. All 10 pairwise mean differences against the studentized-
    * range yardstick q = |m̄ᵢ − m̄ⱼ| / √((MSE/2)(1/nᵢ + 1/nⱼ)), flagged
    * at q₀.₀₅,₅,∞ = 3.858 (shared literal) — the familywise-safe
    * pairwise readout, where 10 naive t-tests would inflate α.
    *
    * Determinism: values ride integer 1e-4 units so every group moment
    * is exact; per-group SSW is an exact-ratio double and the k-term
    * pooled sum is a seeded fold in type order; means round at 6
    * before the pairwise arithmetic.
    *
    * Scale shape: one (type) moment aggregate off the scan, a ≤ k-row
    * fold, and a k²-row broadcast self-join — nothing else. */
  def statsTukeyHsd(s: SparkSession, sf: String): DataFrame = {
    val g = Tables.events(s, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        round(round(col("value"), 4) * 10000d).cast("long").as("xi"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("s1"),
        sum(col("xi").cast("decimal(19,0)") * col("xi").cast("decimal(19,0)"))
          .as("s2"))
      .withColumn("mean", round(col("s1").cast("double") /
        col("n").cast("double") / lit(10000.0d), 6))
      // within-group sum of squares, exact inputs -> identical double
      .withColumn("ssw", (col("n").cast("decimal(38,0)") * col("s2") -
          col("s1").cast("decimal(19,0)") * col("s1").cast("decimal(19,0)"))
          .cast("double") / col("n").cast("double"))
    val mse = broadcast(g
      .groupBy()
      .agg(sum(col("n")).as("bign"), count(lit(1)).as("k"),
        sort_array(collect_list(struct(col("event_type"), col("ssw"))))
          .as("s"))
      .select(round(expr("aggregate(s, cast(0.0 as double)," +
          " (acc, r) -> acc + r.ssw)") /
        nullif((col("bign") - col("k")).cast("double"), lit(0.0d)) /
        lit(100000000.0d), 6).as("mse")))
    val a = g.select(col("event_type").as("t1"), col("n").as("n1"),
      col("mean").as("m1"))
    val b = g.select(col("event_type").as("t2"), col("n").as("n2"),
      col("mean").as("m2"))
    a.join(b, col("t1") < col("t2")).crossJoin(mse)
      .select(col("t1"), col("t2"),
        col("n1").cast("bigint").as("n1"), col("n2").cast("bigint").as("n2"),
        col("m1").as("mean_1"), col("m2").as("mean_2"),
        round(col("m1") - col("m2"), 6).as("diff"),
        round(abs(col("m1") - col("m2")) /
          nullif(sqrt(col("mse") / 2.0d *
            (lit(1.0d) / col("n1").cast("double") +
             lit(1.0d) / col("n2").cast("double"))), lit(0.0d)), 6)
          .as("q_stat"))
      .withColumn("significant", col("q_stat") > 3.858d)
      .orderBy("t1", "t2")
  }

  /** DeLong standard error of the ROC AUC — the inference layer over
    * [[statsRocAuc]]: the AUC is a two-sample U-statistic, and DeLong's
    * structural components give its variance without bootstrap:
    * each positive's PLACEMENT among negatives (and vice versa),
    * Var(AUC) = S₁₀/n₁ + S₀₁/n₀ with S the placement sample variances.
    * Reported with the z against AUC = 0.5 and the 95% CI — the
    * difference between "AUC 0.52" and "AUC 0.52 ± 0.04" is whether
    * the scorer ships.
    *
    * Determinism: placements ride as INTEGERS w = 2·(#opposite below) +
    * (#opposite tied) at distinct-score grain, so every moment is an
    * exact long/DECIMAL(38)/HUGEINT sum; AUC re-derives from the same
    * integers (≡ the Mann–Whitney identity) and only the final
    * variance/SE/z divide in round-6 doubles.
    *
    * Scale shape: one (score, class) count aggregate, TWO
    * [[Windows.distributedRunningSum]] prefixes over the distinct-score
    * frame (bucketed — never a global window), one moment rollup. */
  def statsAucDelong(s: SparkSession, sf: String): DataFrame = {
    val byScore = Tables.events(s, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(round(col("value"), 4).as("sc"))
      .agg(sum((col("event_type") === "purchase").cast("long")).as("npos"),
           sum((col("event_type") =!= "purchase").cast("long")).as("nneg"))
    val negRun = Windows.distributedRunningSum(byScore, "sc", "nneg", 8)
      .withColumnRenamed("running_sum", "cneg")
    val bothRun = Windows.distributedRunningSum(negRun, "sc", "npos", 8)
      .withColumnRenamed("running_sum", "cpos")
      // w = 2*(#opposite strictly below) + (#opposite tied) — integers
      .select(col("sc"), col("npos"), col("nneg"),
        (lit(2L) * (col("cneg") - col("nneg")) + col("nneg")).as("wp"),
        (lit(2L) * (col("cpos") - col("npos")) + col("npos")).as("wn"))
    def dsq(c: String) =
      sum(col(c).cast("decimal(19,0)") * col(c).cast("decimal(19,0)") *
        col(if (c == "wp") "npos" else "nneg").cast("decimal(19,0)"))
    bothRun.agg(
        sum(col("npos")).as("n1"), sum(col("nneg")).as("n0"),
        sum(col("wp").cast("decimal(19,0)") * col("npos")).as("swp"),
        dsq("wp").as("swp2"),
        sum(col("wn").cast("decimal(19,0)") * col("nneg")).as("swn"),
        dsq("wn").as("swn2"))
      .select(col("n1").cast("bigint").as("n_pos"),
        col("n0").cast("bigint").as("n_neg"),
        round(col("swp").cast("double") /
          (lit(2.0d) * col("n1").cast("double") * col("n0").cast("double")),
          6).as("auc"),
        round((col("n1").cast("decimal(38,0)") * col("swp2") -
            col("swp") * col("swp")).cast("double") /
          nullif((col("n1") * (col("n1") - 1L)).cast("double"), lit(0.0d)) /
          (lit(4.0d) * col("n0").cast("double") * col("n0").cast("double")),
          10).as("s10"),
        round((col("n0").cast("decimal(38,0)") * col("swn2") -
            col("swn") * col("swn")).cast("double") /
          nullif((col("n0") * (col("n0") - 1L)).cast("double"), lit(0.0d)) /
          (lit(4.0d) * col("n1").cast("double") * col("n1").cast("double")),
          10).as("s01"))
      .withColumn("se_auc", round(sqrt(
        col("s10") / col("n_pos").cast("double") +
        col("s01") / col("n_neg").cast("double")), 6))
      .withColumn("z_vs_half",
        round((col("auc") - lit(0.5d)) / nullif(col("se_auc"), lit(0.0d)), 6))
      .withColumn("ci_lo", round(col("auc") - lit(1.959964d) * col("se_auc"), 6))
      .withColumn("ci_hi", round(col("auc") + lit(1.959964d) * col("se_auc"), 6))
  }

  /** Confusion-matrix metrics for a fixed-threshold classifier — the
    * precision/recall/F1 readout every gate in a filtering pipeline is
    * tuned by: predict "purchase" when the event value clears 100, and
    * score the prediction against the actual type. Integer counts into
    * four closed-form ratios; the threshold is a named constant a
    * deployment sweeps.
    *
    * Scale shape: ONE map-side-combinable four-count aggregate —
    * classifier evaluation at any corpus size is a single scan.
    */
  def statsConfusionMetrics(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select((col("value") >= 100).as("pred"),
              (col("event_type") === "purchase").as("y"))
      .agg(
        sum((col("pred") && col("y")).cast("long")).cast("bigint").as("tp"),
        sum((col("pred") && !col("y")).cast("long")).cast("bigint").as("fp"),
        sum((!col("pred") && col("y")).cast("long")).cast("bigint").as("fn"),
        sum((!col("pred") && !col("y")).cast("long")).cast("bigint").as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
          .as("precision"),
        round(col("tp").cast("double") / (col("tp") + col("fn")), 6)
          .as("recall"))
      .withColumn("f1",
        round(lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall")), 6))

  /** Inter-arrival profile — per event type, the gap in whole seconds
    * between a user's consecutive events of that type, summarized as
    * count/mean/stddev/extremes. The operational twin of
    * `sessionizeGap` (which CUTS on a gap threshold; this measures the
    * gap distribution that justifies the threshold).
    *
    * Scale shape: the lag runs in windows partitioned by (user, type) —
    * user-grain parallelism, the sessionize shape, never a global
    * window; the summary is one moments aggregate (map-side
    * combinable) at type grain. Second-floor diffs keep the gaps
    * integer-exact; only the two moments round.
    */
  def eventInterArrival(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
          .as("gap_s"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_gaps"),
           round(avg(col("gap_s")), 6).as("avg_gap_s"),
           round(stddev_samp(col("gap_s")), 6).as("stddev_gap_s"),
           min(col("gap_s")).cast("bigint").as("min_gap_s"),
           max(col("gap_s")).cast("bigint").as("max_gap_s"))
      .orderBy("event_type")
  }

  /** Cramér's V (plus the Bergsma bias-corrected variant and Tschuprow's
    * T) for the source×lang association on documents — the effect-size
    * companion to `statsChiSquare`: χ² says "dependent or not", V says
    * "how strongly", on a 0..1 scale comparable across tables. V =
    * √(φ²/(min(r,c)−1)) with φ² = χ²/n; the corrected form subtracts
    * the (r−1)(c−1)/(n−1) chance inflation (Bergsma 2013) so small
    * tables don't over-report association.
    *
    * Scale shape: identical to chi-square — ONE partial+final
    * HashAggregate over the documents scan builds the ≤|src|·|lang|
    * contingency cells; expected counts are windows over that tiny
    * frame and everything after is a one-row reduction. The only
    * data-sized cost is the first aggregate.
    */
  def statsCramersV(s: SparkSession, sf: String): DataFrame = {
    val wRow = Window.partitionBy(col("source"))
    val wCol = Window.partitionBy(col("lang"))
    val wAll = Window.partitionBy()
    sourceLangCells(s, sf)
      .withColumn("exp",
        sum(col("obs")).over(wRow) * sum(col("obs")).over(wCol) /
          sum(col("obs")).over(wAll))
      .agg(sum(col("obs")).cast("bigint").as("n"),
           countDistinct(col("source")).cast("bigint").as("r_levels"),
           countDistinct(col("lang")).cast("bigint").as("c_levels"),
           sum(pow(col("obs") - col("exp"), 2) / col("exp")).as("chi2"))
      .select(col("n"), col("r_levels"), col("c_levels"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") / col("n") /
          (least(col("r_levels"), col("c_levels")) - lit(1.0))), 6)
          .as("cramers_v"),
        // Bergsma correction: φ²c = max(0, φ² − (r−1)(c−1)/(n−1)),
        // rc = r − (r−1)²/(n−1), cc = c − (c−1)²/(n−1)
        round(sqrt(
          greatest(lit(0.0), col("chi2") / col("n") -
            (col("r_levels") - lit(1.0)) * (col("c_levels") - lit(1.0)) /
              (col("n") - lit(1.0))) /
          (least(
            col("r_levels") - pow(col("r_levels") - lit(1.0), 2) / (col("n") - lit(1.0)),
            col("c_levels") - pow(col("c_levels") - lit(1.0), 2) / (col("n") - lit(1.0)))
            - lit(1.0))), 6).as("cramers_v_corrected"),
        round(sqrt(col("chi2") / col("n") /
          sqrt((col("r_levels") - lit(1.0)) * (col("c_levels") - lit(1.0)))), 6)
          .as("tschuprow_t"))
  }

  /** Chatterjee's ξ rank correlation (2021) of each event type's daily
    * metric against time — the modern nonparametric dependence measure:
    * unlike Pearson/Spearman it detects ANY measurable functional
    * relationship (oscillating seasonality included), converging to 0
    * iff independent and 1 iff Y is a function of X. Tie-robust form:
    * with r_i = #{y_j ≤ y_i}, l_i = #{y_j ≥ y_i}, and i running in day
    * order, ξ = 1 − n·Σ|r_{i+1}−r_i| / (2·Σ l_i(n−l_i)). Everything is
    * integer-exact until the final division, so both engines agree to
    * the bit before the single round.
    *
    * Scale shape: the data-sized work is the (type, day) aggregate; the
    * rank machinery runs in windows PARTITIONED BY TYPE over series
    * whose length is calendar-bounded (≤ days in the corpus window, not
    * rows), so no global-window funnel exists at any corpus size —
    * the same bound the EWMA/CUSUM family rides.
    */
  def statsXiCorrelation(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("y"))
    val wLe = Window.partitionBy(col("event_type")).orderBy(col("y").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wGe = Window.partitionBy(col("event_type")).orderBy(col("y").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wDay = Window.partitionBy(col("event_type")).orderBy(col("d").asc)
    daily
      .select(col("event_type"), col("d"),
        count(lit(1)).over(wLe).as("r"),
        count(lit(1)).over(wGe).as("l"),
        count(lit(1)).over(Window.partitionBy(col("event_type"))).as("n"))
      .withColumn("dr", abs(lead(col("r"), 1).over(wDay) - col("r")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
           sum(col("dr")).as("num"),
           sum(col("l") * (col("n") - col("l"))).as("den"))
      .select(col("event_type"), col("n_days"),
        round(lit(1.0) - col("n_days") * col("num").cast("double") /
          (lit(2.0) * col("den")), 6).as("xi"))
      .orderBy("event_type")
  }

  /** Additive seasonal-trend decomposition of each event type's daily
    * metric (the STL shape, single-pass moving-average flavor): trend =
    * centered 7-observation mean (null until the window is full),
    * seasonal = day-of-week mean of the detrended series re-centered to
    * zero across the partition, residual = what's left. The triple is
    * what anomaly pipelines alert on (residual), capacity planning reads
    * (trend), and scheduling reads (seasonal).
    *
    * Day-of-week is a grouping key only (never output), so Spark's 1-7
    * and DuckDB's 0-6 encodings partition identically. Windows are
    * row-centered over OBSERVED days — a gap day narrows the physical
    * week; both engines see the same rows, so the choice is
    * deterministic.
    *
    * Scale shape: the data-sized work is the (type, day) aggregate; all
    * four windows partition by type (± dow) over calendar-bounded
    * series — the EWMA/CUSUM bound again, no global window anywhere.
    */
  def timeseriesStlDecompose(s: SparkSession, sf: String): DataFrame = {
    // Every mean here is an ORDERED SEQUENTIAL FOLD, not a bare window
    // avg (r11 stability find): the unordered partition avg behind the
    // seasonal term summed in physical row order, and the (view,
    // Friday) cell at sf0.001 sits EXACTLY on a round-6 half-boundary
    // — DuckDB's parallel scan flipped it between …285 and …286 run to
    // run (caught by tools/oracle_stability.py, which re-runs every
    // oracle at 3 thread counts). Folding in (d) / (dow) order — the
    // eventMarkovStationary discipline — pins the IEEE op sequence on
    // both engines: trend folds the 7-day frame in frame order,
    // the per-dow seasonal sum folds by day, and the centering mean
    // folds the dow-grain (sraw·n_days) products in Sunday-first dow
    // order (both engines number days Sunday-first ascending).
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("x"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("d").asc)
      .rowsBetween(-3, 3)
    val base = daily
      .withColumn("nrows", count(lit(1)).over(w7))
      .withColumn("farr", collect_list(col("x")).over(w7))
      .withColumn("trend", when(col("nrows") === 7 && size(col("farr")) > 0,
        round(expr("aggregate(farr, 0.0d, (a, v) -> a + v)") /
          size(col("farr")), 6)))
      .withColumn("detr", col("x") - col("trend"))
      .withColumn("dow", dayofweek(col("d")))
      .drop("nrows", "farr")
    val sdow = base.groupBy(col("event_type"), col("dow"))
      .agg(
        expr("aggregate(sort_array(collect_list(if(isnotnull(detr), " +
          "struct(d, detr), null))), 0.0d, (a, r) -> a + r.detr)").as("ssum"),
        count(col("detr")).as("m"),
        count(lit(1)).as("nd"))
      .withColumn("sraw", when(col("m") > 0, col("ssum") / col("m")))
    val smean = sdow.groupBy(col("event_type"))
      .agg(
        expr("aggregate(sort_array(collect_list(if(isnotnull(sraw), " +
          "struct(dow, sraw, nd), null))), 0.0d, (a, r) -> a + r.sraw * r.nd)")
          .as("wsum"),
        sum(when(col("sraw").isNotNull, col("nd")).otherwise(lit(0L)))
          .as("wn"))
      .withColumn("mean_all", when(col("wn") > 0, col("wsum") / col("wn")))
    base
      .join(broadcast(sdow.select(col("event_type"), col("dow"), col("sraw"))),
        Seq("event_type", "dow"))
      .join(broadcast(smean.select(col("event_type"), col("mean_all"))),
        Seq("event_type"))
      .withColumn("seasonal", round(col("sraw") - col("mean_all"), 6))
      .select(col("event_type"), col("d"), col("x"), col("trend"),
        col("seasonal"),
        round(col("detr") - col("seasonal"), 6).as("residual"))
      .orderBy("event_type", "d")
  }

  /** Kendall's τ-b between each event type's daily metric total and its
    * daily event count — the third classic rank correlation (Pearson
    * rides `regr_*`/`corr`, Spearman and Chatterjee's ξ have their own
    * keys), with BOTH tie corrections (τ-b), since counts tie often:
    * over day pairs i<j, τ_b = (n_c − n_d) / √((n0 − t_x)(n0 − t_y)).
    * Integer-exact counts into one final sqrt/division.
    *
    * Scale shape: the pair space is a self-join BLOCKED PER TYPE over
    * the (type, day) frame — calendar-bounded (Σ days², independent of
    * row count), the Mann-Kendall/Theil-Sen discipline: daily grains
    * make quadratic-in-days affordable at any corpus size. The
    * data-sized work is one aggregate; nothing else touches the scan.
    */
  def statsKendallTau(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("x"),
              col("c").as("y"))
    val a = daily.select(col("event_type"), col("d").as("d1"),
      col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("d").as("d2"),
      col("x").as("x2"), col("y").as("y2"))
    a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .select(col("event_type"),
        signum(col("x2") - col("x1")).as("sx"),
        signum(col("y2") - col("y1")).cast("double").as("sy"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n0"),
           sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).as("nc"),
           sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L)).as("nd"),
           sum(when(col("sx") === 0, 1L).otherwise(0L)).as("tx"),
           sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ty"))
      .select(col("event_type"),
        col("n0").cast("bigint").as("n_pairs"),
        col("nc").cast("bigint").as("concordant"),
        col("nd").cast("bigint").as("discordant"),
        round((col("nc") - col("nd")).cast("double") /
          sqrt((col("n0") - col("tx")).cast("double") *
               (col("n0") - col("ty"))), 6).as("tau_b"))
      .orderBy("event_type")
  }

  /** Mutual information between document source and language — how many
    * nats knowing the source tells you about the language (the
    * information-theoretic view of the same source×lang table χ² and
    * Cramér's V score). Computed as H(src)+H(lang)−H(src,lang) with
    * every entropy expressed as a PER-CELL weighted sum (Σ_y obs = row
    * total, so −Σ_xy (obs/n)·ln(rx/n) ≡ H(src)) — one pass over the
    * contingency cells, no separate marginal frames. NMI normalizes by
    * √(H(src)·H(lang)) to the 0..1 scale clustering papers use.
    *
    * Scale shape: the chi-square shape again — one data-sized
    * HashAggregate to cells, windows over the tiny cell frame for the
    * marginals, a one-row reduction for the entropies. Nothing else
    * touches the scan.
    */
  def statsMutualInfo(s: SparkSession, sf: String): DataFrame = {
    val wRow = Window.partitionBy(col("source"))
    val wCol = Window.partitionBy(col("lang"))
    val wAll = Window.partitionBy()
    sourceLangCells(s, sf)
      .select(col("obs").cast("double").as("obs"),
        sum(col("obs")).over(wRow).cast("double").as("rx"),
        sum(col("obs")).over(wCol).cast("double").as("cy"),
        sum(col("obs")).over(wAll).cast("double").as("n"))
      .agg(max(col("n")).cast("bigint").as("n"),
           (-sum(col("obs") / col("n") * log(col("rx") / col("n")))).as("hs"),
           (-sum(col("obs") / col("n") * log(col("cy") / col("n")))).as("hl"),
           (-sum(col("obs") / col("n") * log(col("obs") / col("n")))).as("hj"))
      .select(col("n"),
        round(col("hs"), 6).as("h_source"),
        round(col("hl"), 6).as("h_lang"),
        round(col("hj"), 6).as("h_joint"),
        round(col("hs") + col("hl") - col("hj"), 6).as("mi_nats"),
        round((col("hs") + col("hl") - col("hj")) /
          sqrt(col("hs") * col("hl")), 6).as("nmi"))
  }

  /** Single-changepoint detection by binary segmentation over each
    * type's daily event-count series: the split minimizing the summed
    * within-segment SSE (equivalently maximizing the SSE reduction
    * against the unsplit series) — the first step of every changepoint
    * tree, and the "did the metric regime shift, and when" readout
    * CUSUM (which needs a known target mean) cannot give. One row per
    * type: the argmax split day (earliest day on ties), segment means,
    * and the variance explained.
    *
    * Determinism: all moment sums (Σx, Σx², prefixes) are INTEGER
    * window sums over counts — exact in any order; each candidate's
    * SSE is the same closed-form double expression both engines
    * evaluate identically, and the argmax tie-breaks on the day.
    *
    * Scale shape: the data-sized work is the (type, day) count
    * aggregate; every window after that is partitioned by type over
    * calendar-bounded day rows (the repo's daily-series grain). The
    * O(days) candidate scoring is column math on the prefix frame —
    * no self-join, no day² blowup.
    */
  def timeseriesChangepoint(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("c"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val scored = daily
      .select(col("event_type"), col("d"), col("c"),
        row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("d").asc))
          .as("k"),
        sum(col("c")).over(wOrd).as("s_k"),
        sum(col("c") * col("c")).over(wOrd).as("q_k"),
        count(lit(1)).over(wAll).as("n"),
        sum(col("c")).over(wAll).as("s"),
        sum(col("c") * col("c")).over(wAll).as("q"))
      .filter(col("k") < col("n"))
      .select(col("event_type"), col("d"), col("k"), col("n"),
        col("s_k"), col("s"),
        // SSE reduction = SSE_total − (SSE_left + SSE_right); the Σx²
        // terms cancel, leaving s²/n subtracted from the split's two
        // mean-square terms — integers until the two divisions
        (col("s_k") * col("s_k") / col("k").cast("double") +
         (col("s") - col("s_k")) * (col("s") - col("s_k")) /
           (col("n") - col("k")).cast("double") -
         col("s") * col("s") / col("n").cast("double")).as("reduction"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("reduction").desc, col("d").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").cast("bigint").as("n_days"),
        col("d").as("split_day"),
        round(col("s_k").cast("double") / col("k"), 6).as("mean_before"),
        round((col("s") - col("s_k")).cast("double") / (col("n") - col("k")),
          6).as("mean_after"),
        round(col("reduction"), 6).as("sse_reduction"))
      .orderBy("event_type")
  }

  /** Exponentially weighted mean AND variance (RiskMetrics recursion,
    * α = 0.3) of each type's daily purchase total — `timeseriesEwma`
    * extended with the volatility track every adaptive alerting
    * threshold needs: m_t = αx_t + (1−α)m_{t−1},
    * v_t = (1−α)(v_{t−1} + α(x_t − m_{t−1})²), seeded m₀ = x₀, v₀ = 0.
    * The recursion folds over each type's ordered day array exactly
    * like the ewma key (the honest shape for a non-distributive
    * frame); the oracle replays the identical two-state fold with
    * list_reduce over [m, v] pairs — same IEEE op order, so the key
    * stays hash-checked despite being sequential.
    *
    * Scale shape: data-sized work is the (type, day) aggregate; the
    * fold runs per type over calendar-bounded arrays.
    */
  def timeseriesEwmVar(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    // value-IS-NOT-NULL pre-filter recovered post-memo as cv > 0: SUM
    // already ignores nulls, so only the all-null days differ — exactly
    // the cv = 0 rows
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull && col("cv") > 0)
      .select(col("event_type"), col("d"), col("x4").as("x"))
      .as[(String, java.sql.Date, Double)]
    // Per-type imperative scan instead of a SQL `aggregate` fold whose
    // `acc || array(…)` accumulator copies the whole array per step
    // (O(days²)). flatMapGroups holds ONE group (calendar-bounded) in
    // memory, sorts it by day, and replays the recursion in O(days)
    // with running (m, v) state — the identical IEEE op sequence
    // (0.3·x + 0.7·m; 0.7·(v + 0.3·(x−m)·(x−m)), v reading the OLD m),
    // so the hash-checked values are bit-identical to the fold's.
    daily.groupByKey(_._1)
      .flatMapGroups { (t: String, it: Iterator[(String, java.sql.Date, Double)]) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        var m = 0.0; var v = 0.0; var first = true
        rows.iterator.map { case (_, d, x) =>
          if (first) { m = x; v = 0.0; first = false }
          else {
            val prevM = m
            m = 0.3d * x + 0.7d * prevM
            v = 0.7d * (v + 0.3d * (x - prevM) * (x - prevM))
          }
          (t, d, x, m, v)
        }
      }
      .toDF("event_type", "d", "x", "m", "v")
      .select(col("event_type"), col("d"),
              round(col("x"), 4).as("x"),
              round(col("m"), 6).as("ewm_mean"),
              round(col("v"), 6).as("ewm_var"))
      .orderBy("event_type", "d")
  }

  /** Stationary distribution of the event-type Markov chain — the
    * long-run "where does a user's session settle" summary on top of
    * `pathTransitions`' one-step matrix: three synchronous power-
    * iteration steps π ← πP from the uniform start, unrolled so the
    * iterative kernel stays closed-form and oracle-paired (the
    * pagerank discipline at type grain). Emits the empirical one-step
    * row totals and the 3-step π per type.
    *
    * Determinism: P's entries are exact integer-count ratios; each
    * π update is a ≤|types|-term dot product folded SEQUENTIALLY in
    * from-type order (sorted collect_list + `aggregate` lambda on
    * Spark, ORDER BY list + list_reduce on DuckDB) — a windowed sum
    * would NOT give this guarantee (DuckDB's segment-tree window
    * aggregation may re-associate the additions), the explicit fold
    * does.
    *
    * Scale shape: the data-sized work is ONE (from, to) pair count off
    * the per-user lag window (user-grain parallelism, see
    * `transitionCounts`); everything after lives at |types|² ≤ 25
    * rows. The chain matrix of a 100 TB corpus is still 25 cells —
    * power iteration at the driver-broadcast grain is the production
    * shape.
    */
  def eventMarkovStationary(s: SparkSession, sf: String): DataFrame = {
    val pairs = transitionCounts(s, sf)
    val rowTot = pairs.groupBy(col("from_t"))
      .agg(sum(col("c")).as("tot"))
    val p = pairs.join(rowTot, Seq("from_t"))
      .select(col("from_t"), col("to_t"),
        (col("c").cast("double") / col("tot")).as("p"))
    val nTypes = rowTot.agg(count(lit(1)).as("k"))
    var pi = rowTot.crossJoin(broadcast(nTypes))
      .select(col("from_t").as("t"), (lit(1.0) / col("k")).as("pi"))
    for (_ <- 1 to 3) {
      // π_j = Σ_i π_i·P_ij as an explicit left fold over the terms
      // sorted by from-type: seed 0.0, one addition per term, the
      // literal op order both engines replay (a plain groupBy sum is
      // order-free math on paper but order-DEPENDENT doubles in
      // practice; a windowed prefix sum may be tree-re-associated)
      pi = p.join(pi.withColumnRenamed("t", "from_t"), Seq("from_t"))
        .select(col("to_t"), col("from_t"), (col("pi") * col("p")).as("term"))
        .groupBy(col("to_t"))
        .agg(sort_array(collect_list(struct(col("from_t"), col("term"))))
          .as("s"))
        .select(col("to_t").as("t"),
          expr("aggregate(s, cast(0.0 as double), (acc, r) -> acc + r.term)")
            .as("pi"))
    }
    rowTot.select(col("from_t").as("t"), col("tot").cast("bigint")
        .as("n_transitions_out"))
      .join(pi, Seq("t"))
      .select(col("t").as("event_type"), col("n_transitions_out"),
        round(col("pi"), 6).as("pi_3step"))
      .orderBy("event_type")
  }

  /** Kruskal–Wallis H test — the k-group generalization of
    * `statsMannWhitney` (does ANY event type's value distribution
    * differ?), the nonparametric cross-check for `statsAnova` when
    * normality is off the table. Mid-ranks come from
    * [[Windows.bucketPrefix]] over the per-distinct-value totals:
    * midrank = tv_before + (tv+1)/2. Per-type
    * rank sums R_j are exact (half-integer products ≪ 2⁵³, order-free);
    * the one cross-group reduction Σ R_j²/n_j folds SEQUENTIALLY in
    * event-type order on both engines (sorted array + `aggregate`
    * lambda vs ORDER BY list + list_reduce) so its IEEE op order is
    * pinned. H carries the standard tie correction
    * 1 − Σ(t³−t)/(n³−n).
    *
    * Scale shape: a (value, type) aggregate + a value-grain aggregate
    * are the only data-sized passes; the midrank join-back is value-
    * grain (≤ distinct values), the bucket-offset frame is ≤256 rows,
    * and everything after lives at k ≤ |types| rows.
    */
  def statsKruskalWallis(s: SparkSession, sf: String): DataFrame = {
    val vt = Tables.events(s, sf)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"), round(col("value"), 4).as("value"))
      .groupBy(col("value"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val v = vt.groupBy(col("value")).agg(sum(col("c")).as("tv"))
      .withColumn("bkt", Windows.valueBucket(col("value")))
    val mid = Windows.bucketPrefix(v, "bkt", Seq(col("value").asc), Seq("tv"))
      .select(col("value"), col("tv"),
        (col("tv_before").cast("double") +
         (col("tv") + 1).cast("double") / 2).as("midrank"))
    val tot = mid.agg(
      sum(col("tv") * col("tv") * col("tv") - col("tv")).as("ties"),
      sum(col("tv")).as("n"))
    val grp = vt.join(mid.select(col("value"), col("midrank")), Seq("value"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("nj"),
           sum(col("c").cast("double") * col("midrank")).as("rj"))
    val h = grp
      .agg(sort_array(collect_list(struct(col("event_type"), col("nj"),
             col("rj")))).as("g"),
           count(lit(1)).as("k"))
      .crossJoin(broadcast(tot))
      .select(col("k"),
        expr("aggregate(g, cast(0.0 as double), (acc, r) -> acc + r.rj * r.rj / r.nj)")
          .as("srn"),
        col("ties"), col("n"))
      .select(col("k").cast("bigint").as("k_groups"),
        round((lit(12.0) / (col("n").cast("double") * (col("n") + 1)) *
                 col("srn") - lit(3.0) * (col("n").cast("double") + 1)) /
              (lit(1.0) - col("ties").cast("double") /
                 (col("n").cast("double") * col("n") * col("n") - col("n"))),
          6).as("h_stat"))
    grp.select(col("event_type"), col("nj").cast("bigint").as("n_j"),
        round(col("rj"), 4).as("rank_sum"),
        round(col("rj") / col("nj"), 6).as("mean_rank"))
      .crossJoin(broadcast(h))
      .orderBy("event_type")
  }

  /** Welch's ANOVA — the heteroscedasticity-robust F test the
    * `statsLevene` key exists to motivate: when group variances differ
    * (Levene rejects), classic ANOVA's pooled-variance F is invalid and
    * THIS is the statistic to report. Weights w_j = n_j/s_j², weighted
    * grand mean, A = Σw_j(m_j−m̄_w)²/(k−1), Welch's correction term
    * B = Σ(1−w_j/Σw)²/(n_j−1), F* = A / (1 + 2(k−2)/(k²−1)·B), and the
    * Satterthwaite df₂ = (k²−1)/(3B).
    *
    * Determinism: per-group n/m/v come from the same single-pass
    * moments as `statsAnova` (established engine parity); every
    * cross-group reduction (Σw, Σwm, A, B) folds SEQUENTIALLY in
    * event-type order via the sorted-array `aggregate` lambda — the
    * markov/kruskal idiom — so no double sum depends on engine
    * aggregation order.
    *
    * Scale shape: one map-side-combinable moments aggregate is the only
    * data-sized work; the folds run over a k ≤ |types| element array.
    */
  def statsWelchAnova(s: SparkSession, sf: String): DataFrame = {
    val g = Tables.events(s, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
           var_samp(col("value")).as("v"))
    g.agg(sort_array(collect_list(struct(col("event_type"), col("n"),
            col("m"), col("v")))).as("arr"),
          count(lit(1)).as("k"))
      .withColumn("sw",
        expr("aggregate(arr, cast(0.0 as double), (acc, r) -> acc + r.n / r.v)"))
      .withColumn("swm",
        expr("aggregate(arr, cast(0.0 as double), (acc, r) -> acc + r.n / r.v * r.m)"))
      .withColumn("mw", col("swm") / col("sw"))
      .withColumn("a",
        expr("aggregate(arr, cast(0.0 as double), (acc, r) -> acc + r.n / r.v * (r.m - mw) * (r.m - mw))"))
      .withColumn("b",
        expr("aggregate(arr, cast(0.0 as double), (acc, r) -> acc + (1.0d - r.n / r.v / sw) * (1.0d - r.n / r.v / sw) / (r.n - 1))"))
      .select(col("k").cast("bigint").as("k_groups"),
        round(col("mw"), 6).as("weighted_grand_mean"),
        round(col("a") / (col("k") - 1) /
              (lit(1.0) + lit(2.0) * (col("k") - 2) /
                (col("k") * col("k") - 1) * col("b")), 6).as("f_welch"),
        round((col("k").cast("double") * col("k") - 1) /
              (lit(3.0) * col("b")), 4).as("df2"))
  }

  /** Two-feature OLS via the closed-form normal equations — daily
    * revenue regressed on the day index AND a weekend indicator
    * simultaneously, the multiple-regression step up from
    * `statsTrendRegression`'s single slope (which confounds trend with
    * the weekly cycle; this key separates them). All moment sums are
    * EXACT — integer day indexes / indicators and DECIMAL(18,4) daily
    * totals, so Σt, Σt², Σty, Σy² are order-free on both engines — and
    * the 3×3 Cramer solve + R² run as identical closed-form double
    * expressions over those exact moments.
    *
    * Scale shape: the (day) aggregate is the only data-sized pass;
    * the moments aggregate runs over calendar-bounded rows and the
    * solve is scalar math on one row. The normal-equation trick is the
    * production shape for low-dimensional regression at 100 TB: k²
    * moments stream through one combinable aggregate, no iteration.
    */
  def statsOlsMulti(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase" && col("cv") > 0)
      .select(col("d"), col("x4").cast("decimal(18,4)").as("y"))
      .select(
        datediff(col("d"), lit("2024-01-01").cast("date")).cast("long").as("t"),
        when(dayofweek(col("d")).isin(1, 7), lit(1L)).otherwise(lit(0L))
          .as("wk"),
        col("y"))
    daily.agg(
        count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("t") * col("t")).as("stt"), sum(col("wk")).as("sx"),
        sum(col("t") * col("wk")).as("stx"), sum(col("y")).as("sy"),
        sum(col("y") * col("t").cast("decimal(9,0)")).as("sty"),
        sum(col("y") * col("wk").cast("decimal(1,0)")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .selectExpr(
        "cast(n as double) as a11", "cast(st as double) as a12",
        "cast(sx as double) as a13", "cast(stt as double) as a22",
        "cast(stx as double) as a23", "cast(sx as double) as a33",
        "cast(sy as double) as r1", "cast(sty as double) as r2",
        "cast(sxy as double) as r3", "cast(syy as double) as syy",
        "cast(n as bigint) as n_days")
      .selectExpr(Seq("n_days", "r1", "r2", "r3", "syy", "a11") ++ cramer3: _*)
      .selectExpr("n_days", "r1", "r2", "r3", "syy", "a11",
        "n0 / det as b0", "n1 / det as b1", "n2 / det as b2")
      .selectExpr("n_days",
        "round(b0, 6) as b_intercept", "round(b1, 6) as b_day",
        "round(b2, 6) as b_weekend",
        "round(1.0d - (syy - (b0 * r1 + b1 * r2 + b2 * r3)) / (syy - r1 * r1 / a11), 6) as r2_fit")
  }

  /** Seeded permutation test on the A/B purchase-value difference — the
    * assumption-free companion to `experimentTtest`: re-randomize the
    * arm assignment T = 64 times and ask how often |Δ_perm| ≥ |Δ_obs|.
    * Each permutation re-hashes the user with a salt
    * (md5(user_id || ':' || i), first hex 0-7 → arm A) — the repo's
    * replayable-randomness idiom (`pipelineDpNoise`,
    * `sampleDeterministic`), so both engines draw the SAME 64
    * permutations and the p-value (n_extreme+1)/(T+1) is exact
    * arithmetic. The extreme-count compare runs on 6-rounded Δs so
    * both engines gate on identical scalars.
    *
    * Scale shape: one filtered scan fanned ×64 map-side (explode of a
    * constant sequence — no shuffle), then ONE 64-group combinable
    * aggregate of conditional avgs. At 100 TB: T bounds the fan-out
    * and the aggregate state is 64×4 doubles — a map-side-combine
    * dream; nothing is ever collected or re-scanned per permutation.
    */
  def statsPermutationTest(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("value"))
    val obs = base
      .agg((avg(when(arm, col("value"))) -
            avg(when(!arm, col("value")))).as("d_obs"))
    val armPerm = substring(md5(concat(col("user_id").cast("string"),
        lit(":"), col("i").cast("string")).cast("binary")), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7")
    val perms = base
      .select(col("user_id"), col("value"),
        explode(expr("sequence(1, 64)")).as("i"))
      .groupBy(col("i"))
      .agg((avg(when(armPerm, col("value"))) -
            avg(when(!armPerm, col("value")))).as("d"))
    perms.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("t"),
           max(round(col("d_obs"), 6)).as("dobs"),
           sum(when(abs(round(col("d"), 6)) >= abs(round(col("d_obs"), 6)),
             lit(1L)).otherwise(lit(0L))).as("ne"))
      .select(col("t").cast("bigint").as("n_perms"),
        col("dobs").as("d_obs"),
        col("ne").cast("bigint").as("n_extreme"),
        round((col("ne") + 1).cast("double") / (col("t") + 1), 6)
          .as("p_value"))
  }

  /** McNemar's test on paired binary outcomes — on the SAME user-days,
    * does viewing co-occur with purchasing? The subject is the
    * (user, day) cell (the user grain is saturated — every user
    * eventually does everything — so pairing at the daily-session grain
    * is where the discordance lives). The paired design removes
    * between-subject variance that the two-proportion z-test
    * (`statsProportionsZtest`, independent samples) cannot: only the
    * DISCORDANT cells (viewed-not-purchased b, purchased-not-viewed c)
    * carry information, and χ² = (|b−c|−1)²/(b+c) with the continuity
    * correction. Every input is an integer count, so the one double
    * division at the end is bit-identical on both engines.
    *
    * Scale shape: one (user, day)-grain conditional-max aggregate
    * (map-side combinable presence bits), then a 4-cell count
    * aggregate — two shuffles total, final state is one row.
    */
  def statsMcnemar(s: SparkSession, sf: String): DataFrame = {
    val u = Tables.events(s, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("a"),
           max(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("b"))
    u.agg(count(lit(1)).as("n"),
          sum(col("a") * col("b")).as("both"),
          sum(col("a") * (lit(1L) - col("b"))).as("vOnly"),
          sum((lit(1L) - col("a")) * col("b")).as("pOnly"))
      .select(col("n").cast("bigint").as("n_user_days"),
        col("both").cast("bigint").as("n_both"),
        col("vOnly").cast("bigint").as("n_view_only"),
        col("pOnly").cast("bigint").as("n_purchase_only"),
        round(when(col("vOnly") + col("pOnly") === 0L, lit(0.0))
          .otherwise(
            (abs(col("vOnly") - col("pOnly")).cast("double") - 1.0) *
            (abs(col("vOnly") - col("pOnly")).cast("double") - 1.0) /
            (col("vOnly") + col("pOnly")).cast("double")), 6)
          .as("mcnemar_chi2"))
      .withColumn("reject_marginal_homogeneity",
        col("mcnemar_chi2") > 3.841459)
  }

  /** Cochran's Q — the k-treatment generalization of McNemar: across
    * the view/click/purchase funnel stages, is ANY stage's per-subject
    * completion rate different? Subjects are (user, day) cells (same
    * rationale as `statsMcnemar`: the user grain is saturated).
    * Q = (k−1)·(k·ΣCⱼ² − T²) / (k·T − ΣRᵢ²) where Rᵢ is a subject's
    * stage count, Cⱼ a stage's subject count, T = ΣRᵢ = ΣCⱼ. Every
    * term is an integer sum, so the single closing division is
    * engine-exact; compared against χ²(k−1=2) at 0.95 = 5.991465.
    *
    * Scale shape: one (user, day)-grain presence-bit aggregate;
    * ΣRᵢ/ΣRᵢ² fold into the same second aggregate as the column sums —
    * one row of final state, everything map-side combinable.
    */
  def statsCochranQ(s: SparkSession, sf: String): DataFrame = {
    val u = Tables.events(s, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L))
             .as("c1"),
           max(when(col("event_type") === "click", 1L).otherwise(0L))
             .as("c2"),
           max(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("c3"))
      .withColumn("r", col("c1") + col("c2") + col("c3"))
    u.agg(count(lit(1)).as("n"),
          sum(col("c1")).as("s1"), sum(col("c2")).as("s2"),
          sum(col("c3")).as("s3"),
          sum(col("r")).as("t"), sum(col("r") * col("r")).as("tr2"))
      .select(col("n").cast("bigint").as("n_user_days"),
        col("s1").cast("bigint").as("n_view"),
        col("s2").cast("bigint").as("n_click"),
        col("s3").cast("bigint").as("n_purchase"),
        round((lit(2.0) *
            (lit(3L) * (col("s1") * col("s1") + col("s2") * col("s2") +
               col("s3") * col("s3")) -
             col("t") * col("t")).cast("double")) /
          (lit(3L) * col("t") - col("tr2")).cast("double"), 6)
          .as("q_stat"))
      .withColumn("reject_equal_rates", col("q_stat") > 5.991465)
  }

  /** Sample-ratio-mismatch guardrail — the FIRST check any experiment
    * readout runs at scale: do the md5-assigned arms actually split
    * 50/50 at the user grain? A significant χ² here means the
    * assignment or logging is broken and every downstream metric
    * (`experimentTtest`, `statsPermutationTest`) is untrustworthy.
    * χ² = (n_a−E)²/E + (n_b−E)²/E with E = n/2; integer counts, one
    * closing double division → engine-exact.
    *
    * Scale shape: distinct-user pass then a 2-cell conditional count —
    * the assignment hash is recomputed per row and never stored, the
    * production pattern for stateless bucketing.
    */
  def statsAbSrm(s: SparkSession, sf: String): DataFrame = {
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .agg(sum(when(arm, 1L).otherwise(0L)).as("na"),
           sum(when(!arm, 1L).otherwise(0L)).as("nb"))
      .select(col("na").cast("bigint").as("n_a"),
        col("nb").cast("bigint").as("n_b"),
        round((col("na") - col("nb")).cast("double") *
              (col("na") - col("nb")).cast("double") /
              (col("na") + col("nb")).cast("double"), 6).as("srm_chi2"))
      .withColumn("srm_detected", col("srm_chi2") > 3.841459)
  }

  /** Wilson score interval for per-stage reach — the binomial CI that
    * stays inside [0,1] and behaves at small x (the normal-approx CI of
    * `statsProportionsZtest` does neither): for each event type,
    * x = users who did it out of n = all users, and the 95% bounds are
    * (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n) with
    * z = 1.959964. Integer x/n and a √ (IEEE-correctly-rounded on both
    * engines) make the bounds deterministic; both engines evaluate the
    * SAME expression text over the same scalars.
    *
    * Scale shape: one distinct (user, type) pass → type-grain counts;
    * the n scalar broadcasts back in-plan. k = |types| rows of math.
    */
  def statsBinomialWilson(s: SparkSession, sf: String): DataFrame = {
    val ut = Tables.events(s, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type")).distinct()
    val x = ut.groupBy(col("event_type")).agg(count(lit(1)).as("x"))
    val n = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("n"))
    val z = lit(1.959964)
    x.crossJoin(broadcast(n))
      .withColumn("p", col("x").cast("double") / col("n").cast("double"))
      .withColumn("ctr",
        (col("p") + z * z / (lit(2.0) * col("n"))) /
        (lit(1.0) + z * z / col("n")))
      .withColumn("hw",
        z * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
          z * z / (lit(4.0) * col("n") * col("n"))) /
        (lit(1.0) + z * z / col("n")))
      .select(col("event_type"), col("x").cast("bigint").as("n_reached"),
        col("n").cast("bigint").as("n_users"),
        round(col("p"), 6).as("p_hat"),
        round(col("ctr") - col("hw"), 6).as("wilson_lo"),
        round(col("ctr") + col("hw"), 6).as("wilson_hi"))
      .orderBy("event_type")
  }

  /** Grubbs' outlier statistic on daily revenue — G = max|y−ȳ|/s, the
    * single-outlier screen a pipeline runs on its own daily rollups
    * before trusting a trend fit (`statsTrendRegression` is what the
    * flagged day would poison). Daily totals are exact DECIMAL(18,4),
    * so ȳ and the variance moments (Σy, Σy²) are order-free; s is one
    * √ of exact-moment arithmetic; the suspect day is the argmax with a
    * min-date tiebreak so ties (only on bit-equal doubles) resolve
    * identically on both engines.
    *
    * Scale shape: day-grain aggregate, one-row moments aggregate
    * broadcast back, argmax via a bounded (calendar-grain) sort —
    * nothing data-sized after the first shuffle.
    */
  def statsGrubbs(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase" && col("cv") > 0)
      .select(col("d"), col("x4").cast("decimal(18,4)").as("y"))
    val mo = daily.agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
      .select(col("n"),
        (col("sy").cast("double") / col("n").cast("double")).as("m"),
        sqrt((col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double") /
                col("n").cast("double")) /
             (col("n").cast("double") - 1.0)).as("sd"))
    daily.crossJoin(broadcast(mo))
      .withColumn("dev", abs(col("y").cast("double") - col("m")))
      .orderBy(col("dev").desc, col("d").asc)
      .limit(1)
      .select(col("n").cast("bigint").as("n_days"),
        round(col("m"), 6).as("mean_daily"),
        round(col("sd"), 6).as("sd_daily"),
        col("d").as("suspect_day"),
        round(col("y").cast("double"), 4).as("suspect_revenue"),
        round(col("dev") / col("sd"), 6).as("g_stat"))
  }

  /** AR(2) fit + one-step backtest per event type — the autoregressive
    * rung the forecast family (naive → EWMA → Holt → seasonal-naive)
    * was missing: Yule–Walker coefficients from the lag-1/lag-2
    * autocorrelations of the gap-filled daily count series
    * (φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²)), then the
    * one-step-ahead backtest x̂_t = μ + φ₁(x_{t−1}−μ) + φ₂(x_{t−2}−μ)
    * scored with MAE and RMSE over every day with two lags of history.
    * One-step-ahead means each prediction reads ACTUAL lagged values —
    * a pure window computation, no recursion, so the whole key is
    * oracle-paired (unlike Holt, whose recursive level/trend needed
    * the fold idiom).
    *
    * Determinism: the ACF estimator is `statsLjungBox`'s textbook
    * global-mean form; r₁/r₂ round at 6 BEFORE entering the φ closed
    * forms, so φ and every prediction are functions of already-agreed
    * values; MAE/RMSE follow the snaive-backtest avg discipline.
    *
    * Scale shape: ONE (type, day) count aggregate is the only
    * data-sized work; the grid fill, lag windows, and the per-type
    * param join all live on the calendar-bounded daily frame (params
    * broadcast back — a ≤|types|-row build side).
    */
  def timeseriesArForecast(s: SparkSession, sf: String): DataFrame = {
    val filled = typeDayCounts(s, sf)
    val wp = Window.partitionBy(col("event_type"))
    val w = wp.orderBy(col("d").asc)
    val lagged = filled
      .withColumn("m", avg(col("c")).over(wp))
      .withColumn("xc", col("c") - col("m"))
      .withColumn("x1", lag(col("xc"), 1).over(w))
      .withColumn("x2", lag(col("xc"), 2).over(w))
    val params = lagged.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
           round(sum(col("xc") * col("x1")) / sum(col("xc") * col("xc")), 6)
             .as("r1"),
           round(sum(col("xc") * col("x2")) / sum(col("xc") * col("xc")), 6)
             .as("r2"))
      .select(col("event_type"), col("n_days"), col("r1"), col("r2"),
        round((col("r1") * (lit(1.0) - col("r2"))) /
              (lit(1.0) - col("r1") * col("r1")), 6).as("phi1"),
        round((col("r2") - col("r1") * col("r1")) /
              (lit(1.0) - col("r1") * col("r1")), 6).as("phi2"))
    lagged.filter(col("x2").isNotNull)
      .join(broadcast(params), Seq("event_type"))
      .withColumn("err",
        col("xc") - (col("phi1") * col("x1") + col("phi2") * col("x2")))
      .groupBy(col("event_type"))
      .agg(first(col("n_days")).as("n_days"),
           first(col("r1")).as("r1"), first(col("r2")).as("r2"),
           first(col("phi1")).as("phi1"), first(col("phi2")).as("phi2"),
           count(lit(1)).cast("bigint").as("n_scored"),
           round(avg(abs(col("err"))), 6).as("mae"),
           round(sqrt(avg(col("err") * col("err"))), 6).as("rmse"))
      .orderBy("event_type")
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013) — the standard
    * pre-experiment covariate adjustment every large A/B platform runs:
    * split the corpus span at its midpoint date, take each user's
    * pre-period spend as the covariate and post-period spend as the
    * metric, and report θ = cov(pre, post)/var(pre) plus the adjusted
    * metric variance var(post) − cov²/var(pre) and the reduction
    * percentage (= 100·corr²). A platform uses θ to shrink experiment
    * runtimes; the reduction percentage is the headline number.
    *
    * Determinism (the statsOlsMulti discipline): per-user period sums
    * round at 4 then cast DECIMAL(18,4), so every cross-user moment is
    * an EXACT decimal sum — order-independent on both engines — and the
    * closed forms run on doubles cast from agreed values, rounding at 6
    * only at the output.
    *
    * Scale shape: one (user) hash aggregate over the events scan is the
    * only data-sized work (the span midpoint is a broadcast one-row
    * crossJoin, the q2 idiom); the moment pass is a single map-side-
    * combinable aggregate over users.
    */
  def statsCuped(s: SparkSession, sf: String): DataFrame = {
    // rides the session-memoized user-day rollup (r10 verdict ask #6):
    // the value-IS-NOT-NULL pre-filter recovers as cv > 0 (SUM already
    // ignores nulls, so only all-null cells differ); per-period sums
    // ride the memo's exact long cents (r11 ask #4) — order-free by
    // construction, one correctly-rounded /100 at the user grain
    val ev = UserFrames.daily(s, sf)
      .filter(col("cv") > 0 && col("event_type").isNotNull)
      .select(col("user_id"), col("d"), col("xsc"))
    val span = midpoint(ev)
    val users = ev.crossJoin(span)
      .groupBy(col("user_id"))
      .agg(
        (sum(when(col("d") < col("mid"), col("xsc"))
          .otherwise(lit(0L))).cast("double") / 100d)
          .cast("decimal(18,4)").as("pre"),
        (sum(when(col("d") >= col("mid"), col("xsc"))
          .otherwise(lit(0L))).cast("double") / 100d)
          .cast("decimal(18,4)").as("post"))
    users.agg(
        count(lit(1)).as("n"),
        sum(col("pre")).as("sp"), sum(col("post")).as("ss"),
        sum(col("pre") * col("pre")).as("spp"),
        sum(col("pre") * col("post")).as("sps"),
        sum(col("post") * col("post")).as("sss"))
      .selectExpr("cast(n as bigint) as n_users",
        "cast(n as double) as nd", "cast(sp as double) as sp",
        "cast(ss as double) as ss", "cast(spp as double) as spp",
        "cast(sps as double) as sps", "cast(sss as double) as sss")
      .selectExpr("n_users",
        "(spp - sp * sp / nd) / (nd - 1.0d) as var_pre",
        "(sss - ss * ss / nd) / (nd - 1.0d) as var_post",
        "(sps - sp * ss / nd) / (nd - 1.0d) as cov")
      .selectExpr("n_users",
        "round(cov / var_pre, 6) as theta",
        "round(var_post, 6) as var_post",
        "round(var_post - cov * cov / var_pre, 6) as var_adjusted",
        "round(100.0d * cov * cov / (var_pre * var_post), 6) as reduction_pct")
  }

  /** Delta-method standard error for a ratio metric (Deng et al.,
    * KDD 2018) — the other half of the A/B toolkit [[statsCuped]]
    * opened: per-user revenue-per-event R̂ = Σx/Σy is a ratio of sums,
    * whose naive per-user-mean SE is WRONG (users are the i.i.d. unit,
    * not events); the delta method gives
    * se² = (var_x − 2R̂·cov + R̂²·var_y) / (n·ȳ²), the industry-
    * standard correction. Emits R̂, the delta SE, and the 95% CI.
    *
    * Determinism: the statsOlsMulti/statsCuped decimal-moment
    * discipline — per-user x rounds at 4 then DECIMAL(18,4), y is an
    * exact BIGINT count, every cross-user moment an exact decimal/long
    * sum; closed form on doubles cast from agreed values, round 6 at
    * the output (sqrt is IEEE-exact).
    *
    * Scale shape: one user-grain hash aggregate over the events scan,
    * then a single map-side-combinable moment aggregate — the same
    * two-stage shape as every moments key.
    */
  def statsDeltaMethod(s: SparkSession, sf: String): DataFrame = {
    // session-memoized user-day rollup (r10 verdict ask #6): y is an
    // exact cell-count sum; x sums the purchase cells' exact long cents
    // (r11 ask #4; coalesce keeps the all-null purchase cell a 0
    // contribution, exactly what the raw form's per-row CASE produced)
    val users = UserFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        (sum(when(col("event_type") === "purchase",
            coalesce(col("xsc"), lit(0L))).otherwise(lit(0L)))
          .cast("double") / 100d)
          .cast("decimal(18,4)").as("x"),
        sum(col("c")).as("y"))
    users.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y").cast("decimal(12,0)")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .selectExpr("cast(n as bigint) as n_users",
        "cast(n as double) as nd", "cast(sx as double) as sx",
        "cast(sy as double) as sy", "cast(sxx as double) as sxx",
        "cast(sxy as double) as sxy", "cast(syy as double) as syy")
      .selectExpr("n_users", "nd", "sx / sy as r", "sy / nd as ybar",
        "(sxx - sx * sx / nd) / (nd - 1.0d) as var_x",
        "(syy - sy * sy / nd) / (nd - 1.0d) as var_y",
        "(sxy - sx * sy / nd) / (nd - 1.0d) as cov")
      .selectExpr("n_users", "r",
        "sqrt((var_x - 2.0d * r * cov + r * r * var_y) / nd) / ybar as se")
      .selectExpr("n_users", "round(r, 6) as ratio",
        "round(se, 6) as se_delta",
        "round(r - 1.96d * se, 6) as ci_lo",
        "round(r + 1.96d * se, 6) as ci_hi")
  }

  /** TOST equivalence test (Schuirmann 1987) — the A/B question the
    * t-test family can't answer: not "did the metric move?" but "can we
    * CERTIFY it did not move by more than δ?" (the ship/no-ship gate
    * for refactors and infra migrations). Arms are the md5 user split
    * (the statsAbSrm idiom), metric is per-user purchase revenue, the
    * margin is 5% of the pooled mean, and both one-sided z statistics
    * must clear 1.645 — reported against the CRITICAL VALUE, not as
    * erf-based p-values, because erf is libm-dependent where the
    * z-to-critical comparison is a function of agreed values.
    *
    * Determinism: per-user sums round at 4 then DECIMAL(18,4); per-arm
    * moments are exact decimal sums; closed forms on doubles, round 6.
    *
    * Scale shape: user-grain aggregate → one 2-group moment aggregate;
    * map-side combinable throughout.
    */
  def statsTostEquivalence(s: SparkSession, sf: String): DataFrame = {
    // session-memoized user-day rollup (r10 verdict ask #6): purchase
    // cells with cv > 0 are exactly the raw value-IS-NOT-NULL rows;
    // per-user revenue sums the cells' exact long cents (r11 ask #4)
    val users = UserFrames.daily(s, sf)
      .filter(col("event_type") === "purchase" && col("cv") > 0)
      .groupBy(col("user_id"))
      .agg((sum(col("xsc")).cast("double") / 100d)
        .cast("decimal(18,4)").as("x"))
      .withColumn("a", arm.cast("int"))
    users.groupBy(col("a"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
           sum(col("x") * col("x")).as("sxx"))
      .agg(
        sum(when(col("a") === 1, col("n"))).as("na"),
        sum(when(col("a") === 0, col("n"))).as("nb"),
        sum(when(col("a") === 1, col("sx"))).as("sxa"),
        sum(when(col("a") === 0, col("sx"))).as("sxb"),
        sum(when(col("a") === 1, col("sxx"))).as("sxxa"),
        sum(when(col("a") === 0, col("sxx"))).as("sxxb"))
      .selectExpr("cast(na as double) as na", "cast(nb as double) as nb",
        "cast(sxa as double) as sxa", "cast(sxb as double) as sxb",
        "cast(sxxa as double) as sxxa", "cast(sxxb as double) as sxxb")
      .selectExpr("na", "nb", "sxa / na as ma", "sxb / nb as mb",
        "(sxxa - sxa * sxa / na) / (na - 1.0d) as va",
        "(sxxb - sxb * sxb / nb) / (nb - 1.0d) as vb",
        "0.05d * (sxa + sxb) / (na + nb) as margin")
      .selectExpr("na", "nb", "ma", "mb", "margin", "ma - mb as diff",
        "sqrt(va / na + vb / nb) as se")
      .selectExpr("cast(na as bigint) as n_a", "cast(nb as bigint) as n_b",
        "round(ma, 6) as mean_a", "round(mb, 6) as mean_b",
        "round(diff, 6) as diff", "round(margin, 6) as margin",
        "round((diff + margin) / se, 6) as z_lower",
        "round((margin - diff) / se, 6) as z_upper",
        "(diff + margin) / se > 1.644854d and " +
          "(margin - diff) / se > 1.644854d as equivalent")
  }

  /** Generalized ESD (Rosner 1983), k = 3 rounds — the multi-outlier
    * upgrade of [[statsGrubbs]], which is formally valid for exactly ONE
    * outlier and suffers masking when several are present (two extreme
    * days inflate the sd enough to hide each other). Each round
    * recomputes mean/sd from the REMAINING days, flags the max-|dev|
    * day (ties to the earlier date), removes it, and reports that
    * round's R statistic — so a masked second outlier surfaces once the
    * first is out.
    *
    * All three rounds are IN-PLAN: removal is a broadcast left-anti
    * join against the previous round's 1-row argmax (no driver
    * collects); each round's moment aggregate is the same exact-decimal
    * Grubbs algebra. The day-grain frame is calendar-bounded, so the
    * 3× recomputation is bounded work stacked on one events scan.
    */
  def timeseriesEsdAnomaly(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase" && col("cv") > 0)
      .select(col("d"), col("x4").cast("decimal(18,4)").as("y"))
    def argmaxRound(frame: DataFrame, i: Int): DataFrame = {
      val mo = frame.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
        .select(col("n"),
          (col("sy").cast("double") / col("n").cast("double")).as("m"),
          sqrt((col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double") /
                  col("n").cast("double")) /
               (col("n").cast("double") - 1.0)).as("sd"))
      frame.crossJoin(broadcast(mo))
        .withColumn("dev", abs(col("y").cast("double") - col("m")))
        .orderBy(col("dev").desc, col("d").asc)
        .limit(1)
        .select(lit(i).cast("int").as("round"),
          col("n").cast("bigint").as("n_remaining"),
          col("d").as("suspect_day"),
          round(col("y").cast("double"), 4).as("suspect_revenue"),
          round(col("dev") / col("sd"), 6).as("r_stat"))
    }
    val r1 = argmaxRound(daily, 1)
    val d2 = daily.join(broadcast(r1.select(col("suspect_day").as("d"))),
      Seq("d"), "left_anti")
    val r2 = argmaxRound(d2, 2)
    val d3 = d2.join(broadcast(r2.select(col("suspect_day").as("d"))),
      Seq("d"), "left_anti")
    val r3 = argmaxRound(d3, 3)
    r1.unionAll(r2).unionAll(r3).orderBy("round")
  }

  /** Peak concurrent sessions per day — the capacity-planning sweep
    * line: sessionize (the sessionize_gap 30-min rule), emit a +1 edge
    * at each session start and a −1 edge one microsecond after its end,
    * net the deltas per instant, and prefix-sum the edge stream; the
    * running value IS the live-session count and its per-day max is the
    * load peak. The per-instant NET (one group-by before the prefix)
    * is what makes ties well-defined: equal keys collapse to one edge,
    * so the running sum never depends on intra-key row order.
    *
    * Scale shape: the prefix rides [[Windows.distributedRunningSum]] —
    * bucketed local prefixes + a ≤ nParts-row offset window — so the
    * edge stream is NEVER single-partitioned (the win_distinct_running
    * discipline; a naive global ORDER BY window here is the classic
    * sweep-line scale-killer). Peak is reported at edge instants (the
    * only places concurrency changes), per session-UTC day.
    */
  def eventPeakConcurrency(s: SparkSession, sf: String): DataFrame = {
    val sessions = Pipeline.sessionIndexed(s, sf)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    val edges = sessions
      .select(unix_micros(col("st")).as("k"), lit(1L).as("delta"))
      .unionAll(sessions
        .select((unix_micros(col("en")) + 1).as("k"), lit(-1L).as("delta")))
      .groupBy(col("k")).agg(sum(col("delta")).as("net"))
    val peaks = Windows.distributedRunningSum(edges, "k", "net", 8)
      .select(to_date(expr("timestamp_micros(k)")).as("d"),
              col("running_sum"))
      .groupBy(col("d"))
      .agg(max(col("running_sum")).cast("bigint").as("peak_concurrent"))
    val started = sessions
      .groupBy(to_date(col("st")).as("d"))
      .agg(count(lit(1)).cast("bigint").as("n_started"))
    peaks.join(started, Seq("d"), "left")
      .select(col("d"), col("peak_concurrent"),
              coalesce(col("n_started"), lit(0L)).as("n_started"))
      .orderBy("d")
  }

  /** Pinball (quantile) loss of the seasonal-naive forecast at
    * q ∈ {0.1, 0.5, 0.9} — the scoring rule probabilistic forecasts are
    * actually graded on (M5, every demand-planning stack):
    * L_q(y, ŷ) = q·(y−ŷ)⁺ + (1−q)·(ŷ−y)⁺. The 0.5 row is half the MAE
    * [[timeseriesSnaiveBacktest]] reports (a spec-pinned identity); the
    * 0.1/0.9 asymmetry says whether the forecast under- or over-covers
    * the tails — the signal a symmetric MAE cannot carry.
    *
    * Determinism: forecasts and actuals are the same 4-rounded daily
    * values as snaive (calendar d−7 join); the loss is exact arithmetic
    * on agreed values, averaged then rounded at 6.
    *
    * Scale shape: daily-memo frame, one self-join on (type, d), a 3×
    * map-side explode of the quantile levels, one aggregate. */
  def statsQuantilePinball(s: SparkSession, sf: String): DataFrame = {
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("x"))
    val prior = daily.select(col("event_type"),
      date_add(col("d"), 7).as("d"), col("x").as("f"))
    daily.join(prior, Seq("event_type", "d"))
      .select(col("event_type"), col("x"), col("f"),
        explode(array(lit(0.1d), lit(0.5d), lit(0.9d))).as("q"))
      .withColumn("loss",
        when(col("x") >= col("f"), col("q") * (col("x") - col("f")))
          .otherwise((lit(1.0d) - col("q")) * (col("f") - col("x"))))
      .groupBy(col("event_type"), col("q"))
      .agg(count(lit(1)).cast("bigint").as("n_scored"),
           round(avg(col("loss")), 6).as("pinball"))
      .orderBy("event_type", "q")
  }

  /** Holt–Winters additive triple exponential smoothing (weekly season,
    * m = 7; α=0.3, β=0.2, γ=0.1) — the seasonal rung between
    * [[timeseriesHolt]] (level+trend) and [[timeseriesArForecast]]:
    * the level update reads the season from SEVEN steps back
    * (l_t = α(x_t − s_{t−7}) + (1−α)(l_{t−1}+b_{t−1})), so the
    * recursion state is (l, b, last-7-seasons) — carried here as a
    * rolling 7-slot array in the per-type imperative scan (the
    * timeseriesEwmVar O(days) discipline), and as a LIST column in the
    * oracle's recursive CTE. Seeds: l₇ = round₆(mean of the first 7
    * observed days), b₇ = 0, s₁..₇ = x_i − l₇; the seed mean rounds at
    * 6 BEFORE entering the recursion so both engines replay the
    * identical IEEE op sequence from agreed values. Emits every day
    * past the seed week with level/trend/season and the one-step
    * forecast l + b + s_{t−6}.
    *
    * Scale shape: one (type, day) frame off the daily memo; each
    * calendar-bounded series scans once per type inside flatMapGroups.
    */
  def timeseriesHoltWinters(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_type"), col("d"), col("x4").as("x"))
      .as[(String, java.sql.Date, Double)]
    daily.groupByKey(_._1)
      .flatMapGroups { (t: String, it: Iterator[(String, java.sql.Date, Double)]) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        if (rows.length <= 7) Iterator.empty
        else {
          var sum0 = 0.0
          var i = 0
          while (i < 7) { sum0 += rows(i)._3; i += 1 }
          val m0 = BigDecimal(sum0 / 7.0d)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          val sArr = Array.tabulate(7)(j => rows(j)._3 - m0)
          var l = m0; var b = 0.0d
          (8 to rows.length).iterator.map { tt =>
            val (_, d, x) = rows(tt - 1)
            val sOld = sArr((tt - 8) % 7)
            val lPrev = l
            l = 0.3d * (x - sOld) + 0.7d * (lPrev + b)
            b = 0.2d * (l - lPrev) + 0.8d * b
            val sNew = 0.1d * (x - l) + 0.9d * sOld
            sArr((tt - 8) % 7) = sNew
            (t, d, x, l, b, sNew, l + b + sArr((tt - 7) % 7))
          }
        }
      }
      .toDF("event_type", "d", "x", "l", "b", "sn", "fc")
      .select(col("event_type"), col("d"), round(col("x"), 4).as("x"),
        round(col("l"), 6).as("level"), round(col("b"), 6).as("trend"),
        round(col("sn"), 6).as("seasonal"),
        round(col("fc"), 6).as("forecast_next"))
      .orderBy("event_type", "d")
  }

  /** Time-boxed conversion rates — the funnel question
    * [[eventFunnelTime]]'s untimed rate can't answer: of the users who
    * saw a first view, how many purchased within 1 hour / 24 hours /
    * 7 days of it? (The windowed attribution cut every growth dashboard
    * is built on; the 1h-vs-7d spread separates impulse from considered
    * conversion.) Deltas are exact MICROSECOND integers (unix_micros
    * here, epoch_ns // 1000 in the oracle — the stream_late_audit
    * convention), so every window flag is integer-exact.
    *
    * Scale shape: two user-grain min-aggregates (first view, first
    * purchase-at-or-after-view) joined on user_id, then one global
    * count/sum rollup — hash-aggregate + equi-join shapes throughout,
    * map-side combinable, no windows.
    */
  def eventConversionWindow(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf).filter(col("user_id").isNotNull)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vt"))
    val firstPurchase = firstView
      .join(ev.filter(col("event_type") === "purchase")
              .select(col("user_id"), col("ts")), Seq("user_id"))
      .filter(col("ts") >= col("vt"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("pt"))
    val deltas = firstView
      .join(firstPurchase, Seq("user_id"), "left")
      .select((unix_micros(col("pt")) - unix_micros(col("vt")))
        .as("delta_us"))
    def within(us: Long) =
      sum(when(col("delta_us") <= us, 1L).otherwise(0L)).cast("bigint")
    deltas.agg(
        count(lit(1)).cast("bigint").as("n_viewers"),
        count(col("delta_us")).cast("bigint").as("n_converted"),
        within(3600L * 1000000).as("conv_1h"),
        within(86400L * 1000000).as("conv_24h"),
        within(7L * 86400 * 1000000).as("conv_7d"))
      .select(col("n_viewers"), col("n_converted"),
        col("conv_1h"), col("conv_24h"), col("conv_7d"),
        round(col("conv_1h") / col("n_viewers"), 6).as("rate_1h"),
        round(col("conv_24h") / col("n_viewers"), 6).as("rate_24h"),
        round(col("conv_7d") / col("n_viewers"), 6).as("rate_7d"))
  }

  /** Conversion-latency quantiles — how LONG the first-view → first-
    * purchase journey takes ([[eventConversionWindow]] reports how
    * many convert within fixed windows; this reports the p50/p90/p99
    * of the latency itself among converters, the SLA-style number
    * growth teams target). Deltas are exact microsecond integers;
    * quantiles are exact interpolated percentiles rounded at 6 and
    * re-expressed in hours.
    *
    * Scale shape: two user-grain min-aggregates joined user-grain
    * (the conversion-window shape), then one percentile aggregate
    * over the converter frame. */
  def eventConversionLatency(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf).filter(col("user_id").isNotNull)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vt"))
    val deltas = firstView
      .join(ev.filter(col("event_type") === "purchase")
              .select(col("user_id"), col("ts")), Seq("user_id"))
      .filter(col("ts") >= col("vt"))
      .groupBy(col("user_id"), col("vt"))
      .agg(min(col("ts")).as("pt"))
      .select((unix_micros(col("pt")) - unix_micros(col("vt")))
        .as("delta_us"))
    def qh(q: Double) =
      round(round(expr(s"percentile(delta_us, $q)"), 6) /
        lit(3600000000.0d), 6)
    deltas.agg(count(lit(1)).cast("bigint").as("n_converters"),
      qh(0.5).as("p50_hours"), qh(0.9).as("p90_hours"),
      qh(0.99).as("p99_hours"),
      round(max(col("delta_us")).cast("double") / lit(3600000000.0d), 6)
        .as("max_hours"))
  }

  /** Croston's method for INTERMITTENT demand — the forecast family's
    * sparse-series member (naive/EWMA/Holt/HW/AR all assume a dense
    * daily series; spare-parts-style demand with long zero gaps breaks
    * them). Demand grain: (l_partkey, l_shipdate) quantity totals —
    * each part ships on a handful of scattered days, the textbook
    * intermittent shape. Croston runs two EWMA recursions (α = 0.3)
    * over the DEMAND-DAY subsequence only (no calendar gap-fill —
    * the inter-demand interval q_i carries the gap): size
    * z_i = αx_i + (1−α)z_{i−1}, interval p_i = αq_i + (1−α)p_{i−1}
    * with q_i = days since the previous demand; init z_1 = x_1,
    * p_1 = 1 (documented convention). Per-period forecast = z/p, plus
    * the Syntetos–Boylan approximation (1 − α/2)·z/p that corrects
    * Croston's known positive bias.
    *
    * Scale shape: one (part, day) hash aggregate over the lineitem
    * scan, then a per-part O(demand-days) running-state struct fold
    * (NOT an array rebuild) — per-part arrays are bounded by that
    * part's demand-day count, never the table size. The oracle replays
    * the identical recursion as a per-part recursive CTE. */
  def timeseriesCroston(s: SparkSession, sf: String): DataFrame = {
    Tables.lineitem(s, sf)
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("d"))
      .agg(sum(col("l_quantity")).cast("double").as("x"))
      .groupBy(col("l_partkey"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("s"))
      .select(col("l_partkey"), size(col("s")).cast("bigint")
          .as("n_demand_days"),
        expr("""aggregate(s,
             named_struct('d', cast(null as date), 'n', 0L,
                          'z', cast(0.0 as double), 'p', cast(0.0 as double)),
             (acc, r) -> named_struct(
               'd', r.d, 'n', acc.n + 1L,
               'z', if(acc.n = 0L, r.x, 0.3d * r.x + 0.7d * acc.z),
               'p', if(acc.n = 0L, cast(1.0 as double),
                       0.3d * cast(datediff(r.d, acc.d) as double)
                         + 0.7d * acc.p)))""").as("st"))
      .select(col("l_partkey"), col("n_demand_days"),
        col("st.d").as("last_demand_day"),
        round(col("st.z"), 6).as("size_est"),
        round(col("st.p"), 6).as("interval_est"),
        round(col("st.z") / col("st.p"), 6).as("croston_forecast"),
        round(lit(0.85d) * col("st.z") / col("st.p"), 6).as("sba_forecast"))
      .orderBy("l_partkey")
  }

  /** Theta-method forecast (Assimakopoulos & Nikolopoulos — the M3
    * competition winner) of each event type's daily purchase revenue:
    * decompose into the θ=0 line (the OLS trend a + b·t, all long-run
    * signal) and the θ=2 line (2x_t − trend_t, double-amplitude local
    * signal), SES-smooth the θ=2 line (α = 0.5), and forecast the
    * average of the two lines at t = n+1. Captures trend + level in one
    * shot where plain SES flatlines and plain OLS overshoots.
    *
    * Determinism: the OLS moments are exact (integer t, round-4 x;
    * decimal Σtx), b and a round at 6 BEFORE the θ-line construction,
    * each θ2 value rounds at 6 before the fold — both engines then run
    * the identical recursion on identical inputs (the Holt discipline).
    *
    * Scale shape: data-sized work is the shared day-grain rollup
    * (DailyFrames memo); the moments are one tiny aggregate and the SES
    * fold is O(days) running-state per type. */
  def timeseriesTheta(s: SparkSession, sf: String): DataFrame = {
    val idx = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_type"), col("d"), col("x4").as("x"))
      .withColumn("t", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("d"))).cast("long"))
    val fit = idx.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
           sum(col("t") * col("t")).as("st2"),
           sum(col("x").cast("decimal(18,4)")).as("sx"),
           sum(col("t") * col("x").cast("decimal(18,4)")).as("stx"))
      .withColumn("b", round(
        (col("n") * col("stx") - col("st") * col("sx")).cast("double") /
          nullif((col("n") * col("st2") - col("st") * col("st"))
            .cast("double"), lit(0.0d)), 6))
      .withColumn("a", round(
        (col("sx").cast("double") - col("b") * col("st").cast("double")) /
          col("n").cast("double"), 6))
      .select(col("event_type"), col("n"), col("a"), col("b"))
    idx.join(broadcast(fit), "event_type")
      .withColumn("th2", round(lit(2.0d) * col("x") -
        (col("a") + col("b") * col("t").cast("double")), 6))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("a")).as("a"),
           max(col("b")).as("b"),
           sort_array(collect_list(struct(col("t"), col("th2")))).as("s"))
      .select(col("event_type"), col("n").cast("bigint").as("n_days"),
        col("a").as("intercept"), col("b").as("slope"),
        round(expr("""aggregate(s, cast(null as double),
          (acc, r) -> if(acc is null, r.th2,
                         0.5d * r.th2 + 0.5d * acc))"""), 6).as("ses_theta2"))
      .withColumn("forecast_next", round(lit(0.5d) *
        (col("ses_theta2") +
         (col("intercept") + col("slope") * (col("n_days") + lit(1L))
            .cast("double"))), 6))
      .orderBy("event_type")
  }

  /** Friedman test — the k-treatment repeated-measures rank test
    * (non-parametric two-way ANOVA): blocks = days, treatments = event
    * types, response = the day's event count. Within each complete
    * block the k counts get midranks (ties share the average
    * position), rank sums accumulate per treatment, and the
    * tie-corrected statistic is
    * Q = (k−1)·Σⱼ(Rⱼ − n(k+1)/2)² / (Σ r²ᵢₜ − nk(k+1)²/4).
    * Complements `stats_cochran_q` (binary response) and
    * `stats_kruskal_wallis` (unblocked) in the robust-stats family.
    *
    * Determinism: counts are integers, midranks are half-integers and
    * their squares quarter-integers — every sum is exact in binary
    * double; only the final ratio rounds (6).
    *
    * Scale shape: ranking windows partition on DAY (k ≈ types rows per
    * partition — parallel, bounded); everything after is day-grain. */
  def statsFriedman(s: SparkSession, sf: String): DataFrame = {
    val blocks = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("c"))
      .withColumn("k_day", count(lit(1)).over(Window.partitionBy(col("d"))))
    // complete blocks only: a day missing a treatment can't be ranked
    // against the others; k (and every global scalar below) stays
    // in-plan via broadcast one-row frames — no driver collects
    val kf = blocks.agg(max(col("k_day")).as("k"))
    val ranked = blocks.crossJoin(broadcast(kf))
      .filter(col("k_day") === col("k"))
      .withColumn("mr",
        rank().over(Window.partitionBy(col("d")).orderBy(col("c")))
            .cast("double") +
          (count(lit(1)).over(Window.partitionBy(col("d"), col("c")))
            .cast("double") - 1.0d) / 2.0d)
    val g = ranked.groupBy(col("k"))
      .agg(countDistinct(col("d")).as("nb"),
           sum(col("mr") * col("mr")).as("ssq"))
    ranked.groupBy(col("event_type"), col("k"))
      .agg(sum(col("mr")).as("rank_sum"))
      .join(broadcast(g), Seq("k"))
      .withColumn("q_stat", round(
        (col("k") - 1L).cast("double") *
          sum(pow(col("rank_sum") -
              col("nb").cast("double") * (col("k") + 1L).cast("double") / 2d,
            2)).over(Window.partitionBy()) /
          nullif(col("ssq") -
            col("nb").cast("double") * col("k").cast("double") *
            (col("k") + 1L).cast("double") * (col("k") + 1L).cast("double")
              / 4d, lit(0.0d)), 6))
      .select(col("event_type"), col("rank_sum"),
        col("nb").cast("bigint").as("n_blocks"),
        col("k").cast("bigint").as("k_treatments"),
        col("q_stat"), (col("k") - 1L).cast("bigint").as("df"))
      .orderBy("event_type")
  }

  /** Chapman capture–recapture estimate of the distinct-user
    * population — the two-sample mark-recapture estimator
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 applied to two INDEPENDENT
    * deterministic halves (md5 of user_id salted 'a' / 'b', first hex
    * digit 0–7). In a training-data pipeline this is how you estimate
    * true dedup coverage / population size from samples without a full
    * distinct pass; here the true count sits alongside so the key also
    * certifies the estimator's bias at this scale.
    *
    * Scale shape: one user-grain distinct aggregate carrying two
    * boolean marks, then a single global rollup — no joins, no
    * windows, map-side combinable. */
  def statsCaptureRecapture(s: SparkSession, sf: String): DataFrame = {
    def mark(salt: String) =
      substring(md5(concat(col("user_id").cast("string"), lit(salt))
        .cast("binary")), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7")
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_true"),
           sum(mark("a").cast("long")).as("n1"),
           sum(mark("b").cast("long")).as("n2"),
           sum((mark("a") && mark("b")).cast("long")).as("m"))
      .select(col("n_true").cast("bigint").as("n_true"),
        col("n1").cast("bigint").as("n_sample_a"),
        col("n2").cast("bigint").as("n_sample_b"),
        col("m").cast("bigint").as("n_recaptured"),
        round((col("n1") + 1L).cast("double") *
            (col("n2") + 1L).cast("double") /
            (col("m") + 1L).cast("double") - 1.0d, 4).as("chapman_estimate"))
      .withColumn("err_pct", round((col("chapman_estimate") -
        col("n_true").cast("double")) * 100.0d /
          col("n_true").cast("double"), 4))
  }

  /** Negative-binomial overdispersion fit of per-user event counts —
    * the burstiness diagnostic a Poisson rate model misses (user
    * activity is famously overdispersed: a few power users inflate the
    * variance far past the mean). Method-of-moments: dispersion index
    * D = s²/x̄, and when D > 1 the NB parameters r = x̄²/(s²−x̄),
    * p = x̄/s². The moments are exact integers (counts, Σx, Σx²), so
    * x̄ and s² = (nΣx² − (Σx)²)/(n(n−1)) are single exact-ratio
    * divisions; derived stats read the ROUNDED x̄/s² on both engines.
    *
    * Scale shape: one user-grain count aggregate, one global moment
    * rollup — map-side combinable, no windows, no joins. */
  def statsNegativeBinomial(s: SparkSession, sf: String): DataFrame = {
    // per-user counts are exact sums of the session-memoized user-day
    // rollup's cells (r10 verdict ask #6)
    UserFrames.daily(s, sf)
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
           sum(col("x") * col("x")).as("s2"))
      .select(col("n").cast("bigint").as("n_users"),
        round(col("s1").cast("double") / col("n").cast("double"), 6)
          .as("mean_count"),
        round((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
          nullif((col("n") * (col("n") - 1L)).cast("double"), lit(0.0d)), 6)
          .as("var_count"))
      .withColumn("dispersion_index",
        round(col("var_count") / col("mean_count"), 6))
      .withColumn("overdispersed", col("var_count") > col("mean_count"))
      .withColumn("nb_r", when(col("overdispersed"),
        round(col("mean_count") * col("mean_count") /
          (col("var_count") - col("mean_count")), 6)))
      .withColumn("nb_p", when(col("overdispersed"),
        round(col("mean_count") / col("var_count"), 6)))
  }

  /** Difference-in-differences — the canonical quasi-experimental
    * estimator: md5 halves as treated/control arms, the corpus span's
    * midpoint day as the intervention date (the `statsCuped` period
    * convention), per-user pre/post purchase revenue (0 when absent —
    * a balanced panel), and
    * DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), which nets
    * out both the arm-level baseline difference and the common time
    * trend. Cell sums stay exact DECIMAL(18,4); the four means round
    * at 6 before the DiD arithmetic on both engines.
    *
    * Scale shape: one user-grain aggregate carrying the arm flag and
    * both period sums, then a single global rollup — no windows, no
    * joins past the broadcast midpoint scalar. */
  def statsDiffInDiff(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf)
      .filter(col("user_id").isNotNull && col("value").isNotNull &&
        col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
    val span = midpoint(ev)
    ev.crossJoin(span)
      .groupBy(col("user_id"))
      .agg(
        round(sum(when(col("d") < col("mid"), col("value"))
          .otherwise(lit(0.0))), 4).cast("decimal(18,4)").as("pre"),
        round(sum(when(col("d") >= col("mid"), col("value"))
          .otherwise(lit(0.0))), 4).cast("decimal(18,4)").as("post"))
      .withColumn("t", arm)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"),
           sum(col("pre")).as("sp"), sum(col("post")).as("ss"))
      .groupBy()
      .agg(
        sum(when(col("t"), col("n"))).as("nt"),
        sum(when(!col("t"), col("n"))).as("nc"),
        max(when(col("t"),
          round(col("sp").cast("double") / col("n"), 6))).as("mtpre"),
        max(when(col("t"),
          round(col("ss").cast("double") / col("n"), 6))).as("mtpost"),
        max(when(!col("t"),
          round(col("sp").cast("double") / col("n"), 6))).as("mcpre"),
        max(when(!col("t"),
          round(col("ss").cast("double") / col("n"), 6))).as("mcpost"))
      .select(col("nt").cast("bigint").as("n_treated"),
        col("nc").cast("bigint").as("n_control"),
        col("mtpre").as("mean_treated_pre"),
        col("mtpost").as("mean_treated_post"),
        col("mcpre").as("mean_control_pre"),
        col("mcpost").as("mean_control_post"),
        round((col("mtpost") - col("mtpre")) -
              (col("mcpost") - col("mcpre")), 6).as("did_estimate"))
  }

  /** Group-sequential monitoring of the md5-arm revenue difference —
    * the peeking-safe companion to the fixed-horizon tests
    * (`experiment_ttest`/`stats_tost_equivalence`): the cumulative
    * two-sample z is evaluated at every daily interim look k of K, and
    * compared to the O'Brien–Fleming-style boundary
    * b_k = 1.96·√(K/k) — near-unspendable early, ≈1.96 at the final
    * look, so the familywise α stays ≈ 0.05 across all K peeks where
    * naive daily z-testing would multiply it.
    *
    * Determinism: per-day per-arm sums are exact DECIMAL(18,4)/longs;
    * cumulative sums stay exact (windows over the ≤ days-grain frame);
    * σ̂ is the pooled per-event value sd from exact decimal moments,
    * rounded at 6 before reuse; the two cumulative means round at 6
    * before the z arithmetic.
    *
    * Scale shape: the data-sized work is one (arm, day) aggregate off
    * the events scan; every window runs over the tiny day-grain frame
    * (the win_running exemption), and σ̂ is one broadcast scalar. */
  def statsGroupSequential(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        round(col("value"), 4).cast("decimal(18,4)").as("v"))
    // pooled per-event sd from exact decimal moments, round-6
    val sd = broadcast(ev.agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .select(round(sqrt((col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") /
            nullif(col("n").cast("double"), lit(0.0d))) /
        nullif((col("n") - 1L).cast("double"), lit(0.0d))), 6).as("sigma")))
    val daily = ev.withColumn("t", arm)
      .groupBy(col("d"))
      .agg(sum(when(col("t"), col("v"))).as("sa"),
           count(when(col("t"), lit(1))).as("na"),
           sum(when(!col("t"), col("v"))).as("sb"),
           count(when(!col("t"), lit(1))).as("nb"))
    val wCum = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("k", row_number().over(Window.orderBy(col("d"))).cast("long"))
      .withColumn("csa", sum(col("sa")).over(wCum))
      .withColumn("cna", sum(col("na")).over(wCum))
      .withColumn("csb", sum(col("sb")).over(wCum))
      .withColumn("cnb", sum(col("nb")).over(wCum))
      .withColumn("bigk", count(lit(1)).over(Window.partitionBy()))
      .crossJoin(sd)
      .filter(col("cna") > 0L && col("cnb") > 0L)
      .withColumn("ma", round(col("csa").cast("double") /
        col("cna").cast("double"), 6))
      .withColumn("mb", round(col("csb").cast("double") /
        col("cnb").cast("double"), 6))
      .withColumn("z_k", round((col("ma") - col("mb")) /
        nullif(col("sigma") * sqrt(lit(1.0d) / col("cna").cast("double") +
          lit(1.0d) / col("cnb").cast("double")), lit(0.0d)), 6))
      .withColumn("obf_bound", round(lit(1.96d) *
        sqrt(col("bigk").cast("double") / col("k").cast("double")), 6))
      .select(col("d"), col("k"), col("bigk").cast("bigint").as("n_looks"),
        col("cna").cast("bigint").as("n_a"),
        col("cnb").cast("bigint").as("n_b"),
        col("ma").as("mean_a"), col("mb").as("mean_b"),
        col("z_k"), col("obf_bound"),
        (abs(col("z_k")) > col("obf_bound")).as("boundary_crossed"))
      .orderBy("d")
  }

  /** Hurst exponent by rescaled-range (R/S) analysis of each event
    * type's daily revenue — the long-memory diagnostic (H ≈ 0.5 random
    * walk, > 0.5 persistent/trending, < 0.5 mean-reverting): complete
    * blocks of m ∈ {7, 14} days each yield R (range of the cumulative
    * deviations from the block mean) over S (block sd), and H is the
    * two-point log₂ slope of the mean R/S across scales.
    *
    * Determinism: the whole inner loop is INTEGER arithmetic — revenue
    * in 1e-4 units (X = round(x·10⁴) as bigint), cumulative deviations
    * scaled through by m (D_j = m·ΣX_{≤j} − j·S_b — exact bigints, so
    * the running-window sum is reassociation-proof where a float
    * prefix would be engine-dependent), R and S recovered as single
    * exact-ratio doubles, per-block R/S rounded at 6 → DECIMAL sums
    * for the cross-block mean. Only log₂ touches libm, on round-6
    * agreed inputs.
    *
    * Scale shape: data-sized work is the shared daily rollup; block
    * windows partition on (type, scale, block) — ≤ 14-row frames. */
  def statsHurst(s: SparkSession, sf: String): DataFrame = {
    val idx = DailyFrames.daily(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_type"),
        round(col("x4") * 10000d).cast("long").as("xi"),
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("d"))).cast("long").as("rn"))
    val scales = { import s.implicits._; Seq(7L, 14L).toDF("m") }
    val blocks = idx
      .crossJoin(broadcast(scales))
      .withColumn("blk", expr("(rn - 1) div m"))
      .withColumn("j",
        row_number().over(Window.partitionBy(col("event_type"), col("m"),
          col("blk")).orderBy(col("rn"))).cast("long"))
    val complete = blocks
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy(col("event_type"), col("m"), col("blk"))))
      .filter(col("bn") === col("m"))
    val wBlk = Window.partitionBy(col("event_type"), col("m"), col("blk"))
    val wRun = wBlk.orderBy(col("j"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBlock = complete
      .withColumn("sb", sum(col("xi")).over(wBlk))
      // xi ≈ revenue·10⁴ can reach ~1e10 at large SFs, so xi² and sb²
      // overflow BIGINT — the squared moments ride DECIMAL(38,0)
      // (HUGEINT on the oracle side), still exact integers
      .withColumn("s2b", sum(col("xi").cast("decimal(19,0)") *
        col("xi").cast("decimal(19,0)")).over(wBlk))
      .withColumn("dj", col("m") * sum(col("xi")).over(wRun) -
        col("j") * col("sb"))
      .groupBy(col("event_type"), col("m"), col("blk"))
      .agg(max(col("dj")).as("dmax"), min(col("dj")).as("dmin"),
        max(col("sb")).as("sb"), max(col("s2b")).as("s2b"))
      // R = (maxD − minD)/(m·10⁴); S = sqrt((mΣX² − S²)/(m(m−1)))/10⁴;
      // the 10⁴ scale cancels in R/S except the residual m factors.
      // rs stays UNROUNDED: its inputs are exact integers, so the
      // double is bit-identical on both engines, while a per-block
      // round(·, 6) would flake on ties (Spark rounds the decimal
      // expansion, DuckDB rounds in floating point — they disagree at
      // x.xxxxxx5 boundaries, observed at sf0.01). One final round
      // happens after the cross-block mean.
      .select(col("event_type"), col("m"), col("blk"),
        (((col("dmax") - col("dmin")).cast("double") /
            col("m").cast("double")) /
          nullif(sqrt((col("m").cast("decimal(38,0)") * col("s2b") -
              col("sb").cast("decimal(19,0)") * col("sb").cast("decimal(19,0)"))
              .cast("double") /
            (col("m") * (col("m") - 1L)).cast("double")), lit(0.0d)))
          .as("rs"))
      .filter(col("rs").isNotNull)
    val perScale = perBlock.groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("nb"),
        sort_array(collect_list(struct(col("blk"), col("rs")))).as("s"))
      .select(col("event_type"), col("m"), col("nb"),
        round(expr("aggregate(s, cast(0.0 as double)," +
          " (acc, r) -> acc + r.rs)") / col("nb"), 6).as("mean_rs"))
    perScale.groupBy(col("event_type"))
      .agg(
        max(when(col("m") === 7L, col("nb"))).cast("bigint").as("n_blocks_7"),
        max(when(col("m") === 7L, col("mean_rs"))).as("rs_7"),
        max(when(col("m") === 14L, col("nb"))).cast("bigint")
          .as("n_blocks_14"),
        max(when(col("m") === 14L, col("mean_rs"))).as("rs_14"))
      .filter(col("rs_7").isNotNull && col("rs_14").isNotNull)
      .withColumn("hurst", round(log2(col("rs_14")) - log2(col("rs_7")), 6))
      .orderBy("event_type")
  }

  /** k-step absorption probability into 'purchase' — first-passage
    * analysis on the event-type Markov chain: 'purchase' is made
    * absorbing (P(purchase→purchase) = 1), and 4 synchronous
    * iterations of aᵢ ← Σⱼ Pᵢⱼ·aⱼ (a⁰ = 1 on purchase, 0 elsewhere)
    * give P(reach purchase within 4 steps | start = i) — the
    * conversion-modeling quantity [[eventMarkovStationary]]'s
    * long-run π cannot answer. Exact-ratio transition rows; each
    * iteration's reduction is the seeded to-type-ordered fold (the
    * markov discipline).
    *
    * Scale shape: the data-sized work is `transitionCounts`' per-user
    * lag window + (from, to) count aggregate; iterations run on the ≤ k²
    * matrix frame. */
  def eventAbsorbingMarkov(s: SparkSession, sf: String): DataFrame = {
    val pairs = transitionCounts(s, sf)
    val rowTot = pairs.groupBy(col("from_t")).agg(sum(col("c")).as("tot"))
    val p = pairs.join(rowTot, Seq("from_t"))
      .select(col("from_t"), col("to_t"),
        (col("c").cast("double") / col("tot").cast("double")).as("p"))
    var a = rowTot.select(col("from_t").as("t"),
      when(col("from_t") === "purchase", lit(1.0d)).otherwise(lit(0.0d))
        .as("a"))
    for (_ <- 1 to 4) {
      // absorption is enforced by PINNING a(purchase) = 1 after every
      // step (not by rewriting purchase's transition row, which would
      // silently break if the purchase→purchase pair never occurs)
      a = p.join(a.withColumnRenamed("t", "to_t"), Seq("to_t"))
        .select(col("from_t"), col("to_t"), (col("p") * col("a")).as("term"))
        .groupBy(col("from_t"))
        .agg(sort_array(collect_list(struct(col("to_t"), col("term"))))
          .as("s"))
        .select(col("from_t").as("t"),
          when(col("from_t") === "purchase", lit(1.0d)).otherwise(
            expr("aggregate(s, cast(0.0 as double)," +
              " (acc, r) -> acc + r.term)")).as("a"))
    }
    rowTot.select(col("from_t").as("t"),
        col("tot").cast("bigint").as("n_transitions_out"))
      .join(a, Seq("t"))
      .select(col("t").as("event_type"), col("n_transitions_out"),
        round(col("a"), 6).as("p_absorb_4step"))
      .orderBy("event_type")
  }

  /** Standardized mean differences — the covariate-balance diagnostic
    * that accompanies [[statsPropensityStrat]]: for each pre-period
    * covariate (event count, revenue — the propensity features),
    * SMD = (x̄_T − x̄_C)/√((s²_T + s²_C)/2); |SMD| < 0.1 is the
    * conventional "balanced" bar. With md5 arms the key certifies the
    * diagnostic reads near-zero on genuinely random assignment.
    *
    * Determinism: per-arm moments are exact longs/decimals; means and
    * variances are exact-ratio doubles rounded at 6 before the SMD
    * arithmetic. One user-grain aggregate + one global rollup. */
  def statsCovariateBalance(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
    val span = midpoint(ev)
    // covariates ride INTEGER units (revenue in 1e-4, the hurst
    // discipline): a decimal s1² would trip Spark's 38-digit
    // precision-loss cap where the oracle's HUGEINT does not
    val users = ev.crossJoin(span)
      .groupBy(col("user_id"))
      .agg(sum(when(col("d") < col("mid"), 1L).otherwise(0L)).as("x1"),
        round(round(sum(when(col("d") < col("mid"), col("value"))
          .otherwise(lit(0.0))), 4) * 10000d).cast("long").as("x2"))
      .withColumn("t", arm)
    def armStats(feature: String, name: String, scale: Double) = {
      val moments = users.groupBy(col("t"))
        .agg(count(lit(1)).as("n"), sum(col(feature)).as("s1"),
          sum(col(feature).cast("decimal(19,0)") *
            col(feature).cast("decimal(19,0)")).as("s2"))
        .select(col("t"),
          col("n").cast("bigint").as("n"),
          round(col("s1").cast("double") / col("n").cast("double") /
            lit(scale), 6).as("mean"),
          round((col("n").cast("decimal(38,0)") * col("s2") -
              col("s1").cast("decimal(19,0)") * col("s1").cast("decimal(19,0)"))
              .cast("double") /
            nullif((col("n") * (col("n") - 1L)).cast("double"), lit(0.0d)) /
            lit(scale * scale), 6).as("variance"))
      val tRow = moments.filter(col("t"))
        .select(col("n").as("n_treated"), col("mean").as("mean_treated"),
          col("variance").as("var_treated"))
      val cRow = moments.filter(!col("t"))
        .select(col("n").as("n_control"), col("mean").as("mean_control"),
          col("variance").as("var_control"))
      tRow.crossJoin(cRow)
        .select(lit(name).as("covariate"), col("n_treated"), col("n_control"),
          col("mean_treated"), col("mean_control"),
          round((col("mean_treated") - col("mean_control")) /
            nullif(sqrt((col("var_treated") + col("var_control")) / 2.0d),
              lit(0.0d)), 6).as("smd"))
        .withColumn("balanced", abs(col("smd")) < 0.1d)
    }
    armStats("x1", "pre_event_count", 1.0)
      .unionAll(armStats("x2", "pre_revenue", 10000.0))
      .orderBy("covariate")
  }

  /** Entropy rate of the event-type Markov chain — bits of surprise
    * per step, H = −Σᵢ πᵢ Σⱼ Pᵢⱼ log₂Pᵢⱼ, with P the exact-ratio
    * one-step transition matrix of `eventMarkovStationary` and π the
    * EMPIRICAL from-state distribution (exact count ratios — no power
    * iteration, so the whole statistic is replayable arithmetic). The
    * per-state conditional entropy Hᵢ is reported per row; the inner
    * and outer reductions are explicit seeded folds in to-type /
    * from-type order (the markov discipline — a bare float SUM is
    * order-dependent).
    *
    * Scale shape: the data-sized work is `transitionCounts`' per-user
    * lag window + (from, to) count aggregate; every fold runs over
    * ≤ k ≈ 5 rows. */
  def statsEntropyRate(s: SparkSession, sf: String): DataFrame = {
    val pairs = transitionCounts(s, sf)
    val rowTot = pairs.groupBy(col("from_t"))
      .agg(sum(col("c")).as("tot"))
    val grand = broadcast(rowTot.agg(sum(col("tot")).as("gt")))
    val hCond = pairs.join(rowTot, Seq("from_t"))
      .select(col("from_t"), col("to_t"),
        (col("c").cast("double") / col("tot").cast("double")).as("p"))
      .groupBy(col("from_t"))
      .agg(sort_array(collect_list(struct(col("to_t"), col("p")))).as("s"))
      .select(col("from_t"),
        expr("aggregate(s, cast(0.0 as double)," +
          " (acc, r) -> acc - r.p * log2(r.p))").as("h_i"))
    val perState = rowTot.join(hCond, Seq("from_t"))
      .crossJoin(grand)
      .select(col("from_t"), col("tot"),
        (col("tot").cast("double") / col("gt").cast("double")).as("pi"),
        col("h_i"))
    val rate = perState
      .groupBy()
      .agg(sort_array(collect_list(struct(col("from_t"), col("pi"),
        col("h_i")))).as("s"))
      .select(expr("aggregate(s, cast(0.0 as double)," +
        " (acc, r) -> acc + r.pi * r.h_i)").as("hr"))
    perState.crossJoin(broadcast(rate))
      .select(col("from_t").as("event_type"),
        col("tot").cast("bigint").as("n_transitions_out"),
        round(col("pi"), 6).as("p_state"),
        round(col("h_i"), 6).as("h_conditional_bits"),
        round(col("hr"), 6).as("entropy_rate_bits"))
      .orderBy("event_type")
  }
}
