package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Window functions (SURVEY.md §2.5).
  *
  * Determinism rule: every window ORDER BY ends in a unique tiebreak key
  * (event_id / o_orderkey / c_custkey) — row_number/ntile over a non-unique
  * ordering is nondeterministic across engines AND across Spark runs.
  *
  * Scale note: a window = one shuffle on its partition keys + a
  * per-partition sort. All windows here partition on a key with bounded or
  * data-proportional cardinality (user_id, c_custkey, mktsegment) — no
  * single-partition global windows except over pre-aggregated day counts
  * (win_running: ~30 rows after the groupBy, safe at any input scale) and
  * [[bucketPrefix]]'s offset window over one row per bucket.
  */
object Windows {

  /** row_number / rank / dense_rank: rank each user's events by value. */
  def winRank(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    Tables.events(s, sf)
      .select(col("user_id"), col("event_id"),
              round(col("value"), 4).as("value"),
              row_number().over(w).cast("bigint").as("rn"),
              rank().over(w).cast("bigint").as("rnk"),
              dense_rank().over(w).cast("bigint").as("drnk"))
      .filter(col("rn") <= 5)
      .orderBy("user_id", "rn")
  }

  /** Top-3 orders per customer by totalprice (rank-then-filter). */
  def winTopKPerGroup(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, sf)
      .select(col("o_custkey"), col("o_orderkey"),
              round(col("o_totalprice"), 4).as("o_totalprice"),
              row_number().over(w).cast("bigint").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** lag/lead: inter-event gap in seconds per user (sessionization
    * precursor — the gaps feed stream_session's batch twin). */
  def winLagLead(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, sf)
      .select(col("user_id"), col("event_id"), col("ts"),
              (col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
                .as("gap_sec"),
              lead(col("event_id"), 1).over(w).as("next_event_id"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Running sum + 7-row moving average over per-day revenue. Aggregates
    * first (shuffle to ~days rows), then windows over the tiny result —
    * the only safe shape for an unpartitioned window at 100 TB. */
  def winRunning(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("ts").cast("date").as("d"))
      .agg(round(sum(col("value")), 4).as("day_value"))
    val w = Window.orderBy(col("d"))
    daily.select(col("d"), col("day_value"),
        round(sum(col("day_value"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
          .as("running_sum"),
        round(avg(col("day_value")).over(w.rowsBetween(-6, 0)), 4)
          .as("ma7"))
      .orderBy("d")
  }

  /** RANGE frame: per market segment, count of customers within 100.0
    * acctbal below each customer (value-based frame, not row-based). */
  def winRangeFrame(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .select(col("c_mktsegment"), col("c_custkey"),
              round(col("c_acctbal"), 4).as("c_acctbal"),
              // SQL window spec: the Scala rangeBetween DSL only takes Long
              // offsets, and the ordering column is a double.
              expr("""count(1) OVER (PARTITION BY c_mktsegment
                     | ORDER BY c_acctbal
                     | RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)"""
                .stripMargin).as("peers_within_100"))
      .orderBy("c_mktsegment", "c_acctbal", "c_custkey")

  /** ntile / percent_rank / cume_dist: acctbal quartiles per segment. */
  def winNtilePercent(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(s, sf)
      .select(col("c_mktsegment"), col("c_custkey"),
              ntile(4).over(w).cast("bigint").as("quartile"),
              round(percent_rank().over(w), 6).as("pct_rank"),
              round(cume_dist().over(w), 6).as("cume"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** first/last value in an unbounded frame: first and last event value
    * per user-day, one row per (user, day). */
  def winFirstLast(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, sf)
      .withColumn("d", col("ts").cast("date"))
      .select(col("user_id"), col("d"),
              round(first(col("value")).over(w), 4).as("first_value"),
              round(last(col("value")).over(w), 4).as("last_value"))
      .distinct()
      .orderBy("user_id", "d")
  }

  /** Monotone log-scale bucket key (±8 subdivisions per e-fold),
    * sign-symmetric so any real metric domain chunks monotonically:
    * ordering by (bucket, value) equals ordering by value, which is what
    * lets a global running sum split into [[bucketPrefix]]'s parallel
    * per-bucket prefixes plus a small per-bucket offset pass. */
  private[graft] def valueBucket(v: Column): Column =
    (signum(v) * floor(log1p(abs(v)) * 8.0)).cast("bigint")

  /** Sum of `c` over the buckets before this one, on a frame already at
    * bucket grain (one row per `partition`, `bucket`): the offset phase of
    * [[bucketPrefix]]. With no `partition` this is the one single-
    * partition window of the scan, bounded by the bucket count. */
  private[graft] def priorBuckets(c: Column, bucket: String,
                                  partition: String*): Column =
    coalesce(sum(c).over(Window.partitionBy(partition.map(col): _*)
      .orderBy(col(bucket))
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** Global running sums without a single-partition window over
    * row-grain data — the two-phase prefix scan (Blelloch 1990). For each
    * `c` in `sums` adds `<c>_before` (the sum of `c` over all rows before
    * this one in (`partition`; `bucket`, `order`) order) and `<c>_total`
    * (the sum over the whole `partition`). The caller's `bucket` column
    * must be monotone in `order` (every key of bucket i precedes every
    * key of bucket j for i < j) and `order` must end in a unique
    * tiebreak, or the ROWS frame sees an arbitrary tie order:
    *   1. intra-bucket running sum (window PARTITIONED by bucket —
    *      parallel);
    *   2. [[priorBuckets]] and the partition total over the per-bucket
    *      summary (one window, bounded by the bucket count);
    *   3. a broadcast join back on (`partition`, `bucket`).
    * Sums of integers or decimals are exact in any order, so
    * `<c>_before` equals the serial running sum. Unused `_before` /
    * `_total` columns prune away. */
  private[graft] def bucketPrefix(df: DataFrame, bucket: String,
                                  order: Seq[Column], sums: Seq[String],
                                  partition: Seq[String] = Nil): DataFrame = {
    val keys = partition :+ bucket
    // the total shares priorBuckets' partition and order, so both are one
    // Window over the summary (Catalyst groups window expressions by spec)
    val byBucket = Window.partitionBy(partition.map(col): _*)
      .orderBy(col(bucket))
    val summary = df.groupBy(keys.map(col): _*)
      .agg(sum(col(sums.head)).as(sums.head),
           sums.tail.map(c => sum(col(c)).as(c)): _*)
      .select(keys.map(col) ++ sums.flatMap(c => Seq(
        priorBuckets(col(c), bucket, partition: _*).as(s"${c}_prior"),
        sum(col(c)).over(byBucket.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as(s"${c}_total"))): _*)
    val intra = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col("*") +: sums.map(c => sum(col(c)).over(intra).as(s"${c}_run")): _*)
      .join(broadcast(summary), keys)
      .select(df.columns.map(col) ++ sums.map(c =>
          (col(s"${c}_prior") + (col(s"${c}_run") - col(c))).as(s"${c}_before")) ++
        sums.map(c => col(s"${c}_total")): _*)
  }

  /** Global running aggregate WITHOUT a single-partition window — the
    * distributed prefix-sum, adding `running_sum` (inclusive) to `df`
    * over `valueCol` in `orderCol` order: [[bucketPrefix]] with `nParts`
    * equal-width chunks of the order key as the bucket. A bare
    * `Window.orderBy(k)` moves the whole input through one task (Spark
    * even warns). */
  def distributedRunningSum(df: DataFrame, orderCol: String,
                            valueCol: String, nParts: Int): DataFrame = {
    // The chunk id must be a PURE FUNCTION OF THE KEY VALUE, never of
    // physical placement: the chunked frame feeds two plan branches
    // (local sums, chunk totals), and spark_partition_id() over a range
    // exchange would only agree between them if the exchange is reused —
    // with reuse disabled (or a plan change breaking canonical match),
    // independently-sampled RangePartitioners can draw different
    // boundaries and the offsets would be silently wrong. Equal-width
    // buckets over [min, max] are deterministic; skewed keys unbalance
    // chunks but never break correctness (production swaps in
    // approxQuantile bounds for balance). Numeric order keys only.
    val bounds = df.agg(min(col(orderCol)).cast("double").as("lo"),
                        max(col(orderCol)).cast("double").as("hi"))
    val bucketed = df.crossJoin(broadcast(bounds))
      .withColumn("pid",
        when(col(orderCol).isNull, lit(0))   // nulls order first → chunk 0
          .otherwise(least(lit(nParts - 1), greatest(lit(0), floor(
            (col(orderCol).cast("double") - col("lo")) * nParts /
              greatest(col("hi") - col("lo") + 1d, lit(1d))).cast("int")))))
      .drop("lo", "hi")
    bucketPrefix(bucketed, "pid", Seq(col(orderCol)), Seq(valueCol))
      .select(df.columns.map(col) :+
        (col(s"${valueCol}_before") + col(valueCol)).as("running_sum"): _*)
  }

  /** Running DISTINCT count over a growing global frame. Spark disallows
    * DISTINCT inside window aggregates, and the collect_set-over-
    * global-window idiom both single-partitions the data and grows its
    * set state with the input. The exact decomposition used instead:
    * distinct-so-far(e) = Σ_{e' ≤ e} is_first(e') where is_first marks
    * a user's first purchase (row_number over the per-user window —
    * hash-parallel), and the global running sum of the marks is the
    * distributedRunningSum prefix pattern above. Every stage is
    * partition-parallel; no set state anywhere. */
  def winDistinctRunning(s: SparkSession, sf: String): DataFrame = {
    val marked = Tables.events(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"))
      .withColumn("is_first",
        // the isNotNull guard matches COUNT(DISTINCT user_id) semantics:
        // a NULL user is no user, not one extra distinct user
        (row_number().over(Window.partitionBy(col("user_id"))
           .orderBy(col("event_id"))) === 1 &&
         col("user_id").isNotNull).cast("long"))
    distributedRunningSum(marked, "event_id", "is_first", 8)
      .select(col("event_id"),
              col("running_sum").cast("bigint").as("distinct_users_so_far"))
      .orderBy("event_id")
  }

  /** Rolling 7-day revenue per user — the time-interval RANGE frame
    * (`RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW` over a
    * date ordering), which win_range_frame's numeric band does not
    * exercise: the frame width is calendar time, so gap days shrink the
    * window's row count instead of sliding over a fixed row budget.
    *
    * Scale shape: daily pre-aggregation first (shuffle ∝ user-days, the
    * same reduction every rolling-metric pipeline does), then one
    * window partitioned by user — frame state is at most 7 day-rows.
    */
  def winRolling7d(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(round(sum(col("value")), 4).as("day_value"))
      .select(col("user_id"), col("d"), col("day_value"),
        expr("""round(sum(day_value) OVER (PARTITION BY user_id ORDER BY d
               | RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW), 4)"""
          .stripMargin).as("rolling_7d_revenue"),
        expr("""count(1) OVER (PARTITION BY user_id ORDER BY d
               | RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)"""
          .stripMargin).as("active_days_7d"))
      .orderBy("user_id", "d")

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands analytic (`d - row_number()` is constant within a
    * run of consecutive days, so it IS the island key), reduced to each
    * user's best streak with ties broken toward the earliest start.
    *
    * Scale shape: ONE explicit shuffle. repartition(user_id) up front;
    * the (user, day) distinct, the day-rank window, the island
    * aggregate, and the best-streak rank all accept it via the subset
    * rule, so EnsureRequirements adds no further exchange. Per-task
    * state is one user's distinct active days.
    */
  def winActivityStreak(s: SparkSession, sf: String): DataFrame = {
    val wDay = Window.partitionBy(col("user_id")).orderBy(col("d").asc)
    val wBest = Window.partitionBy(col("user_id"))
      .orderBy(col("streak_days").desc, col("streak_start").asc)
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .repartition(col("user_id"))
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .withColumn("island", date_sub(col("d"), row_number().over(wDay)))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak_days"),
           min(col("d")).as("streak_start"),
           max(col("d")).as("streak_end"))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("streak_days"),
              col("streak_start"), col("streak_end"))
      .orderBy("user_id")
  }

  /** Maximum drawdown of each event type's cumulative daily value — the
    * classic peak-to-trough risk measure transplanted to ops metrics
    * ("how far below its best-so-far did this KPI sink, and when"):
    * running cumulative sum, running peak, drawdown = peak − cum, and
    * the max with its FIRST occurrence date (an explicit min-date
    * tie-break — max_by would pick an engine-dependent row on ties).
    *
    * Scale shape: events collapse to (type, day) first — the only
    * data-sized aggregate; both running windows and the argmax
    * join-back run on the calendar-bounded daily frame partitioned by
    * type (statsAutocorr discipline). Per-type sequential cumsums over
    * 4-rounded day sums are deterministic and engine-identical.
    */
  def winDrawdown(s: SparkSession, sf: String): DataFrame = {
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = DailyFrames.daily(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("d"), col("x4").as("x"))
      .select(col("event_type"), col("d"),
        sum(col("x")).over(wRun).as("cum"))
      .select(col("event_type"), col("d"),
        (max(col("cum")).over(wRun) - col("cum")).as("dd"))
    // round BEFORE the max so the equality join-back below compares the
    // same 4-rounded doubles on both sides (rounding after max could
    // disagree with a row's own rounding at the boundary)
    val rounded = daily.select(col("event_type"), col("d"),
      round(col("dd"), 4).as("dd"))
    val worst = rounded.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
           max(col("dd")).as("max_drawdown"))
    rounded
      .join(broadcast(worst), Seq("event_type"))
      .filter(col("dd") === col("max_drawdown"))
      .groupBy(col("event_type"), col("n_days"), col("max_drawdown"))
      .agg(min(col("d")).as("worst_day"))
      .select(col("event_type"), col("n_days"), col("max_drawdown"),
              col("worst_day"))
      .orderBy("event_type")
  }

  /** Pareto / ABC inventory classification — the classic "which 20% of
    * parts carry 80% of revenue" cut: parts ranked by discounted
    * revenue, cumulative revenue share walked down the ranking, class
    * A while cumulative share ≤ 80%, B ≤ 95%, C after. Emits the
    * three class rows (part count, revenue, revenue share) — the
    * assortment summary, not the part-grain ranking.
    *
    * Determinism: per-part revenue rounds once at 4 and is then cast
    * DECIMAL(18,4), so every downstream sum (bucket offsets, intra-
    * bucket prefixes, class totals) is EXACT decimal arithmetic in any
    * accumulation order; the only double ops are the final share
    * divisions.
    *
    * Scale shape: the global revenue-descending prefix and the revenue
    * total come from [[bucketPrefix]] over the (negated) log bucket of
    * the per-part revenues, ordered (revenue desc, partkey) — no global
    * window ever sees part-grain data. The class roll-up is a 3-row
    * aggregate.
    */
  def winParetoAbc(s: SparkSession, sf: String): DataFrame = {
    val rev = Tables.lineitem(s, sf)
      .groupBy(col("l_partkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        4).cast("decimal(18,4)").as("rev"))
      // negated so that ascending buckets walk revenue descending
      .withColumn("bkt", -valueBucket(col("rev").cast("double")))
    bucketPrefix(rev, "bkt", Seq(col("rev").desc, col("l_partkey").asc),
        Seq("rev"))
      .withColumn("cum_share", (col("rev_before") + col("rev"))
        .cast("double") / col("rev_total").cast("double"))
      .select(col("rev"),
        when(col("cum_share") <= 0.80, lit("A"))
          .when(col("cum_share") <= 0.95, lit("B"))
          .otherwise(lit("C")).as("abc_class"),
        col("cum_share"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).cast("bigint").as("n_parts"),
           round(sum(col("rev")).cast("double"), 2).as("class_revenue"),
           round(max(col("cum_share")), 6).as("cum_share_end"))
      .orderBy("abc_class")
  }
}
