package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables

/** Multi-dimensional and custom aggregations (SURVEY.md §2.4 remainder).
  *
  * Null-ordering trap: rollup/cube emit NULL grouping keys; Spark's
  * default ASC puts nulls FIRST, DuckDB's puts them LAST — every ORDER BY
  * here pins `asc_nulls_first` and the oracle SQL pins `NULLS FIRST`.
  */
object AdvancedAggs {

  private def revenueByGeo(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .join(broadcast(Tables.nation(s, sf)),
            col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, sf)),
            col("n_regionkey") === col("r_regionkey"))

  /** ROLLUP (region, nation): per-nation, per-region subtotal, grand total.
    * grouping() columns disambiguate "real NULL" from "subtotal row". */
  def aggRollup(s: SparkSession, sf: String): DataFrame =
    revenueByGeo(s, sf)
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("c_acctbal")), 2).as("sum_bal"),
           count(lit(1)).as("n_cust"),
           grouping(col("r_name")).cast("bigint").as("g_region"),
           grouping(col("n_name")).cast("bigint").as("g_nation"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)

  /** CUBE over (returnflag, linestatus): all 2^2 grouping combinations. */
  def aggCube(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
           count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** Explicit GROUPING SETS with grouping_id — via SQL (the DataFrame API
    * has no grouping-sets verb; `spark.sql` over a temp view is the
    * idiomatic route and optimizes identically to rollup/cube: one Expand
    * node, no input re-read per set). */
  def aggGroupingSets(s: SparkSession, sf: String): DataFrame = {
    Tables.orders(s, sf).createOrReplaceTempView("gs_orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       round(sum(o_totalprice), 2) AS sum_price,
        |       count(*) AS n_orders
        |FROM gs_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** Ordered list aggregation — the reference's chat-transcript-assembly
    * analog [PK]: per-user sorted distinct event types, joined to a CSV
    * string (deterministic: set semantics + explicit sort). */
  def aggCollectSorted(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_set(col("event_type"))), ",")
             .as("types_csv"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id")

  /** PIVOT — the reference's Likert-items-to-columns reshape [PK]. The
    * pivot value list is explicit: without it Spark runs an extra
    * distinct-collect job over the full input to discover columns. */
  def aggPivot(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 4))
      .orderBy("user_id")

  /** Typed Aggregator: numerically-stable geometric mean (sum of logs —
    * a plain product overflows; log-sum is also order-insensitive up to
    * fp rounding, which the 4-decimal round absorbs). */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), x: Double): (Double, Long) =
      if (x > 0) (b._1 + math.log(x), b._2 + 1) else b
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(b: (Double, Long)): Double =
      if (b._2 == 0) Double.NaN else math.exp(b._1 / b._2)
    def bufferEncoder = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder = Encoders.scalaDouble
  }

  /** Scale scoring — the reference's Likert-score pattern [PK: row-wise
    * mean over item columns, e.g. team-viability from survey items]: the
    * per-user pivoted sums act as items; score = mean of the non-null
    * items. Pure row-wise array arithmetic, no extra shuffle beyond the
    * pivot's. */
  def derivedScaleScore(s: SparkSession, sf: String): DataFrame =
    aggPivot(s, sf)
      .withColumn("items", expr(
        "filter(array(click, error, purchase, signup, view), x -> x IS NOT NULL)"))
      .select(col("user_id"),
        size(col("items")).cast("bigint").as("n_items"),
        round(expr("aggregate(items, 0D, (acc, x) -> acc + x)") /
              size(col("items")), 4).as("scale_score"))
      .orderBy("user_id")

  /** UNPIVOT/melt — the inverse reshape of aggPivot: the wide per-user
    * matrix back to (user, event_type, value) long form. Null cells (a
    * user with no events of a type) are dropped, matching SQL UNPIVOT. */
  def aggUnpivot(s: SparkSession, sf: String): DataFrame =
    aggPivot(s, sf)
      .unpivot(
        Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"),
              col("signup"), col("view")),
        "event_type", "sum_value")
      .filter(col("sum_value").isNotNull)
      .orderBy("user_id", "event_type")

  /** Exact percentiles (linear interpolation — same algorithm as
    * DuckDB's quantile_cont). Exact percentile needs the full sorted
    * group; at 100 TB use approx_percentile (t-digest, mergeable) — the
    * exact form is the oracle-checkable correctness anchor. The three
    * quartiles come from ONE percentile(array) pass, then unpack to
    * scalar columns at the boundary (the grading comparator cannot
    * sort/hash array cells). */
  def aggPercentile(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr(
        "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("pq"),
        round(expr("percentile(l_quantity, 0.5D)"), 4).as("median_qty"))
      .select(
        col("l_returnflag"),
        round(element_at(col("pq"), 1), 4).as("price_q25"),
        round(element_at(col("pq"), 2), 4).as("price_q50"),
        round(element_at(col("pq"), 3), 4).as("price_q75"),
        col("median_qty"))
      .orderBy("l_returnflag")

  /** Approximate percentiles — the 100 TB twin of aggPercentile: the
    * sketch (Spark's Greenwald-Khanna variant) is MERGEABLE, so partial
    * aggregation works and no group ever needs its full sorted values in
    * one place. Accuracy knob = max relative error 1/10000. Oracle-N
    * (sketch is engine-specific); self-tested against the exact
    * quartiles within tolerance in WindowsAggsSpec. */
  def aggApproxPercentile(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr(
        "approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), 10000)")
        .as("pq"),
        count(lit(1)).as("n_rows"))
      .select(
        col("l_returnflag"),
        round(element_at(col("pq"), 1), 4).as("approx_q25"),
        round(element_at(col("pq"), 2), 4).as("approx_q50"),
        round(element_at(col("pq"), 3), 4).as("approx_q75"),
        col("n_rows"))
      .orderBy("l_returnflag")

  /** Mergeable HLL distinct-count sketches (Apache DataSketches via
    * Spark's hll_sketch_agg/hll_union_agg) — THE 100 TB distinct-count
    * pattern: sketch each shard/day partial independently, then merge
    * partials with a register-max union instead of re-reading raw data.
    * The query computes the per-event-type distinct-user estimate BOTH
    * ways — direct one-pass sketch and per-day partials unioned — plus
    * the exact count: union-of-partials must equal the direct sketch
    * bit-for-bit (register max is associative/commutative), which the
    * spec asserts, along with estimate-vs-exact accuracy. Oracle-N by
    * design (engine-specific sketch registers; DuckDB has no
    * DataSketches HLL) — driver records rows-only. */
  def aggHllPartitioned(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf)
    val lgK = lit(12)
    val direct = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lgK))
             .as("est_direct"),
           countDistinct(col("user_id")).as("n_exact"))
    val merged = ev.withColumn("day", to_date(col("ts")))
      .groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id"), lgK).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    direct.join(merged, "event_type")
      .select(col("event_type"), col("n_exact"),
              col("est_direct"), col("est_merged"))
      .orderBy("event_type")
  }

  /** Statistical aggregates: correlation, covariance, stddev/variance
    * (sample + population). Skewness/kurtosis are deliberately absent —
    * Spark uses population formulas, DuckDB bias-corrected sample ones.
    * This key's PURPOSE is the native builtin surface, so corr/covar
    * stay Spark's streaming FP co-moments (order-sensitive in the last
    * ulps, tolerated by the round-4/6 contract and watched by the
    * stability sweeps); the order-free exact-moment formulation lives
    * in profile_corr_matrix / stats_spearman, where the VALUE is the
    * product rather than the builtin. */
  def aggStats(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qp_corr"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4)
          .as("qp_covar_pop"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("qp_covar_samp"),
        round(stddev_samp(col("l_quantity")), 6).as("q_stddev"),
        round(stddev_pop(col("l_quantity")), 6).as("q_stddev_pop"),
        round(var_samp(col("l_quantity")), 6).as("q_var"),
        round(var_pop(col("l_quantity")), 6).as("q_var_pop"))
      .orderBy("l_returnflag")

  /** Higher central moments — population skewness and excess kurtosis
    * per group (the distribution-shape profile next to agg_stats'
    * spread columns). Spark's `skewness`/`kurtosis` are population
    * (uncorrected) g₁/g₂; DuckDB's are sample-corrected, so the oracle
    * re-derives the population values from raw power sums
    * (m₃/m₂^1.5, m₄/m₂²−3) instead of calling its builtins. */
  def aggHigherMoments(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(round(skewness(col("l_quantity")), 4).as("qty_skew"),
           round(kurtosis(col("l_quantity")), 4).as("qty_kurt"),
           count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")

  /** Custom UDAF surface: geometric mean of l_quantity per returnflag. */
  def aggUdafTyped(s: SparkSession, sf: String): DataFrame = {
    val geoMean = udaf(GeoMean)
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(round(geoMean(col("l_quantity")), 4).as("geo_mean_qty"),
           count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")
  }

  /** LISTAGG — the ANSI ordered string aggregation (Spark 4 syntax:
    * `listagg(DISTINCT x, sep) WITHIN GROUP (ORDER BY x)`): distinct
    * languages per source as one deterministic CSV cell. The WITHIN
    * GROUP order makes the cell value total-order stable, which is what
    * lets it hash-match at all. */
  def aggListagg(s: SparkSession, sf: String): DataFrame =
    // pre-distinct instead of listagg(DISTINCT ...): Spark 4.1's
    // DataFrame agg path throws a SortOrder cast error on the
    // DISTINCT + WITHIN GROUP combination (works in plain SQL only)
    Tables.documents(s, sf)
      .filter(col("source").isNotNull && col("lang").isNotNull)
      .select(col("source"), col("lang")).distinct()
      .groupBy(col("source"))
      .agg(expr("listagg(lang, ',') WITHIN GROUP (ORDER BY lang)")
             .as("langs"),
           count(lit(1)).as("n_langs"))
      .orderBy("source")

  /** Deterministic per-group mode — each user's dominant event type
    * (ties broken toward the lexicographically smallest type, so the
    * answer is total-order stable on both engines; a bare `mode()`
    * aggregate is tie-nondeterministic and would never hash-match).
    *
    * Scale shape: ONE explicit shuffle. The plan repartitions by
    * user_id up front; the (user_id, event_type) count accepts it
    * (subset rule: hashpartitioning(user_id) satisfies a clustered
    * distribution on a superset key set), and the rank window needs
    * exactly user_id clustering — so EnsureRequirements inserts no
    * further exchange. Per-task sort space is the distinct-type count
    * per user (tiny), never the raw event history.
    */
  def aggMode(s: SparkSession, sf: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type").asc)
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_total", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_event"),
              col("n").as("n_mode"),
              round(col("n") / col("n_total"), 4).as("share"))
      .orderBy("user_id")
  }

  /** Per-user Shannon entropy of the event-type distribution — the
    * behavioral-diversity metric (0 = monoculture, ln(k) = uniform over
    * k types), with the type count and the dominant type's share.
    *
    * IEEE trap: a single-type user yields -sum(1·ln 1) = **-0.0**, and
    * -0.0 and +0.0 hash differently through parquet; `+ 0.0` normalizes
    * to +0.0 on both engines (IEEE: -0.0 + 0.0 = +0.0).
    *
    * Scale shape: rides the session-memoized UserFrames rollup (r10
    * verdict ask #6) — the (user, type) counts are exact sums of the
    * checkpointed day-cells, so the events scan is paid once per
    * session, not per key; the per-user total window and final
    * aggregate share the (user, type) shuffle with no further
    * exchange; state per group is the distinct-type count, never raw
    * events.
    */
  def aggEntropy(s: SparkSession, sf: String): DataFrame = {
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val p = col("n") / col("total")
    UserFrames.daily(s, sf)
      // one user_id exchange up front; the (user, type) aggregate, the
      // per-user window and the final per-user aggregate all accept it
      // via the subset rule — single-shuffle plan, PlanAuditSpec-pinned
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("c")).as("n"))
      .withColumn("total", sum(col("n")).over(wU))
      .groupBy(col("user_id"))
      .agg(round(-sum(p * log(p)) + lit(0.0), 6).as("entropy"),
           count(lit(1)).cast("bigint").as("n_types"),
           round(max(p), 4).as("top_share"))
      .orderBy("user_id")
  }

  /** Bitwise aggregate family (bit_and / bit_or / bit_xor / bit_count)
    * over the order keys per return flag — the aggregates behind bitmap
    * semantics: flag-union as OR, flag-intersection as AND, and
    * parity/toggle tracking as XOR (a key appearing an even number of
    * times cancels out — the classic find-the-unpaired-element trick).
    *
    * Scale shape: all three are commutative-associative single-word
    * aggregates — perfectly map-side combinable, constant state, the
    * cheapest aggregate family that exists.
    */
  def aggBitwise(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(bit_and(col("l_orderkey")).as("keys_and"),
           bit_or(col("l_orderkey")).as("keys_or"),
           bit_xor(col("l_orderkey")).as("keys_xor"),
           sum(bit_count(col("l_orderkey")).cast("bigint")).as("total_bits"))
      .orderBy("l_returnflag")

  /** grouping()/grouping_id() over a rollup — the disambiguation
    * functions that make super-aggregate rows machine-readable: a NULL
    * grouping key can mean "subtotal over this column" OR a genuinely
    * NULL data value, and only the grouping bitmask tells them apart
    * (the reason BI tools refuse rollups without it). Bit order is
    * leftmost-key-is-MSB on both engines.
    *
    * Scale shape: same single Expand + partial/final HashAggregate as
    * agg_rollup — the grouping id is a constant per expand branch,
    * zero extra cost. */
  def aggGroupingId(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
           grouping(col("l_linestatus")).cast("bigint").as("g_status"),
           grouping_id().cast("bigint").as("gid"),
           count(lit(1)).as("n"))
      .orderBy(col("gid").asc, col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** EXACT weighted median (lower median: the smallest price whose
    * cumulative quantity weight reaches half the total) of the unit
    * price, weighted by quantity — the inventory-weighted "typical
    * price" that `percentile(price, 0.5)` (row-weighted) misstates
    * whenever weight and value correlate.
    *
    * Scale shape: the classic formulation is a global running sum over
    * the price order — a single-task window. Here it is
    * [[Windows.bucketPrefix]] over per-distinct-price weight sums
    * (map-side combinable), and a threshold pick as one aggregate. All comparisons are INTEGER
    * (2·cum ≥ W, quantities are integral) — no W/2 fraction, no FP
    * boundary flake.
    */
  def aggWeightedMedian(s: SparkSession, sf: String): DataFrame = {
    val byVal = Tables.lineitem(s, sf)
      .select(round(col("l_extendedprice"), 2).as("v"),
              col("l_quantity").cast("long").as("wt"))
      .groupBy(col("v")).agg(sum(col("wt")).as("wv"))
      .withColumn("bkt", Windows.valueBucket(col("v")))
    Windows.bucketPrefix(byVal, "bkt", Seq(col("v").asc), Seq("wv"))
      .agg(max(col("wv_total")).cast("bigint").as("total_weight"),
           min(when(lit(2L) * (col("wv_before") + col("wv")) >=
             col("wv_total"), col("v"))).as("weighted_median"))
  }

  /** EXACT distinct counting via roaring-style bitmap aggregation
    * (bitmap_bucket_number / bitmap_construct_agg / bitmap_count) —
    * the scale pattern for exact NDV when approx_count_distinct's
    * error is not acceptable and count(DISTINCT) shuffles every raw
    * id. Ids fold into fixed 4 KB bitmaps per 32768-id bucket FIRST
    * (map-side: each partition contributes one partial bitmap per
    * bucket, OR-merged by the agg), so the shuffle carries
    * |types|·⌈id-range/32768⌉ bitmaps instead of one row per distinct
    * id — at 10⁹ users that's ~30k bitmap rows vs 10⁹ id rows, and the
    * second bucket-grain aggregate is a trivial sum of popcounts. The
    * oracle re-derives the SAME numbers as plain count(DISTINCT),
    * proving the bitmap algebra exact, not approximate.
    */
  def aggBitmapDistinct(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"),
               expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).cast("bigint").as("ndv_users"))
      .orderBy("event_type")

  /** Half-life time-decayed aggregates — the "recent activity counts
    * more" rollup every freshness-weighted dashboard and retrieval
    * ranker runs: each event's weight halves per 7-day step of age
    * (measured back from the corpus's own last day), and the per-type
    * decayed count/value sit next to the raw ones. The exponent is the
    * INTEGER week count, so every weight is an exact power of two —
    * pow(0.5, k) is bit-identical across engines, where a fractional
    * exponent (exp·ln roundings differ per libm) would be a latent
    * hash flake.
    *
    * Scale shape: the as-of anchor is a one-row max aggregate that
    * broadcast-crossJoins back in-plan (the TextOps scalar pattern —
    * no driver pre-pass); the rollup is ONE map-side-combinable
    * HashAggregate over the scan. A streaming deployment maintains the
    * same statistic incrementally by multiplying the running aggregate
    * by 2^-Δweeks at each anchor advance.
    */
  def aggTimeDecay(s: SparkSession, sf: String): DataFrame = {
    val anchor = Tables.events(s, sf)
      .agg(max(to_date(col("ts"))).as("d_max"))
    Tables.events(s, sf)
      .filter(col("event_type").isNotNull)
      .crossJoin(broadcast(anchor))
      .select(col("event_type"),
        // EXACT decimal accumulation: 0.5^k (k clamped to 18 so the
        // weight has ≤18 decimal digits) is an exact double AND an
        // exact DECIMAL; value carries 2 decimals. The weight is ≤1.0
        // with ≤18 decimals, so DECIMAL(19,18) holds it exactly — and
        // the product (19,18)×(18,2) resolves to (38,20) on Spark with
        // NO precision loss (a (38,20) weight resolved to (38,6) under
        // allowPrecisionLoss, half-up rounding each product) and to
        // width 37 on DuckDB (a width-56 multiply silently fell back
        // to DOUBLE) — so both engines now run identical exact decimal
        // arithmetic, order-free. A double sum here hit a .00005
        // rounding boundary at sf0.001; weights below 2^-18 (≈4e-6)
        // are economically zero anyway.
        pow(lit(0.5),
          least(floor(datediff(col("d_max"), to_date(col("ts"))) / lit(7)),
            lit(18)).cast("double"))
          .cast("decimal(19,18)").as("w"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_events"),
           round(sum(col("w")), 4).cast("double").as("decayed_count"),
           round(sum(col("w") * col("v")), 4).cast("double")
             .as("decayed_value"))
      .orderBy("event_type")
  }

  /** Count–min sketch — Spark's OTHER built-in frequency sketch
    * (`count_min_sketch` aggregate → `util.sketch.CountMinSketch`),
    * completing the sketch family next to HLL (distinct), Misra–Gries
    * (top-k), and Bloom (membership): a fixed seed makes the sketch
    * bytes deterministic, and probing the ~KB summary on the DRIVER is
    * the intended usage (the sketch IS the driver-sized artifact; the
    * probe set is the distributed exact top-20, a bounded collect).
    * With 31 distinct words against a 2 000-wide sketch, the min-over-
    * rows estimate is collision-free at every SF — verified exact, so
    * the key is oracle-paired against the plain counts; a real
    * natural-language corpus would make it approximate, which the
    * CMS overcount guarantee (est ≥ true) covers.
    *
    * Scale shape: ONE partial+final aggregate builds the sketch
    * (map-side mergeable, constant state); the top-20 probe list is a
    * distributed TakeOrdered. Nothing data-sized reaches the driver.
    */
  def aggCountMin(s: SparkSession, sf: String): DataFrame = {
    val words = Tables.documents(s, sf)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val skBytes = words
      .agg(expr("count_min_sketch(word, 0.001d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val probes = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word").asc).limit(20)
      .collect().map(_.getString(0))
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      probes.map(w => org.apache.spark.sql.Row(w, cms.estimateCount(w)))
        .toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("word",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("est_count",
          org.apache.spark.sql.types.LongType))))
      .orderBy("word")
  }

  /** Heavy hitters through the NATIVE TypedImperativeAggregate path
    * (functions/MisraGriesTopK.scala) — the engine-grade sketch
    * surface: arbitrary mutable state, binary partial buffers,
    * map-side combine; only 256-entry summaries cross the shuffle at
    * any corpus size. `profile_heavy_hitters` stays the exact groupBy
    * baseline; this key grades the sketch machinery itself.
    *
    * Oracle-pairable despite being a sketch: the corpus vocabulary
    * (31 words at every SF) is far below the 256 counters, so
    * Misra–Gries never overflows and the estimates ARE the exact
    * counts — hash-stable against the plain GROUP BY top-10. The spec
    * separately forces overflow with m=4 and asserts the ε = n/m
    * bounds that hold under any merge order.
    */
  def aggHeavyHittersSketch(s: SparkSession, sf: String): DataFrame = {
    Tables.documents(s, sf)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .agg(expr("graft_topk(word, 256, 10)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"),
              col("e.est_count").cast("bigint").as("est_count"),
              col("e.max_overcount").cast("bigint").as("max_overcount"))
  }

  /** Per-type value quantiles through the NATIVE t-digest sketch
    * (functions/TDigestQuantiles.scala) — the tail-accurate mergeable
    * quantile summary next to Misra–Gries top-k: p50/p90/p99 with the
    * group size and the digest's centroid count (the ≤2δ bound made
    * visible). Oracle-N by design — centroid layout is merge-order-
    * dependent like every parallel sketch; the spec asserts the rank-
    * error bound against exact quantiles under two different
    * partitionings, plus monotonicity and n conservation. δ = 200.
    *
    * Scale shape: map-side partial digests, ~3 KB summaries across the
    * shuffle per group — the exact `percentile` key stays the graded
    * baseline; this key grades the engine's sketch machinery.
    */
  def aggTdigest(s: SparkSession, sf: String): DataFrame = {
    Tables.events(s, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr("graft_tdigest(value, 200)").as("td"))
      .select(col("event_type"), explode(col("td")).as("e"))
      .select(col("event_type"),
              col("e.quantile").as("quantile"),
              round(col("e.estimate"), 4).as("estimate"),
              col("e.n").cast("bigint").as("n_values"),
              col("e.n_centroids").cast("bigint").as("n_centroids"))
      .orderBy("event_type", "quantile")
  }
}
