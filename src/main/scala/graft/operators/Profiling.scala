package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data profiling — the ANALYZE-TABLE shape: per-column row counts,
  * null counts, exact distinct cardinalities, and min/max, emitted as
  * one long-format row per column. The first query anyone runs against
  * an unfamiliar 100 TB table, and the input to every downstream
  * decision (join strategy, partition count, skew handling).
  *
  * Scale shape: ALL columns profile in ONE scan. The naive form — one
  * wide aggregate with four COUNT(DISTINCT)s and string MIN/MAXes —
  * plans as a chain of SortAggregates (variable-length string buffers
  * disqualify HashAggregate) over a 5× Expand, re-sorting the expanded
  * input per phase: measured 3.2 s at sf0.1. This form melts the four
  * columns to (column_name, value) long format — 4× rows but narrow —
  * and aggregates twice:
  *   1. groupBy(column_name, value) COUNT — values are grouping KEYS,
  *      not buffers, so this is a codegen'd HashAggregate with map-side
  *      combine; it absorbs the full scan and performs the distinct.
  *   2. per-column roll-up of the ~|distinct| survivors — the only
  *      SortAggregate, over orders-of-magnitude fewer rows. min/max pick
  *      by numeric order via min_by/max_by where the column is numeric
  *      (the melt carries a sort surrogate), lexicographic otherwise.
  * At 100 TB phase 1 is the scan bottleneck (correct), phase 2 is
  * |distinct values| — the same asymptotics as engines' own ANALYZE.
  * Doubles surface through DECIMAL(18,2) so both engines print
  * identically in the homogeneous string schema.
  */
object Profiling {

  def profileTable(s: SparkSession, sf: String): DataFrame = {
    val melted = Tables.orders(s, sf).select(expr(
      """stack(4,
        |  'o_custkey',       CAST(o_custkey AS STRING),       CAST(o_custkey AS DOUBLE),
        |  'o_orderstatus',   o_orderstatus,                   CAST(NULL AS DOUBLE),
        |  'o_orderpriority', o_orderpriority,                 CAST(NULL AS DOUBLE),
        |  'o_totalprice',    CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS STRING),
        |                     CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS DOUBLE)
        |) AS (column_name, val, num)""".stripMargin))
    val counts = melted.groupBy(col("column_name"), col("val"), col("num"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("column_name"))
      .agg(sum(col("c")).as("n_rows"),
           coalesce(sum(when(col("val").isNull, col("c"))), lit(0L)).as("n_null"),
           count(col("val")).as("n_distinct"),
           coalesce(min_by(col("val"), col("num")), min(col("val"))).as("min_val"),
           coalesce(max_by(col("val"), col("num")), max(col("val"))).as("max_val"))
      .orderBy("column_name")
  }

  /** Equi-width bin `bin` of `v` over [`lo`, `hi`] in `n` bins, the
    * max landing in the last. hi == lo (a constant column) would make
    * the ratio NaN — and NaN orders as the LARGEST double in Spark,
    * silently binning everything at n − 1 — so the degenerate case pins
    * to bin 0 on both engines. */
  private def equiWidthBin(n: Int): Column =
    when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor(((col("v") - col("lo")) /
        (col("hi") - col("lo"))) * n.toDouble), lit(n - 1.0)).cast("bigint"))
      .as("bin")

  /** The [`bin_lo`, `bin_hi`] edges of [[equiWidthBin]]'s `bin`, each
    * rounded at 4. */
  private def binEdges(n: Int): Seq[Column] = Seq(
    round(col("lo") + col("bin") * (col("hi") - col("lo")) / n.toDouble, 4)
      .as("bin_lo"),
    round(col("lo") + (col("bin") + 1) * (col("hi") - col("lo")) / n.toDouble, 4)
      .as("bin_hi"))

  /** Equi-width histogram of o_totalprice in 20 bins — profile_table's
    * companion: distribution shape, not just min/max. Scale shape: the
    * (min, max) bounds are one scalar aggregate broadcast back into the
    * binning projection (no driver round-trip, no second pass logic on
    * the driver), then the bin assignment is a map-side expression and
    * the bin counts one tiny shuffle of ≤ 20 groups with map-side
    * combine. Two passes over the column total — the same contract as
    * every engine's equi-width histogram (bounds must exist before
    * binning; a streaming single-pass variant would use a sketch).
    */
  def aggHistogram(s: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(s, sf)
    val bounds = o.agg(min(col("o_totalprice")).as("lo"),
                       max(col("o_totalprice")).as("hi"))
    o.select(col("o_totalprice").as("v"))
      .crossJoin(broadcast(bounds))
      .select(equiWidthBin(20), col("lo"), col("hi"))
      .groupBy(col("bin"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin") +: binEdges(20) :+ col("n"): _*)
      .orderBy("bin")
  }

  /** Heavy hitters — the skew diagnostic run BEFORE a big join: top-10
    * most frequent values per key column with their traffic share. A
    * key this report surfaces is the key you salt
    * (ScalePatterns.joinSkewSalted) or let AQE skew-split.
    *
    * Scale shape: one hash aggregate per column bounds reducer input by
    * CARDINALITY (map-side combine absorbs the very skew being
    * measured — a hot key arrives pre-counted per task); top-10 is
    * TakeOrderedAndProject over the aggregated counts, never a global
    * sort of raw rows. Values surface as strings so both columns share
    * one schema; ties at the cutoff break on the string value, which
    * both engines compare identically.
    */
  def profileHeavyHitters(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf)
    val total = ev.agg(count(lit(1)).as("total"))
    // NULL keys are folded to a '<NULL>' sentinel BEFORE grouping so the
    // null group competes in the top-10 under plain string comparison on
    // both engines (Spark sorts NULLS FIRST asc, DuckDB NULLS LAST — a
    // count tie involving a NULL group would otherwise diverge).
    def top10(c: String): DataFrame = ev
      .groupBy(coalesce(col(c).cast("string"), lit("<NULL>")).as("value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("value").asc)
      .limit(10)
      .select(lit(c).as("column_name"), col("value"), col("n"))
    top10("user_id").unionAll(top10("event_type"))
      .crossJoin(broadcast(total))
      .select(col("column_name"), col("value"), col("n"),
              round(col("n").cast("double") / col("total"), 6).as("share"))
      .orderBy(col("column_name"), col("n").desc, col("value"))
  }

  /** Approximate frequency via Count-Min sketch — the third classic
    * mergeable sketch next to HLL (agg_hll_partitioned) and KLL-style
    * quantiles (agg_approx_percentile): fixed d×w counter memory, one
    * pass, mergeable across partitions/days, never undercounts. The key
    * builds the sketch over user_id (eps 0.001, δ 0.01, fixed seed →
    * deterministic), then reports the exact top-10 heavy hitters next to
    * their sketch estimates and the overcount.
    *
    * Scale shape: the sketch build is one map-side-mergeable pass (the
    * same shape a per-partition/day rollup keeps as state); the KB-sized
    * sketch broadcasts and estimation is a map-side lookup — the
    * streaming-friendly alternative to the exact groupBy in
    * profileHeavyHitters when the key space no longer fits an exact
    * aggregate. Oracle-N (sketch internals are engine-specific); the
    * spec asserts the CMS contract — estimate ≥ exact always, overcount
    * ≤ ⌈eps·n⌉ at the sketch's confidence — and determinism. */
  def aggFreqSketch(s: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(s, sf).filter(col("user_id").isNotNull)
    val cms = ev.stat.countMinSketch("user_id", eps = 0.001,
                                     confidence = 0.99, seed = 42)
    val b = s.sparkContext.broadcast(cms)
    val est = udf((u: Long) => b.value.estimateCount(u))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id").asc)
      .limit(10)
      .select(col("user_id"), col("exact_n"),
              est(col("user_id")).as("cms_n"))
      .withColumn("overcount", col("cms_n") - col("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id").asc)
  }

  /** Data-quality constraint suite — the Deequ/dbt-tests shape: declared
    * expectations validated in bulk, one row per rule with its violation
    * count. The gate a production pipeline runs before publishing a
    * table version.
    *
    * Scale shape: all single-table rules (not-null, range,
    * accepted-values, uniqueness) fold into ONE scan of orders — each is
    * a conditional count inside the same aggregate, so adding a rule
    * costs an expression, not a pass. The referential rule is the one
    * that must touch two tables: orphan lineitem rows via a left-anti
    * join on the key (hash join, AQE-broadcastable when the filtered dim
    * is small). Uniqueness = rows minus distinct keys, exact.
    */
  def qualityConstraints(s: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(s, sf)
    val single = o.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("o_custkey"))).as("v_notnull"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_unique"),
      coalesce(sum(when(col("o_totalprice") <= 0, 1L)), lit(0L)).as("v_range"),
      coalesce(sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)),
               lit(0L)).as("v_accepted"))
    val orphans = Tables.lineitem(s, sf).select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v_fk"))
    single.crossJoin(broadcast(orphans))
      .select(expr(
        """stack(5,
          |  'o_custkey_not_null',      v_notnull,
          |  'o_orderkey_unique',       v_unique,
          |  'o_totalprice_positive',   v_range,
          |  'o_orderstatus_accepted',  v_accepted,
          |  'l_orderkey_fk_orders',    v_fk
          |) AS (rule, violations)""".stripMargin))
      .select(col("rule"), col("violations"),
              (col("violations") === 0L).as("pass"))
      .orderBy("rule")
  }

  /** 2-D histogram — the hour-of-day × value-band activity heatmap (a
    * profiling staple: when does traffic happen, and at what order
    * sizes). Value bins are equi-width over the observed [min, max]
    * (degenerate hi==lo pinned to bin 0 exactly as agg_histogram), the
    * hour axis is categorical 0–23.
    *
    * Scale shape: one scan for the three bounds scalars (broadcast back
    * in-plan via crossJoin, never a driver collect), one partial+final
    * HashAggregate on (hour, bin) — ≤ 240 output groups regardless of
    * input size.
    */
  def aggHistogram2d(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf).filter(col("value").isNotNull)
    val bounds = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
                       count(lit(1)).as("n_total"))
    e.select(hour(col("ts")).cast("bigint").as("hh"), col("value").as("v"))
      .crossJoin(broadcast(bounds))
      .select(col("hh"), equiWidthBin(10), col("lo"), col("hi"),
        col("n_total"))
      .groupBy(col("hh"), col("bin"), col("lo"), col("hi"), col("n_total"))
      .agg(count(lit(1)).as("n"))
      .select(Seq(col("hh"), col("bin")) ++ binEdges(10) ++ Seq(col("n"),
        round(col("n") / col("n_total"), 6).as("share")): _*)
      .orderBy("hh", "bin")
  }

  /** Population-stability drift (PSI) between two corpus extracts — the
    * "did my training-data distribution move" gate run before every
    * retrain. Reference/current are the deterministic doc_id-parity
    * halves; the n_chars feature is binned equi-width over the COMBINED
    * range (so both halves share bin edges), and each bin reports its
    * share in both halves plus its PSI term
    * (p_cur − p_ref)·ln(p_cur/p_ref), probabilities clamped at 1e-6 in
    * the ratio (the standard zero-bin guard). PSI > 0.2 total is the
    * usual retrain alarm.
    *
    * Scale shape: one scan for the bounds + per-half totals (four
    * scalars, broadcast in-plan), one partial+final HashAggregate on
    * the bin — 10 output rows regardless of corpus size.
    */
  def profileDriftPsi(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.documents(s, sf).filter(col("n_chars").isNotNull)
    val isRef = pmod(col("doc_id"), lit(2L)) === 0
    val bounds = d.agg(
      min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
      sum(isRef.cast("long")).as("n_ref_total"),
      sum((!isRef).cast("long")).as("n_cur_total"))
    val eps = 1e-6
    d.select(col("n_chars").cast("double").as("v"), isRef.as("is_ref"))
      .crossJoin(broadcast(bounds))
      .select(equiWidthBin(10),
        col("is_ref"), col("n_ref_total"), col("n_cur_total"))
      .groupBy(col("bin"), col("n_ref_total"), col("n_cur_total"))
      .agg(sum(col("is_ref").cast("long")).as("n_ref"),
           sum((!col("is_ref")).cast("long")).as("n_cur"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("n_ref") / col("n_ref_total"), 6).as("p_ref"),
        round(col("n_cur") / col("n_cur_total"), 6).as("p_cur"),
        round((col("n_cur") / col("n_cur_total") -
               col("n_ref") / col("n_ref_total")) *
          log(greatest(col("n_cur") / col("n_cur_total"), lit(eps)) /
              greatest(col("n_ref") / col("n_ref_total"), lit(eps))), 6)
          .as("psi_term"))
      .orderBy("bin")
  }

  /** Pairwise correlation matrix of the lineitem numeric columns in
    * long format — the multivariate step after profile_table's
    * univariate stats (which joins drive each other, which columns are
    * redundant). All four columns are fixed-point (quantity integral;
    * price/discount/tax two-decimal), so rows scale to exact cents
    * integers and every moment — n, Σx, Σxy per canonical pair — is an
    * EXACT DECIMAL(38,0) sum (HUGEINT on the oracle side): the matrix
    * is accumulation-order-free by construction, where `corr()`'s
    * streaming FP co-moments depend on partition merge order (the same
    * hardening as stats_spearman; positive scaling leaves every
    * correlation unchanged). The 15 moment sums compute in ONE
    * partial+final pass over the scan; the 16 cells are the identical
    * closed-form double expression tree on both engines ((x,y) and
    * (y,x) read the SAME canonical moments, so the matrix is symmetric
    * bit-for-bit), and `stack` pivots the 1-row result — output is
    * O(k²), never a second scan per pair. Rows with ANY null among the
    * four columns are dropped (listwise-complete matrix — identical to
    * pairwise deletion on this corpus, which has no nulls; documented
    * because `corr` would delete pairwise).
    */
  def profileCorrMatrix(s: SparkSession, sf: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val d38 = "decimal(38,0)"
    val ints = Tables.lineitem(s, sf)
      .filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
      .select(cols.map(c => round(col(c) * 100, 0).cast("long").as(c)): _*)
    // per-row products multiply as LONGS — the factors are bounded by
    // the VALUE DOMAIN (cents of a bounded price), not by corpus size,
    // so x·y ≤ ~1.2e14 can never overflow at any row count; only the
    // SUM grows with the corpus and that is where the DECIMAL(38,0)
    // width sits. (Decimal×Decimal per row would detour through
    // BigDecimal and triple this key's cost.)
    val momentAggs =
      Seq(count(lit(1)).as("n")) ++
      cols.map(x => sum(col(x).cast(d38)).as(s"s_$x")) ++
      (for (x <- cols; y <- cols if cols.indexOf(x) <= cols.indexOf(y))
        yield sum((col(x) * col(y)).cast(d38)).as(s"s_${x}__$y"))
    def cell(x: String, y: String) = {
      // canonical pair order: both triangle halves read the same moments
      val (a, b) =
        if (cols.indexOf(x) <= cols.indexOf(y)) (x, y) else (y, x)
      val nD = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      round(
        (nD * d(s"s_${a}__$b") - d(s"s_$a") * d(s"s_$b")) /
          nullif(sqrt(
            (nD * d(s"s_${a}__$a") - d(s"s_$a") * d(s"s_$a")) *
            (nD * d(s"s_${b}__$b") - d(s"s_$b") * d(s"s_$b"))), lit(0.0d)),
        6).as(s"${x}__$y")
    }
    val stackArgs = cols.flatMap(x => cols.map(y => s"'$x', '$y', ${x}__$y"))
      .mkString(", ")
    ints.agg(momentAggs.head, momentAggs.tail: _*)
      .select(cols.flatMap(x => cols.map(y => cell(x, y))): _*)
      .select(expr(s"stack(16, $stackArgs) AS (col_x, col_y, corr_xy)"))
      .orderBy("col_x", "col_y")
  }

  /** Benford first-digit audit of order totals — the forensic data-
    * quality check: naturally-occurring monetary amounts follow
    * P(d) = log10(1 + 1/d), and a synthetic or tampered column shows up
    * as deviation. The digit is extracted via exact integer math
    * (cents = round(price·100) as BIGINT, then the integer's first
    * character) — NEVER floor(log10(x)), whose x ≈ 10^k boundary
    * behavior differs between engines' float rounding.
    *
    * Scale shape: one map-side-combinable HashAggregate into exactly 9
    * groups; everything after is scalar math on a 9-row frame.
    */
  def profileBenford(s: SparkSession, sf: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.orders(s, sf)
      .filter(col("o_totalprice").isNotNull && col("o_totalprice") > 0)
      .select(substring(
        round(col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        1, 1).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .select(col("digit"), col("n"),
        round(col("n") / sum(col("n")).over(wAll), 6).as("observed_p"),
        round(log10(lit(1.0) + lit(1.0) /
          col("digit").cast("double")), 6).as("benford_p"))
      .withColumn("abs_dev",
        round(abs(col("observed_p") - col("benford_p")), 6))
      .orderBy("digit")
  }
}
