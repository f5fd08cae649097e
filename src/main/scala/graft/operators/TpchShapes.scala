package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The remaining TPC-H query shapes (Q2, Q4, Q7, Q8, Q11, Q12, Q15, Q16,
  * Q17, Q19, Q20, Q21, Q22) — completing, with the shapes already in
  * [[Relational]] (Q1/3/5/6/9/10/13/14/18), full coverage of the 22
  * canonical decision-support patterns over this corpus.
  *
  * The corpus has no `partsupp`, `l_commitdate`/`l_receiptdate`, or
  * `l_shipmode` (TESTDATA.md), so each query is a documented "lite"
  * adaptation preserving the shape that makes the original interesting:
  * Q2's correlated-min over suppliers, Q4's correlated EXISTS, Q11's
  * HAVING-vs-global-scalar, Q17's correlated per-group average, Q21's
  * EXISTS + NOT EXISTS self-join pair, Q22's anti-join against a scalar
  * cut. Those decorrelation patterns are exactly what Catalyst's
  * `RewriteCorrelatedScalarSubquery` / `RewritePredicateSubquery` produce,
  * and here they are written in their decorrelated, scale-stable form
  * directly: aggregate-once + join-back instead of a per-row subquery.
  *
  * Scale notes (100 TB): every aggregate is a map-side-combining hash
  * aggregate; every dim join is broadcast-eligible (part/supplier/nation
  * stay small relative to the facts, and AQE re-sizes at runtime); the
  * only full-width shuffles are the per-key aggregations themselves. No
  * correlated per-row execution anywhere.
  */
object TpchShapes {

  /** TPC-H discounted revenue, l_extendedprice · (1 − l_discount): the
    * one definition every lineitem revenue and profit sum reads. */
  private[operators] def revenue: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** TPC-H Q2 shape (lite: "supplied by" = appears in lineitem, cost
    * preference = highest account balance): for each LARGE small-size part
    * shipped by a EUROPE supplier, the best supplier. The correlated
    * max-per-part subquery is a single `max(struct(...))` argmax
    * aggregation: struct ordering compares fields left-to-right, so
    * (s_acctbal, -s_suppkey, payload) picks the highest balance and, on
    * ties, the lowest suppkey — one partial-aggregable shuffle with
    * map-side combine, where the earlier aggregate-plus-join-back form
    * executed the 5-way join pipeline three times (its three consumers had
    * different downstream partitionings, defeating ReuseExchange) and a
    * window argmax would sort whole partitions without partial
    * aggregation. The (partkey, suppkey) dedup the join-back form needed
    * is gone entirely: max() is duplicate-insensitive, so the nearly
    * duplicate-free 591 k-row pair distinct (measured 0.65 s of the 1.4 s
    * total at sf0.1) was pure waste. Dims broadcast into the fact scan;
    * the float argmax compares within ONE aggregation, so combine order
    * cannot split it across engines or executors. */
  def q2MinCostSupplier(s: SparkSession, sf: String): DataFrame = {
    val p = Tables.part(s, sf)
      .filter(col("p_type") === "LARGE" && col("p_size") < 16)
      .select("p_partkey")
    val sup = Tables.supplier(s, sf)
      .join(broadcast(Tables.nation(s, sf)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, sf).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "n_name", "s_acctbal")
    Tables.lineitem(s, sf).select("l_partkey", "l_suppkey")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"))
      .agg(max(struct(col("s_acctbal"), (-col("s_suppkey")).as("neg_supp"),
                      col("s_name"), col("n_name"))).as("best"))
      .select(col("p_partkey"), (-col("best.neg_supp")).as("s_suppkey"),
              col("best.s_name").as("s_name"), col("best.n_name").as("n_name"),
              round(col("best.s_acctbal"), 4).as("s_acctbal"))
      .orderBy("p_partkey")
  }

  /** TPC-H Q4 shape (lite: "late" = shipped more than 60 days after order
    * date): order-priority counts for one quarter, restricted to orders
    * with at least one late line. The correlated EXISTS plans as a
    * left-semi hash join on orderkey with the non-equi lateness predicate
    * evaluated post-probe — one shuffle, no per-row subquery. */
  def q4PriorityExists(s: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(s, sf)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val l = Tables.lineitem(s, sf).select("l_orderkey", "l_shipdate")
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
           "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q7 shape: shipping volume between two nations, both directions,
    * by supplier nation / customer nation / ship year. The nation filter
    * collapses both dim sides to single rows before the fact joins, so the
    * pair predicate is a cheap post-broadcast filter. */
  def q7VolumeShipping(s: SparkSession, sf: String): DataFrame = {
    val n1 = Tables.nation(s, sf)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, sf)
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.supplier(s, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, sf), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
              (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(round(sum(revenue), 4).as("volume"), count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape: national market share — NATION_5 suppliers' slice of
    * PROMO-part revenue sold into ASIA customers, by order year.
    * Conditional aggregation over a 6-table star; the share division
    * happens once per year-group after full aggregation. */
  def q8MarketShare(s: SparkSession, sf: String): DataFrame = {
    val cNat = Tables.nation(s, sf)
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val sNat = Tables.nation(s, sf)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val asia = Tables.region(s, sf).filter(col("r_name") === "ASIA")
    Tables.lineitem(s, sf)
      .join(Tables.part(s, sf).filter(col("p_type") === "PROMO"),
            col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, sf)
              .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                      col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, sf), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cNat), col("c_nationkey") === col("cn_key"))
      .join(broadcast(asia), col("cn_region") === col("r_regionkey"))
      .join(broadcast(sNat), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg(round(sum(when(col("supp_nation") === "NATION_5", revenue)
                       .otherwise(lit(0.0))) / sum(revenue), 6).as("mkt_share"),
           count(lit(1)).as("n_items"))
      .orderBy("o_year")
  }

  /** TPC-H Q11 shape (lite: part "value" = discounted revenue shipped, no
    * partsupp): parts whose accumulated value exceeds 1.5× the mean part
    * value. The global scalar (total and part count in one aggregate) is
    * computed once and broadcast back into the HAVING predicate — the
    * decorrelated form of Q11's scalar subquery. The relative cut keeps
    * the result non-trivial at every scale factor, unlike Q11's fixed
    * fraction which empties as the part catalog grows. Both sides of the
    * cut are rounded to 4 decimals before comparing (the repo's
    * determinism convention): Spark and DuckDB sum doubles in different
    * orders, so an unrounded boundary part could flip in/out between
    * engines. */
  def q11ValueConcentration(s: SparkSession, sf: String): DataFrame = {
    val perPart = Tables.lineitem(s, sf)
      .groupBy(col("l_partkey"))
      .agg(sum(revenue).as("value_raw"))
    // the HAVING scalar as a global window over the per-part aggregate:
    // one fact scan (the agg-of-agg broadcast join-back re-ran the
    // lineitem aggregation for its second consumer). Part-grain rows
    // through one reducer — SF×200k, fine to ~10⁸ parts; past that, pay
    // the second fact scan instead (same tradeoff as q15).
    val w = Window.partitionBy(lit(1))
    perPart
      .withColumn("total_raw", sum(col("value_raw")).over(w))
      .withColumn("n_parts", count(lit(1)).over(w))
      .filter(round(col("value_raw"), 4) >
              round(col("total_raw") / col("n_parts") * 1.5, 4))
      .select(col("l_partkey"),
              round(col("value_raw"), 4).as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey").asc)
  }

  /** TPC-H Q12 shape (lite: line status stands in for ship mode): per
    * line-status counts of urgent-or-high vs lower-priority orders for
    * lines shipped in one year. Join + dual conditional aggregation. */
  def q12PriorityClass(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(s, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
                 .otherwise(0L)).as("high_line_count"),
           sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
                 .otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")

  /** TPC-H Q15 shape: top supplier(s) by quarterly revenue (ALL ties —
    * why a q2-style max(struct) single-winner argmax doesn't apply).
    * The max-revenue scalar is a global window over the per-supplier
    * aggregate: one scan of lineitem, then `max(total_revenue) over ()`
    * on supplier-grain rows — the aggregate-of-aggregate broadcast
    * join-back it replaces re-executed the whole fact pipeline for the
    * second consumer (two 100 TB scans). The window funnels only
    * SF×10⁴ supplier rows through one reducer — fine to ~10⁸ suppliers;
    * past that, pay the second fact scan instead. The per-supplier
    * revenue is rounded to the repo's 4-decimal convention BEFORE the
    * max/argmax comparison: double partial sums combine in
    * shuffle-fetch order, so raw-double equality between separately
    * computed values can miss by an ulp (and a float tie can differ
    * across engines); rounded equality is reproducible on both sides. */
  def q15TopSupplier(s: SparkSession, sf: String): DataFrame = {
    val rev = Tables.lineitem(s, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(revenue), 4).as("total_revenue"))
    val winners = rev
      .withColumn("max_rev",
        max(col("total_revenue")).over(Window.partitionBy(lit(1))))
      .filter(col("total_revenue") === col("max_rev"))
    // broadcast the argmax survivors (ties only) into the supplier dim,
    // not the dim into the winners — at scale supplier is the big side
    Tables.supplier(s, sf)
      .join(broadcast(winners), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q16 shape (lite: supplier-part relationships via lineitem, the
    * complaint exclusion = negative account balance): distinct supplier
    * counts per (brand, type, size) bucket, excluding flagged suppliers by
    * anti join. The NOT IN subquery becomes a broadcast anti join.
    *
    * Shuffle accounting: both dimension joins are broadcast and applied
    * straight off the fact scan — no pre-distinct of the link pairs
    * (that was a full extra shuffle of the fact; duplicates can't affect
    * a distinct count). The distinct count itself is the two-level form:
    * groupBy(bucket, suppkey) — ONE fact-sized shuffle whose map-side
    * partial aggregation collapses the repeats — then a count over the
    * already-distinct groups, a second shuffle of only thousands of
    * rows. count(col) (not count(*)) keeps countDistinct's ignore-null
    * semantics if a corpus carries null suppkeys. */
  def q16SupplierCount(s: SparkSession, sf: String): DataFrame = {
    val link = Tables.lineitem(s, sf).select("l_partkey", "l_suppkey")
    val flagged = Tables.supplier(s, sf)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_supp"))
    val p = Tables.part(s, sf)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    link.join(broadcast(flagged), col("l_suppkey") === col("bad_supp"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"), col("l_suppkey"))
      .agg(count(lit(1)).as("_dup"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
               col("p_type").asc, col("p_size").asc)
  }

  /** TPC-H Q17 shape: revenue from small-quantity lines of one brand,
    * where "small" is relative to the part's own average quantity — the
    * correlated AVG subquery as `avg(l_quantity) over (partition by
    * l_partkey)` on the branded fact rows: one scan of lineitem and one
    * shuffle on partkey, where the aggregate-joined-back decorrelation
    * read (and brand-joined) the fact twice. The window operates only on
    * rows surviving the broadcast brand filter (~1/brand-count of the
    * fact), so nothing unfiltered is sorted. Quantities are
    * integer-valued doubles, so the average is order-independent and
    * exact in both engines. */
  def q17SmallQtyAvg(s: SparkSession, sf: String): DataFrame = {
    val p = Tables.part(s, sf).filter(col("p_brand") === "Brand#3")
      .select("p_partkey")
    Tables.lineitem(s, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("avg_qty",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
           count(lit(1)).as("n_items"))
  }

  /** TPC-H Q19 shape: disjunction of brand/size/quantity conjunctions as
    * a join predicate. Catalyst extracts the common equi-key (partkey) so
    * this stays a hash join with the OR-of-ANDs as a residual filter —
    * never a nested-loop. */
  def q19DisjunctiveJoin(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .join(Tables.part(s, sf), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
         col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(11, 20) &&
         col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(21, 30) &&
         col("l_quantity").between(20, 30)))
      .agg(round(sum(revenue), 2).as("revenue"), count(lit(1)).as("n_items"))

  /** TPC-H Q20 shape (lite: availability threshold = total shipped
    * quantity of red parts): suppliers who moved more than 300 units of
    * red parts — a two-level IN chain (parts by name → qualifying
    * suppliers) collapsing to a semi join on an aggregate. */
  def q20QtyThresholdSemi(s: SparkSession, sf: String): DataFrame = {
    val redParts = Tables.part(s, sf)
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"))
    val qualifying = Tables.lineitem(s, sf)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("red_qty"))
      .filter(col("red_qty") > 300.0)
      .select(col("l_suppkey"))
    Tables.supplier(s, sf)
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, sf)),
            col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21 shape (lite: "kept waiting" = shipped >90 days after order
    * date, no receipt/commit dates): suppliers who were the ONLY late
    * supplier on a finished multi-supplier order. Q21's EXISTS + NOT
    * EXISTS self-join pair is decorrelated into one per-(order, supplier)
    * aggregate, then the per-order supplier/late counts come from a
    * window over that aggregate — a single scan of the per-order-supplier
    * set instead of a second aggregate plus join-back (which read it
    * twice). */
  def q21WaitingSupplier(s: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(s, sf).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    // Per (order, supplier): did this supplier ship anything late?
    val perOrderSupp = Tables.lineitem(s, sf)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") >
                    col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
                 .otherwise(0L)).as("is_late"))
    // Per order: how many suppliers, how many late ones? (window, one pass)
    val perOrder = Window.partitionBy(col("l_orderkey"))
    perOrderSupp
      .withColumn("n_suppliers", count(lit(1)).over(perOrder))
      .withColumn("n_late", sum(col("is_late")).over(perOrder))
      .filter(col("is_late") === 1L && col("n_late") === 1L &&
              col("n_suppliers") > 1L)
      .join(Tables.supplier(s, sf), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
      .limit(20)
  }

  /** TPC-H Q22 shape (lite: nation-key bucket stands in for the phone
    * country code, dormancy = no orders since 2000): well-funded lapsed
    * customers — above the positive-balance average (global scalar,
    * broadcast back) with no recent orders (anti join against the
    * filtered fact) — counted per bucket. */
  def q22DormantCustomers(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
      .withColumn("bucket", col("c_nationkey") % 5)
      .filter(col("bucket").isin(0, 1, 2))
    val cut = c.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(s, sf)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    // avg_bal is rounded before the cut: the double average is
    // combine-order dependent, so a customer sitting exactly at the
    // boundary could flip between engines on an unrounded compare.
    c.crossJoin(broadcast(cut))
      .filter(col("c_acctbal") > round(col("avg_bal"), 4))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("numcust"),
           round(sum(col("c_acctbal")), 4).as("totacctbal"))
      .orderBy("bucket")
  }
}
