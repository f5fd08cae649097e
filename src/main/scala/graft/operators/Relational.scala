package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Core relational operators (SURVEY.md §2.1–§2.4, §2.6, §2.7).
  *
  * Conventions shared by every graded query (SURVEY.md §0.3):
  *  - deterministic `orderBy` on a unique key set, mirrored by ORDER BY in
  *    the oracle SQL;
  *  - double aggregates rounded to 4 decimals on both sides (per-partition
  *    fold order of doubles is not deterministic at cluster scale);
  *  - every aggregate/computed column aliased identically on both sides.
  *
  * Scale notes are attached per operator; the common theme is: declarative
  * plans so Catalyst keeps pushdown/pruning, broadcast for bounded dims,
  * map-side partial aggregation for all hash aggs (automatic under
  * `groupBy.agg`), and no driver-side materialization anywhere.
  */
object Relational {

  // ---- §2.1 scans -----------------------------------------------------

  /** Plain parquet scan with projection — the pushdown sanity check. At
    * 100 TB the win is `ReadSchema` containing only 2 of 11 columns. */
  def scanParquet(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")

  /** JSON-in-string ingest: parse `events.props` (`{"k": 87}`) into a
    * typed column with `get_json_object`. Mirrors the reference's
    * fetch-JSON→normalize step as a distributed, codegen'd expression. */
  def scanJsonLines(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
      .orderBy("event_id")

  // ---- §2.2 projection / filter --------------------------------------

  /** Projection + computed revenue column. */
  def projectSelect(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(TpchShapes.revenue, 4).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Conjunctive predicates: date range + IN set + numeric between.
    * All of these reach the parquet scan as PushedFilters. */
  def filterPred(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_returnflag").isin("A", "R") &&
              col("l_quantity").between(10, 40))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** LIKE / regexp predicates on part.p_type. */
  def filterLike(s: SparkSession, sf: String): DataFrame =
    Tables.part(s, sf)
      .filter(col("p_type").like("PROMO%") &&
              col("p_name").rlike("[aeiou]$"))
      .select("p_partkey", "p_name", "p_type")
      .orderBy("p_partkey")

  /** Duplicate elimination on a projected pair. */
  def distinctRows(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .select("event_type", "user_id")
      .distinct()
      .orderBy("event_type", "user_id")

  // ---- §2.3 joins -----------------------------------------------------

  /** Equi inner join orders⋈customer. customer is the small side; Spark's
    * JoinSelection broadcasts it below the 10 MB threshold, and at real
    * scale AQE re-plans to broadcast when the build side shrinks under a
    * filter. */
  def joinInnerHash(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .join(Tables.customer(s, sf),
            col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"),
              round(col("o_totalprice"), 4).as("o_totalprice"))
      .orderBy("o_orderkey")

  /** 5-table star join with aggregation — lineitem⋈orders⋈customer⋈nation
    * ⋈region. nation/region are broadcast (bounded dims); the fact-side
    * joins shuffle on their keys and AQE handles skew. */
  def joinMultiway(s: SparkSession, sf: String): DataFrame = {
    val l = Tables.lineitem(s, sf)
    val o = Tables.orders(s, sf)
    val c = Tables.customer(s, sf)
    val n = broadcast(Tables.nation(s, sf))
    val r = broadcast(Tables.region(s, sf))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(TpchShapes.revenue), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Left outer join: all customers, null-extended order aggregates. */
  def joinLeftOuter(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .join(Tables.orders(s, sf),
            col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Left semi: customers having at least one urgent order (EXISTS). */
  def joinSemi(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .join(Tables.orders(s, sf).filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Left anti: customers with no urgent orders (NOT EXISTS). */
  def joinAnti(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .join(Tables.orders(s, sf).filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Explicit broadcast-hash join: nation is a 25-row dim — at any scale
    * this must never shuffle the fact side. */
  def joinBroadcast(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .join(broadcast(Tables.nation(s, sf)),
            col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           round(avg(col("c_acctbal")), 4).as("avg_bal"))
      .orderBy("n_name")

  /** Explicit cross join of two bounded dims — the only sanctioned cross
    * join shape (both sides provably tiny; anything larger must go
    * through a blocked/banded formulation). */
  def joinCross(s: SparkSession, sf: String): DataFrame =
    Tables.region(s, sf)
      .crossJoin(Tables.nation(s, sf))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  // ---- §2.4 aggregations ----------------------------------------------

  /** FLAGSHIP — TPC-H Q1 shape. Hash aggregate with map-side partial
    * aggregation; 6 aggregates over 2 grouping keys. The scan prunes to
    * 7 of 11 columns and the shipdate predicate is pushed to parquet. */
  def aggGroupBy(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(TpchShapes.revenue), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 shape: shipping priority — filtered three-way join,
    * grouped revenue, top-10 by revenue. The segment/date filters reach
    * both scans; the join shuffles only surviving rows. */
  def q3ShippingPriority(s: SparkSession, sf: String): DataFrame = {
    val cutoff = lit("1997-06-15").cast("timestamp")
    val c = Tables.customer(s, sf).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, sf).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(s, sf).filter(col("l_shipdate") > cutoff)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(TpchShapes.revenue), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q9 shape (lite: the corpus has no partsupp, so profit is
    * discounted revenue): 5-table star — lineitem fact against part,
    * supplier, orders, nation dims — profit by nation and order year.
    * The p_name filter prunes part before the join; nation (25 rows) is
    * explicitly broadcast; the remaining dims are AQE-sized. The fact
    * table shuffles once per join key — at 100 TB, bucketing lineitem
    * and orders on orderkey (see ScalePatterns) removes the largest. */
  def q9ProductProfit(s: SparkSession, sf: String): DataFrame = {
    val l = Tables.lineitem(s, sf)
    val p = Tables.part(s, sf).filter(col("p_name").contains("red"))
    val sup = Tables.supplier(s, sf)
    val o = Tables.orders(s, sf)
    val n = Tables.nation(s, sf)
    l.join(p, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
               year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg(round(sum(TpchShapes.revenue), 4).as("profit"),
           count(lit(1)).as("n_items"))
      .orderBy("n_name", "o_year")
  }

  /** TPC-H Q5 shape: local-supplier volume — 6-table join including the
    * customer-nation = supplier-nation correlation (a join predicate that
    * is NOT a key equality, applied as a post-join filter on two dim
    * keys), revenue per nation for one region and year. nation/region
    * are broadcast; the fact-side joins AQE-size themselves. */
  def q5LocalSupplier(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
    val o = Tables.orders(s, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, sf)
    val sup = Tables.supplier(s, sf)
    val n = Tables.nation(s, sf)
    val r = Tables.region(s, sf).filter(col("r_name") === "ASIA")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
                 col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(TpchShapes.revenue), 4).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** TPC-H Q10 shape: returned-item reporting — revenue lost to returns
    * per customer over one quarter, top 20. Join order: orders filtered
    * to the quarter BEFORE touching lineitem, returnflag pushed to the
    * lineitem scan. */
  def q10ReturnedItems(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
    val o = Tables.orders(s, sf)
      .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, sf).filter(col("l_returnflag") === "R")
    val n = Tables.nation(s, sf)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(TpchShapes.revenue), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** Full SQL-text front end: the engine accepts an ENTIRE ANSI query as
    * text over registered temp views — the surface a SQL-first user
    * migrates to unchanged. Catalyst parses it into the same logical
    * plan a DataFrame formulation would build, so every optimization
    * (pushdown, broadcast, AQE) applies identically. The query is
    * chosen to exercise SQL-only syntax no other graded key touches
    * from text: a CTE, a window function inside SQL, and a filter over
    * the window's result (top-3 customers by order revenue per nation).
    * The unique o_custkey tiebreak in the window ordering makes ranks —
    * and therefore the rnk ≤ 3 cut — deterministic for the oracle
    * hash. */
  def sqlTextQuery(s: SparkSession, sf: String): DataFrame = {
    Tables.customer(s, sf).createOrReplaceTempView("v_customer")
    Tables.orders(s, sf).createOrReplaceTempView("v_orders")
    s.sql("""
      WITH cust_rev AS (
        SELECT c_nationkey, o_custkey,
               round(sum(o_totalprice), 4) AS total_rev
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_nationkey, o_custkey
      )
      SELECT c_nationkey, o_custkey, total_rev,
             CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT c_nationkey, o_custkey, total_rev,
               rank() OVER (PARTITION BY c_nationkey
                            ORDER BY total_rev DESC, o_custkey) AS rnk
        FROM cust_rev)
      WHERE rnk <= 3
      ORDER BY c_nationkey, rnk""")
  }

  /** Recursive CTE (SQL-2008 `WITH RECURSIVE`, new in Spark 4.x) — the
    * one relational construct whose work is data-DEPENDENT in depth:
    * each supplier walks the implicit binary-heap ancestor chain
    * (parent = node div 2) until it reaches the root, and the query
    * aggregates the chain-length distribution. Depth for node n is
    * ⌊log₂ n⌋, so the result doubles as a closed-form self-check while
    * still forcing the engine through genuine recursive union
    * semantics (anchor + self-referencing step to fixpoint).
    *
    * Scale shape: Spark plans each recursive step as an incremental
    * union over the PREVIOUS step's frontier only (rows still
    * satisfying cur > 1), so total work is Σ⌈log₂ k⌉ ≈ n·log n rows
    * across ~log₂(max_key) steps — at 100 TB the frontier shrinks
    * geometrically and each step is an embarrassingly parallel
    * map+filter; the only shuffle is the final depth-grain aggregate.
    * The recursion depth is bounded by log₂(10⁴·SF) ≈ 24 even at
    * SF 100k, far under Spark's 100-level recursion guard.
    */
  def sqlRecursiveCte(s: SparkSession, sf: String): DataFrame = {
    Tables.supplier(s, sf).createOrReplaceTempView("v_supplier")
    s.sql("""
      WITH RECURSIVE walk AS (
        SELECT s_suppkey AS node, s_suppkey AS cur, 0 AS depth
        FROM v_supplier
        UNION ALL
        SELECT node, cur DIV 2 AS cur, depth + 1 AS depth
        FROM walk WHERE cur > 1
      )
      SELECT CAST(depth AS BIGINT) AS chain_len,
             count(*) AS n_chains,
             min(node) AS min_node, max(node) AS max_node
      FROM (SELECT node, max(depth) AS depth FROM walk GROUP BY node)
      GROUP BY depth
      ORDER BY chain_len""")
  }

  /** TPC-H Q14 shape: promotion effect — conditional aggregation (CASE
    * inside sum) over lineitem ⋈ part for one month; single scalar row.
    * The date filter prunes lineitem at the scan; only matching rows
    * join against part. */
  def q14PromoEffect(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .join(Tables.part(s, sf), col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type").startsWith("PROMO"), TpchShapes.revenue)
                  .otherwise(lit(0.0))) * 100.0 /
              sum(TpchShapes.revenue), 6)
          .as("promo_revenue_pct"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q18 shape: large-volume orders — a HAVING aggregate used as a
    * join filter (agg → filter → fact join → dim join → top-k). The
    * per-order quantity aggregate shrinks lineitem to order grain BEFORE
    * any join, and the top-k plans as TakeOrderedAndProject — at scale
    * the only full-width shuffle is the one aggregation. */
  def q18LargeOrders(s: SparkSession, sf: String): DataFrame = {
    val qty = Tables.lineitem(s, sf)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    Tables.orders(s, sf)
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
              col("o_orderdate"),
              round(col("o_totalprice"), 4).as("o_totalprice"),
              round(col("sum_qty"), 2).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
  }

  /** TPC-H Q13 shape: customer order-count distribution — aggregation of
    * an aggregation (left join preserving 0-order customers, per-customer
    * count, then a histogram over the counts). The second aggregate's
    * input is customer-grain, so the heavy shuffle happens once. */
  def q13OrderDistribution(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .join(Tables.orders(s, sf),
            col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q6 shape: forecast revenue change — pure scan+filter+agg, the
    * pushdown showcase (no join, no shuffle beyond one partial+final). */
  def q6ForecastRevenue(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
              col("l_discount").between(0.03, 0.07) &&
              col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))

  /** Exact distinct aggregation. At scale `countDistinct` expands to a
    * two-phase expand+agg; exactness costs a shuffle of the distinct
    * pairs — the approx variant below is the 100 TB path. */
  def aggCountDistinct(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** HLL++ approximate distinct — constant memory per group at any scale.
    * Oracle-N (DuckDB's approx sketch differs); self-tested against the
    * exact count within rsd bounds. */
  def aggApproxDistinct(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"))
      .orderBy("event_type")

  /** max_by/min_by (argmax/argmin) aggregation — the keep-latest /
    * keep-first record pattern (ordering key = unique event_id, so the
    * result is deterministic; ordering by a non-unique column is a
    * nondeterminism bug this corpus actually exhibits at sf0.1). */
  def aggMinmaxBy(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(
        round(expr("max_by(value, event_id)"), 4).as("last_value"),
        round(expr("min_by(value, event_id)"), 4).as("first_value"),
        max(col("event_id")).as("last_event_id"),
        min(col("event_id")).as("first_event_id"))
      .orderBy("event_type")

  /** Boolean aggregation: bool_and / bool_or (ANSI EVERY/ANY). */
  def aggBool(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("bool_and(l_quantity > 0)").as("all_positive_qty"),
        expr("bool_or(l_discount > 0.06)").as("any_big_discount"),
        expr("bool_and(l_extendedprice >= l_quantity)").as("all_price_ge_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Full outer join: both inputs filtered so BOTH null-extension sides
    * occur; explicit NULLS FIRST ordering (Spark's ASC default) spelled
    * out in the oracle too, since DuckDB defaults to NULLS LAST. */
  def joinFullOuter(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), round(col("c_acctbal"), 4).as("c_acctbal"))
      .join(Tables.orders(s, sf).filter(col("o_totalprice") > 200000)
              .select(col("o_orderkey"), col("o_custkey"),
                      round(col("o_totalprice"), 4).as("o_totalprice")),
            col("c_custkey") === col("o_custkey"), "full")
      .orderBy(col("c_custkey").asc_nulls_first,
               col("o_orderkey").asc_nulls_first)

  /** Post-aggregation filter (HAVING). */
  def aggHaving(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .groupBy(col("c_mktsegment"))
      .agg(round(avg(col("c_acctbal")), 4).as("avg_bal"),
           count(lit(1)).as("n_cust"))
      .filter(col("avg_bal") > 0)
      .orderBy("c_mktsegment")

  // ---- §2.6 sort / limit / sample ------------------------------------

  /** Multi-key global sort with explicit null ordering. A global sort is a
    * range-partitioned shuffle (sampled boundaries) — fine once per query,
    * never inside a loop. */
  def sortMulti(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .select(col("o_orderkey"), col("o_orderpriority"),
              round(col("o_totalprice"), 4).as("o_totalprice"))
      .orderBy(col("o_orderpriority").asc_nulls_last,
               col("o_totalprice").desc_nulls_last,
               col("o_orderkey").asc)

  /** ORDER BY + LIMIT → TakeOrderedAndProject: per-partition top-k then a
    * single driver merge of k·partitions rows — no global sort at scale. */
  def limitTopK(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
              round(col("l_extendedprice"), 4).as("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
               col("l_linenumber").asc)
      .limit(10)

  /** Deterministic "sample": modulo on a key — reproducible across engines
    * (RNG-based `sample()` cannot hash-match an external oracle). */
  def sampleDeterministic(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .filter(col("o_orderkey") % 100 === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .orderBy("o_orderkey")

  // ---- §2.7 set operations -------------------------------------------

  private def eventUsers(s: SparkSession, sf: String, typ: String): DataFrame =
    Tables.events(s, sf).filter(col("event_type") === typ)
      .select(col("user_id"))

  /** Bag union (UNION ALL) of per-type user id streams. */
  def setUnionAll(s: SparkSession, sf: String): DataFrame =
    eventUsers(s, sf, "purchase")
      .unionByName(eventUsers(s, sf, "signup"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
      .orderBy("user_id")

  /** Set union (UNION DISTINCT). */
  def setUnionDistinct(s: SparkSession, sf: String): DataFrame =
    eventUsers(s, sf, "purchase")
      .union(eventUsers(s, sf, "signup")).distinct()
      .orderBy("user_id")

  /** INTERSECT — users who both clicked and purchased. */
  def setIntersect(s: SparkSession, sf: String): DataFrame =
    eventUsers(s, sf, "click").intersect(eventUsers(s, sf, "purchase"))
      .orderBy("user_id")

  /** EXCEPT — (user, day) pairs with a view but no purchase that day. */
  def setExcept(s: SparkSession, sf: String): DataFrame = {
    def userDays(typ: String) =
      Tables.events(s, sf).filter(col("event_type") === typ)
        .select(col("user_id"), col("ts").cast("date").as("d"))
    userDays("view").except(userDays("purchase"))
      .orderBy("user_id", "d")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * MATCH each other instead of silently dropping — the semantics a
    * reconciliation between two extracts with incomplete keys needs
    * (a plain equi-join loses every NULL-keyed row on both sides). The
    * corpus has no NULL keys, so the key is planted (`nullif(uid % 10,
    * 0)` — decile 0 becomes the NULL group on both engines).
    *
    * Scale shape: Spark plans `<=>` as a regular hash join (NULL hashes
    * like any value under null-safe equality) — same shuffle as the
    * equi-join, no BNLJ fallback. Both sides pre-aggregate to decile
    * grain first, so the join is 11 × 11 rows.
    */
  def joinNullSafe(s: SparkSession, sf: String): DataFrame = {
    def half(parity: Long) = Tables.events(s, sf)
      .filter(col("user_id").isNotNull &&
              pmod(col("event_id"), lit(2L)) === parity)
      .select(expr("nullif(user_id % 10, 0)").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val l = half(0).withColumnRenamed("n", "n_even")
    val r = half(1).withColumnRenamed("n", "n_odd")
      .withColumnRenamed("k", "k2")
    l.join(r, col("k") <=> col("k2"))
      .select(col("k"), col("n_even"), col("n_odd"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** INTERSECT ALL / EXCEPT ALL — the multiset (bag) set operations:
    * unlike `setIntersect`/`setExcept` these preserve multiplicity
    * (min-of-counts / count-difference), which is what reconciliation
    * between two event extracts actually needs. Two deterministic
    * overlapping extracts (event_id mod 2 / mod 3) are compared on the
    * (event_type, user_id) bag; both results union under an `op` tag.
    *
    * Scale shape: Spark plans both as a count-aggregate + generate
    * (never a join): each side groups to (row, count), the counts
    * combine, and `explode(sequence(...))` re-expands — shuffles are on
    * the row key at distinct-row cardinality, multiplicity travels as
    * one long. Exactly how a distributed bag-op should be shaped.
    */
  def setOpsAll(s: SparkSession, sf: String): DataFrame = {
    def side(m: Int) =
      Tables.events(s, sf).filter(pmod(col("event_id"), lit(m)) === 0)
        .select(col("event_type"), col("user_id"))
    val l = side(2); val r = side(3)
    l.intersectAll(r).withColumn("op", lit("intersect_all"))
      .unionByName(l.exceptAll(r).withColumn("op", lit("except_all")))
      .orderBy("op", "event_type", "user_id")
  }
}
