package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Non-equi joins (SURVEY.md §2.3 advanced rows): band (theta), interval
  * overlap, and as-of. Spark has no native implementations of band or
  * as-of joins — each is built from shuffle-friendly primitives so the
  * plan stays hash-join-shaped at any scale (a naive theta join falls back
  * to BroadcastNestedLoop, which is quadratic and unusable at 100 TB).
  */
object AdvancedJoins {

  /** Band (theta) self-join: pairs of purchase events whose values are
    * within ±0.5 of each other.
    *
    * Scale path: bucketize value by the band width, explode the left side
    * into (bucket, bucket+1), equi-join on bucket, then apply the exact
    * band predicate. This turns an O(n²) BNLJ into a hash join whose
    * fan-out is bounded by the bucket occupancy — the standard range-join
    * technique (DuckDB/Trino do the same with IEJoin internally).
    */
  def joinThetaRange(s: SparkSession, sf: String): DataFrame = {
    val band = 0.5
    val base = Tables.events(s, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"),
              floor(col("value") / band).as("b"))
    // id1 < id2 does not order the values, so a pair can straddle the
    // bucket boundary in either direction: probe b-1, b, and b+1.
    val left = base
      .withColumn("bucket", explode(array(col("b") - 1, col("b"), col("b") + 1)))
      .select(col("event_id").as("id1"), col("value").as("v1"), col("bucket"))
    val right = base
      .select(col("event_id").as("id2"), col("value").as("v2"),
              col("b").as("bucket"))
    left.join(right, "bucket")
      .filter(col("id1") < col("id2") &&
              abs(col("v1") - col("v2")) <= band)
      .select(col("id1"), col("id2"),
              round(col("v1"), 4).as("v1"), round(col("v2"), 4).as("v2"))
      // no dedup needed: the right side keeps its single home bucket, so
      // orientation (id1, id2) matches exactly once — id2's home bucket
      // is one value inside id1's probed {b-1, b, b+1}
      .orderBy("id1", "id2")
  }

  /** Interval-overlap join: clicks landing inside the hour after a signup
    * by the same user. Equi component (user_id) keeps it a hash join;
    * the range predicate is applied post-join. */
  def joinInterval(s: SparkSession, sf: String): DataFrame = {
    val signups = Tables.events(s, sf)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
              col("ts").as("t0"),
              (col("ts") + expr("INTERVAL 1 HOUR")).as("t1"))
    val clicks = Tables.events(s, sf)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
    signups.join(clicks, Seq("user_id"))
      .filter(col("click_ts") >= col("t0") && col("click_ts") < col("t1"))
      .select("user_id", "signup_id", "click_id")
      .orderBy("user_id", "signup_id", "click_id")
  }

  /** As-of join with a match tolerance (pandas merge_asof's `tolerance`):
    * the most recent view at-or-before each purchase counts ONLY if it
    * happened within the last hour — staler context is no context.
    * Same union+one-window shape as joinAsof (no join, one shuffle);
    * the tolerance is a post-window null-out in the same codegen stage,
    * and gap_sec reports the age of accepted matches.
    */
  def joinAsofTolerance(s: SparkSession, sf: String): DataFrame = {
    val base = joinAsof(s, sf)
    val gap = col("purchase_ts").cast("long") - col("last_view_ts").cast("long")
    val within = col("last_view_ts").isNotNull && gap <= 3600
    base.select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        when(within, col("last_view_id")).as("view_id_1h"),
        when(within, col("last_view_ts")).as("view_ts_1h"),
        when(within, gap).as("gap_sec"))
      .orderBy("user_id", "purchase_ts", "purchase_id")
  }

  /** Views (tag 0, carrying view_id/view_ts) and purchases (tag 1, null
    * carriers) in one frame — the union the as-of family windows over. */
  private def taggedViewsPurchases(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
              col("event_id"), col("event_id").as("view_id"),
              col("ts").as("view_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("tag"),
              col("event_id"), lit(null).cast("long").as("view_id"),
              lit(null).cast("timestamp").as("view_ts"))
    views.unionByName(purchases)
  }

  /** Per-user (ts, tag, event_id) order: a view sorts before a
    * same-instant purchase. Each as-of key adds its own rows frame. */
  private def byUserTime =
    Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)

  /** As-of join: for every purchase, the user's most recent view at or
    * before the purchase timestamp.
    *
    * Union-and-window pattern: tag both streams, sort per user by
    * (ts, tag, event_id) — views sort before a same-instant purchase —
    * and carry the latest view forward with last(ignoreNulls). One
    * shuffle on user_id, no join at all; at 100 TB this beats any
    * join-shaped formulation because the state per key is one row. */
  def joinAsof(s: SparkSession, sf: String): DataFrame = {
    val w = byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedViewsPurchases(s, sf)
      .select(col("user_id"), col("ts"), col("tag"), col("event_id"),
              last(col("view_id"), ignoreNulls = true).over(w).as("last_view_id"),
              last(col("view_ts"), ignoreNulls = true).over(w).as("last_view_ts"))
      .filter(col("tag") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"),
              col("last_view_id"), col("last_view_ts"))
      .orderBy("user_id", "purchase_ts", "purchase_id")
  }

  /** FORWARD as-of join — the 4th direction of the family (backward,
    * tolerance, nearest, forward): for every purchase, the user's FIRST
    * view strictly after the purchase instant — the "did they come back
    * to browse" follow-up question. Same-instant views count as before
    * (consistent with joinAsof's tag ordering), so forward and backward
    * partition the timeline without overlap.
    *
    * Scale shape: the same single-shuffle union-and-window pattern as
    * joinAsof, mirrored — first(ignoreNulls) over the forward frame
    * instead of last over the backward one; no join, state per key is
    * one row. */
  def joinAsofForward(s: SparkSession, sf: String): DataFrame = {
    val w = byUserTime.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    taggedViewsPurchases(s, sf)
      .select(col("user_id"), col("ts"), col("tag"), col("event_id"),
              first(col("view_id"), ignoreNulls = true).over(w)
                .as("next_view_id"),
              first(col("view_ts"), ignoreNulls = true).over(w)
                .as("next_view_ts"))
      .filter(col("tag") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"),
              col("next_view_id"), col("next_view_ts"))
      .orderBy("user_id", "purchase_ts", "purchase_id")
  }

  /** Nearest-in-time join — sensor/event alignment where "the latest
    * before" (plain as-of) is the wrong answer and the CLOSEST
    * observation in either direction is wanted: each purchase pairs with
    * its nearest view by absolute time distance, ties to the earlier
    * side. Same single-shuffle union trick as joinAsof, extended to both
    * directions: one union frame, one exchange+sort on (user, ts, tag,
    * id), a backward last(ignoreNulls) and a forward first(ignoreNulls)
    * over the SAME sort (Spark plans both frames off one exchange — no
    * second shuffle), then an in-row argmin. A band self-join
    * (abs(diff) ≤ τ) would shuffle both sides and explode on dense
    * users; this form is linear in the stream and needs no band
    * parameter. Distances compare in floor-truncated microseconds — the
    * engines' shared instant resolution. */
  def joinAsofNearest(s: SparkSession, sf: String): DataFrame = {
    val wb = byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = byUserTime.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val scored = taggedViewsPurchases(s, sf)
      .select(col("user_id"), col("ts"), col("tag"), col("event_id"),
        last(col("view_id"), ignoreNulls = true).over(wb).as("prev_id"),
        last(col("view_ts"), ignoreNulls = true).over(wb).as("prev_ts"),
        first(col("view_id"), ignoreNulls = true).over(wf).as("next_id"),
        first(col("view_ts"), ignoreNulls = true).over(wf).as("next_ts"))
      .filter(col("tag") === 1)
    val dPrev = unix_micros(col("ts")) - unix_micros(col("prev_ts"))
    val dNext = unix_micros(col("next_ts")) - unix_micros(col("ts"))
    scored.select(col("user_id"), col("event_id").as("purchase_id"),
      col("ts").as("purchase_ts"),
      when(col("prev_ts").isNull && col("next_ts").isNull,
           lit(null).cast("long"))
        .when(col("next_ts").isNull, col("prev_id"))
        .when(col("prev_ts").isNull, col("next_id"))
        .when(dPrev <= dNext, col("prev_id"))
        .otherwise(col("next_id")).as("nearest_view_id"),
      when(col("prev_ts").isNull && col("next_ts").isNull,
           lit(null).cast("long"))
        .when(col("next_ts").isNull, dPrev)
        .when(col("prev_ts").isNull, dNext)
        .when(dPrev <= dNext, dPrev)
        .otherwise(dNext).as("gap_us"))
      .orderBy("user_id", "purchase_ts", "purchase_id")
  }

  /** Fuzzy (edit-distance ≤ 1) join — record linkage for data cleaning:
    * each document contributes a deterministically "misspelled" token
    * (its first word with the char at doc_id mod len dropped) that links
    * back to the clean vocabulary.
    *
    * Scale path: the deletion-neighborhood (FastSS) blocking — a string
    * and its variants within one edit ALWAYS share a member of
    * {self} ∪ {one-char deletions}, so expanding BOTH sides into those
    * keys turns the fuzzy match into a plain equi-join; the exact
    * levenshtein predicate then prunes the distance-2 collisions the
    * blocking admits (shared deletion ⇏ distance ≤ 1, e.g. "ab"/"ba").
    * The broadcast hint below fits THIS corpus (small distinct
    * vocabulary); a web-scale vocabulary × (|word|+1) neighborhood keys
    * exceeds any broadcast budget — at that scale drop the hint and let
    * AQE plan a shuffle hash join on `k` (the blocking, which is what
    * bounds the pair space, is unchanged).
    * No all-pairs product anywhere: candidate fan-out is bounded by key
    * occupancy, the standard similarity-join shape. A naive
    * levenshtein(a,b) <= 1 theta-join would plan BroadcastNestedLoop —
    * quadratic, unusable at 100 TB.
    */
  def joinFuzzyEditdist(s: SparkSession, sf: String): DataFrame = {
    // {self} ∪ {delete char i : i < len} as an expansion expression
    def delNeighborhood(c: String) = expr(
      s"""array_union(array($c),
         |  array_distinct(transform(sequence(1, length($c)),
         |    i -> concat(substring($c, 1, i - 1), substring($c, i + 1)))))"""
        .stripMargin)
    val dirty = Tables.documents(s, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").getItem(0).as("w0"))
      .filter(length(col("w0")) >= 1)
      .select(col("doc_id"), expr(
        """concat(substring(w0, 1, CAST(doc_id % length(w0) AS INT)),
          |       substring(w0, CAST(doc_id % length(w0) AS INT) + 2))"""
          .stripMargin).as("dirty"))
    val vocab = Tables.documents(s, sf)
      .select(explode(split(col("text"), " ")).as("clean"))
      .filter(length(col("clean")) >= 1).distinct()
    val dirtyKeys = dirty
      .select(col("doc_id"), col("dirty"),
              explode(delNeighborhood("dirty")).as("k"))
    val cleanKeys = vocab
      .select(col("clean"), explode(delNeighborhood("clean")).as("k"))
    dirtyKeys
      .join(broadcast(cleanKeys), "k")
      .select(col("doc_id"), col("dirty"), col("clean")).distinct()
      .filter(levenshtein(col("dirty"), col("clean")) <= 1)
      .select(col("doc_id"), col("dirty"), col("clean"),
              levenshtein(col("dirty"), col("clean")).cast("bigint").as("dist"))
      .orderBy("doc_id", "clean")
  }

  /** As-of join through the NATIVE Catalyst path (plans/AsOfJoin.scala):
    * the `graft_asof_marker` condition rides an inner join through
    * analysis, `AsOfJoinRule` rewrites it to the custom `AsOfJoinPlan`
    * node, and `AsOfJoinStrategy` plans the streaming-merge
    * `AsOfJoinExec`. Same question as `join_asof` (latest view at or
    * before each purchase) — but ONE fewer data pass: no union
    * materialization and no null-carrier columns; the merge holds one
    * row per key.
    *
    * Determinism: the right "time" is STRUCT(ts, event_id) and the left
    * bound STRUCT(ts, MAX_LONG), so same-instant view ties resolve to
    * the max event_id on both engines (the oracle states the identical
    * (ts, id) DESC row_number pick), and the sort the exec demands is
    * total — no engine-arbitrary tie order anywhere.
    *
    * Scale shape: SortMergeJoin's exact layout — one hash shuffle per
    * side on user_id, in-partition (key, time) sort, single-pass merge
    * with O(1) state per key. PlanAuditSpec pins AsOfJoinExec + the two
    * hashpartitioning exchanges.
    *
    * Measured trade-off at sf0.1: 0.68 s vs the window formulation's
    * 0.38 s — the custom exec's interpreted per-row merge loses to
    * whole-stage codegen at small scale, and wins only where the union
    * materialization dominates (wide rows / many carrier columns).
    * Both keys stay graded: composed-ops first is the right default,
    * and this one proves the extension tier works end to end.
    */
  def joinAsofNative(s: SparkSession, sf: String): DataFrame = {
    graft.plans.AsOfJoin.ensureRegistered(s)
    val e = Tables.events(s, sf)
    val purchases = e
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"))
    val views = e
      .filter(col("event_type") === "view" && col("user_id").isNotNull)
      .select(col("user_id").as("v_user"), col("event_id").as("last_view_id"),
              col("ts").as("last_view_ts"))
    purchases
      .join(views, expr(
        """graft_asof_marker(user_id, v_user,
          |  struct(purchase_ts, 9223372036854775807L),
          |  struct(last_view_ts, last_view_id))""".stripMargin))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
              col("last_view_id"), col("last_view_ts"))
      .orderBy("user_id", "purchase_ts", "purchase_id")
  }

  /** Null-aware anti join — SQL `NOT IN (subquery)` three-valued-logic
    * semantics, which `join_anti` (left_anti = NOT EXISTS) deliberately
    * does NOT have: a NULL probe key is dropped (NULL NOT IN S is
    * unknown, never true), and ONE NULL in the build set vetoes every
    * probe row (x NOT IN (S ∪ {NULL}) can never evaluate true). The
    * corpus has no natural NULL keys, so both are planted
    * deterministically: probe key = nullif(c_nationkey, 3); the second
    * build set nulls out region 0's nation 0. The one-row report makes
    * all three semantic surfaces hash-visible: the probe total, the
    * clean-build NOT IN count (nulless anti join), and the null-build
    * count, which MUST be exactly 0.
    *
    * Scale shape: Spark plans NOT IN as a null-aware anti join —
    * BroadcastHashJoin(LeftAnti, NAAJ) when the build side fits a
    * broadcast, which a NOT IN set (a distinct key list, here ≤25
    * nations) virtually always does. The probe side streams — no
    * shuffle at any corpus size. A BroadcastNestedLoop fallback only
    * appears for multi-column NOT IN, which this key avoids on purpose;
    * PlanAuditSpec pins the single-column NAAJ shape.
    */
  def joinAntiNullAware(s: SparkSession, sf: String): DataFrame = {
    Tables.customer(s, sf).createOrReplaceTempView("v_naaj_customer")
    Tables.nation(s, sf).createOrReplaceTempView("v_naaj_nation")
    s.sql("""
      SELECT
        (SELECT count(*) FROM v_naaj_customer) AS n_customers,
        (SELECT count(*) FROM v_naaj_customer
          WHERE nullif(c_nationkey, 3) NOT IN
            (SELECT n_nationkey FROM v_naaj_nation WHERE n_regionkey = 0))
          AS kept_clean_build,
        (SELECT count(*) FROM v_naaj_customer
          WHERE nullif(c_nationkey, 3) NOT IN
            (SELECT nullif(n_nationkey, 0) FROM v_naaj_nation
              WHERE n_regionkey = 0))
          AS kept_null_build
    """)
  }
}
