package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Change-data-capture table maintenance: MERGE/upsert application and
  * SCD-2 history building — the two canonical shapes that keep a 100 TB
  * table current without rewriting it from scratch (SURVEY §2.10 scope:
  * what a production pipeline needs day to day).
  *
  * Both are pure declarative plans: the merge is one shuffle on the
  * table key, the history build one shuffle on the entity key. Neither
  * collects to the driver or needs a transactional table format — the
  * semantics (latest-version-wins, validity intervals) are exactly
  * expressible relationally, which also makes them oracle-pairable.
  */
object Cdc {

  /** MERGE / CDC-apply: fold a changelog of inserts / updates / deletes
    * into a base snapshot, latest version per key wins, a winning delete
    * removes the row. The changelog is derived deterministically from the
    * orders table so both engines see identical input:
    *   - I: keys ≡ 3 (mod 11) re-inserted under key+1e9 (novel keys);
    *   - U: keys ≡ 0 (mod 5) re-priced at 1.1× (version 2);
    *   - D: keys ≡ 0 (mod 7) deleted (version 3 — outranks the update
    *     on keys divisible by 35, pinning the op-precedence rule).
    *
    * Plan shape: base (version 0) ∪ changelog → one hash shuffle on the
    * key → per-key max-version argmax → drop deletes. At scale this is
    * the standard snapshot+changelog compaction: one shuffle of
    * |base|+|delta| rows, map-side nothing to combine, no driver state.
    * With a date-bucketed base the same plan prunes to touched buckets —
    * the partition-overwrite MERGE a lakehouse runs nightly.
    */
  def mergeCdcUpsert(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.orders(s, sf)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
              col("o_totalprice").as("price"), lit(0L).as("version"),
              lit("I").as("op"))
    val src = Tables.orders(s, sf)
    val ins = src.filter(col("o_orderkey") % 11 === 3)
      .select((col("o_orderkey") + 1000000000L).as("key"),
              lit("N").as("status"), col("o_totalprice").as("price"),
              lit(1L).as("version"), lit("I").as("op"))
    val upd = src.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
              (col("o_totalprice") * 1.1).as("price"),
              lit(2L).as("version"), lit("U").as("op"))
    val del = src.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("key"), lit(null).cast("string").as("status"),
              lit(null).cast("double").as("price"),
              lit(3L).as("version"), lit("D").as("op"))
    val w = Window.partitionBy(col("key")).orderBy(col("version").desc)
    base.unionAll(ins).unionAll(upd).unionAll(del)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("key"), col("status"), round(col("price"), 4).as("price"),
              col("version"))
      .orderBy("key")
  }

  /** SCD type-2 history build: per user, collapse the event stream into
    * validity intervals of the tracked attribute (event_type) — a row
    * per attribute CHANGE carrying [valid_from, valid_to) and a current
    * flag, the standard slowly-changing-dimension shape.
    *
    * Two windows over one shuffle on user_id: lag() marks change points
    * (consecutive duplicates collapse — a re-emitted identical state is
    * not a new version), then lead() over the surviving change rows
    * closes each interval with the next one's start. Scale: both windows
    * share the (user_id, ts, event_id) sort order, so Catalyst plans ONE
    * exchange + sort; per-user history fits a task trivially (windows
    * partition by entity, never globally).
    */
  def scd2Intervals(s: SparkSession, sf: String): DataFrame =
    scd2Changes(s, sf)
      .select(col("user_id"), col("event_type"),
              col("ts").as("valid_from"), col("valid_to"),
              col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from")

  /** The SCD-2 change points of each user's event_type, each closed by
    * the next one's ts as `valid_to` (null on the current version) —
    * the history scd2Intervals reports and joinTemporal probes. */
  private def scd2Changes(s: SparkSession, sf: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(ord))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(ord))
  }

  /** Snapshot diff — the audit companion to CDC apply: given a base
    * table version and its successor, emit every added / removed /
    * changed row with old and new values (the "what did last night's
    * merge actually do" report). The successor version is planted
    * deterministically from the base (keys ≡ 0 mod 7 deleted, ≡ 0 mod 5
    * re-priced 1.1×, novel keys ≡ 3 mod 11 inserted under key+1e9 — the
    * mergeCdcUpsert changelog rules, so the two keys reconcile).
    *
    * Scale shape: one full outer join hash-shuffled on the table key;
    * the change classification is a pure projection on the joined row.
    * Unchanged rows are filtered out AFTER the join inside the same
    * codegen stage — output ∝ churn, shuffle ∝ table.
    */
  def tableDiffAudit(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.orders(s, sf)
      .select(col("o_orderkey").as("k"), round(col("o_totalprice"), 2).as("price"))
    val curr = base
      .filter(pmod(col("k"), lit(7L)) =!= 0)
      .select(col("k"),
        // floor-truncate, not round: price·1.1 lands on exact half-cents
        // where the engines' rounding diverges (fn_try_arith lesson)
        when(pmod(col("k"), lit(5L)) === 0,
             floor(col("price") * 1.1 * 100) / 100)
          .otherwise(col("price")).as("price"))
      .unionByName(
        base.filter(pmod(col("k"), lit(11L)) === 3)
          .select((col("k") + 1000000000L).as("k"), col("price")))
    base.select(col("k"), col("price").as("old_price"))
      .join(curr.select(col("k"), col("price").as("new_price")), Seq("k"), "full")
      .withColumn("change",
        when(col("old_price").isNull, "added")
          .when(col("new_price").isNull, "removed")
          .when(col("old_price") =!= col("new_price"), "changed")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged")
      .select(col("k"), col("change"), col("old_price"), col("new_price"))
      .orderBy("k", "change")
  }

  /** Point-in-time (temporal) join — the consumer side of SCD-2: each
    * purchase is joined to the state interval that was valid AT its
    * timestamp (`valid_from ≤ ts < valid_to`, open current interval).
    * The standard "facts against a versioned dimension" warehouse
    * pattern; intervals here are the scd2_intervals build, so the pair
    * of keys is produce-history → consume-history end to end.
    *
    * Scale shape: the equi key (user_id) keeps this a plain hash join —
    * the range predicate filters post-join inside the same codegen
    * stage, never a BNLJ. Fan-out per probe row is the user's version
    * count (bounded by their change count), and because SCD-2 intervals
    * partition the timeline, every purchase matches EXACTLY one version
    * (asserted in AnalyticsInvariantsSpec).
    */
  def joinTemporal(s: SparkSession, sf: String): DataFrame = {
    val dim = scd2Changes(s, sf)
      .select(col("user_id"), col("event_type").as("state"),
              col("ts").as("valid_from"), col("valid_to"))
    val facts = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
              round(col("value"), 4).as("value"))
    facts.join(dim, Seq("user_id"))
      .filter(col("ts") >= col("valid_from") &&
              (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
              col("state"), col("valid_from"))
      .orderBy("user_id", "event_id")
  }

  /** Merge-on-read table layout: the write path appends small delta
    * files (a delete-key set and an update/insert batch) next to an
    * immutable base, and the READ path reconciles — base minus deletes,
    * overlaid with updates — exactly the Iceberg/Delta MOR contract
    * where writes stay O(delta) and reads pay the merge. The planted
    * changelog reuses merge_cdc_upsert's rules (k%7 deleted, k%5
    * re-priced, k%11==3 inserted) so the oracle states the merged
    * result relationally from the source table.
    *
    * Scale shape: the delete reconciliation is a BROADCAST anti-join
    * (delete vectors are small by definition — that is the premise of
    * MOR) and the update overlay is a broadcast full-outer on the same
    * small delta; the base is scanned once, never rewritten. At 100 TB
    * periodic compaction (sink_compacted) folds the deltas back in.
    */
  def sinkMergeOnRead(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_mor_")
    val base = Tables.orders(s, sf)
      .select(col("o_orderkey").as("k"),
              round(col("o_totalprice"), 2).as("price"))
    base.write.mode("overwrite").parquet(s"$dir/base")
    base.filter(col("k") % 7 === 0).select(col("k"))
      .write.mode("overwrite").parquet(s"$dir/deletes")
    base.filter(col("k") % 5 === 0 && col("k") % 7 =!= 0)
      .select(col("k"),
              (floor(col("price") * lit(1.1) * 100) / 100).as("price"))
      .unionAll(base.filter(col("k") % 11 === 3)
        .select((col("k") + 1000000000L).as("k"), col("price")))
      .write.mode("overwrite").parquet(s"$dir/updates")
    val b = s.read.parquet(s"$dir/base")
    val del = s.read.parquet(s"$dir/deletes")
    val upd = s.read.parquet(s"$dir/updates").withColumnRenamed("price", "new_price")
    // full-outer is not broadcastable — decompose into the two
    // broadcast-able halves: overlay (left join) + inserts (anti join)
    val overlaid = b.join(broadcast(del), Seq("k"), "left_anti")
      .join(broadcast(upd), Seq("k"), "left")
      .select(col("k"), coalesce(col("new_price"), col("price")).as("price"),
              col("new_price").isNotNull.as("from_delta"))
    // inserts: the small delta probes the base key set — no broadcast
    // hint (the base is the big side; AQE picks the join side), and in a
    // real MOR layout file-level key-range metadata prunes this to the
    // overlapping base files only
    val inserts = upd.join(b.select(col("k")), Seq("k"), "left_anti")
      .select(col("k"), col("new_price").as("price"), lit(true).as("from_delta"))
    overlaid.unionAll(inserts).orderBy("k")
  }
}
