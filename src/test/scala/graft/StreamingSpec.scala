package graft

import java.sql.Timestamp
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming semantics (SURVEY.md §2.9): batch-twin
  * equivalence on in-order data, watermark late-data dropping, streaming
  * dedup, and arbitrary state. All driven through MemoryStream so batch
  * boundaries (and therefore watermark advancement) are controlled. */
class StreamingSpec extends SparkSpecBase {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  private def ev(id: Long, minute: Int, user: Long = 1L,
                 typ: String = "click", value: Double = 1.0): Ev =
    Ev(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), user, typ, value)

  private def runBatches[T](events: Seq[Seq[Ev]],
                            build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                            mode: OutputMode): Seq[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val name = s"t_${System.nanoTime()}"
    val q = build(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try {
      events.foreach { batch => mem.addData(batch); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  test("tumbling stream equals batch twin on in-order data (append after watermark close)") {
    // batch 1: events in hour 10; batch 2: an event far ahead that pushes
    // the watermark past hour 10, forcing the 10:00 window to finalize
    val b1 = Seq(ev(1, 0), ev(2, 5), ev(3, 30))
    val b2 = Seq(Ev(4, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "click", 1.0))
    val rows = runBatches(Seq(b1, b2), Streaming.applyTumbling, OutputMode.Append())
    val hour10 = rows.find(_.getAs[Timestamp]("w_start") ==
      Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(hour10.isDefined && hour10.get.getAs[Long]("n_events") == 3L)
  }

  test("late data beyond the watermark is dropped") {
    val b1 = Seq(ev(1, 0), ev(2, 5))
    // push watermark to 12:50 (13:00 - 10m)
    val b2 = Seq(Ev(3, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "click", 1.0))
    // late arrival back in hour 10 — must be dropped, not re-emitted
    val b3 = Seq(ev(99, 7))
    val b4 = Seq(Ev(5, Timestamp.valueOf("2024-01-01 15:00:00"), 1, "click", 1.0))
    val rows = runBatches(Seq(b1, b2, b3, b4),
      Streaming.applyTumbling, OutputMode.Append())
    val hour10 = rows.filter(_.getAs[Timestamp]("w_start") ==
      Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(hour10.map(_.getAs[Long]("n_events")).sum == 2L,
      s"late event must not count: $hour10")
  }

  test("late audit: drop set matches hand-computed watermark replay across arrival buckets") {
    import spark.implicits._
    // jitter(id) = id*7919 mod 1200 s: 1→719, 2→238, 5→1195, 7→233, 13→947.
    // Arrival replay: id1 10:11:59 | id2 11:03:58 | id5 11:04:55 |
    // id7 11:59:53 | id13 12:00:47. Watermark (max earlier ts − 10 min):
    // id5 sees 11:00−10m = 10:50 > its 10:45 → dropped, 5 min late;
    // id13 is the FIRST arrival of hour-bucket 12, so its watermark
    // (11:56−10m from id7) comes entirely from the cross-bucket
    // cumulative pass — dropped, 1 min late. id1/id2/id7 pass.
    val evs = Seq(
      (1L, "2024-01-01 10:00:00"),
      (2L, "2024-01-01 11:00:00"),
      (5L, "2024-01-01 10:45:00"),
      (7L, "2024-01-01 11:56:00"),
      (13L, "2024-01-01 11:45:00"))
      .toDF("event_id", "ts_s")
      .select(col("event_id"), lit(1L).as("user_id"),
              lit("click").as("event_type"),
              col("ts_s").cast("timestamp").as("ts"))
    val out = Streaming.lateAudit(evs).collect()
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(5L, 13L),
      s"expected drops {5, 13}, got ${out.mkString(", ")}")
    val late = out.map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("late_us")).toMap
    assert(late(5L) == 300000000L)
    assert(late(13L) == 60000000L)
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    val b1 = Seq(ev(1, 0), ev(1, 0), ev(2, 5))
    val b2 = Seq(ev(1, 6), ev(3, 8))
    val rows = runBatches(Seq(b1, b2), Streaming.applyDedup, OutputMode.Append())
    assert(rows.map(_.getAs[Long]("event_id")).sorted == Seq(1L, 2L, 3L))
  }

  test("session windows merge events within the 30m gap") {
    val b1 = Seq(ev(1, 0), ev(2, 20), ev(3, 45))  // one session: gaps < 30m
    val b2 = Seq(Ev(4, Timestamp.valueOf("2024-01-01 14:00:00"), 1, "click", 1.0))
    val rows = runBatches(Seq(b1, b2), Streaming.applySession, OutputMode.Append())
    val s1 = rows.filter(_.getAs[Timestamp]("session_start") ==
      Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(s1.nonEmpty && s1.head.getAs[Long]("n_events") == 3L)
    assert(s1.head.getAs[Timestamp]("session_end") ==
      Timestamp.valueOf("2024-01-01 11:15:00"))
  }

  test("stateful counters accumulate across batches") {
    val b1 = Seq(ev(1, 0, user = 7, value = 2.0), ev(2, 1, user = 7, value = 3.0))
    val b2 = Seq(ev(3, 2, user = 7, value = 5.0))
    val rows = runBatches(Seq(b1, b2),
      df => Streaming.applyStateful(spark, df), OutputMode.Update())
    val last = rows.filter(_.getAs[Long]("user_id") == 7L)
      .maxBy(_.getAs[Long]("n_events"))
    assert(last.getAs[Long]("n_events") == 3L)
    assert(math.abs(last.getAs[Double]("sum_value") - 10.0) < 1e-9)
  }

  test("transformWithState counters accumulate across batches (RocksDB store)") {
    Streaming.withConf(spark, Streaming.RocksDbStore) {
      val b1 = Seq(ev(1, 0, user = 9, value = 1.5), ev(2, 1, user = 9, value = 2.5))
      val b2 = Seq(ev(3, 2, user = 9, value = 6.0))
      val rows = runBatches(Seq(b1, b2),
        df => Streaming.applyStatefulTws(spark, df), OutputMode.Update())
      val last = rows.filter(_.getAs[Long]("user_id") == 9L)
        .maxBy(_.getAs[Long]("n_events"))
      assert(last.getAs[Long]("n_events") == 3L)
      assert(math.abs(last.getAs[Double]("sum_value") - 10.0) < 1e-9)
    }
  }

  test("stream-stream join pairs clicks with purchases inside the attribution window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val name = s"t_${System.nanoTime()}"
    val q = Streaming.applyStreamJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(ev(1, 0, user = 1), ev(2, 0, user = 2))
      purchases.addData(
        ev(10, 20, user = 1, typ = "purchase"),   // within 30m of click 1
        ev(11, 50, user = 2, typ = "purchase"))   // 50m after click 2 → outside
      q.processAllAvailable()
      val rows = spark.table(name).collect()
      val pairs = rows.map(r => (r.getAs[Long]("click_id"),
                                 r.getAs[Long]("purchase_id"))).toSet
      assert(pairs == Set((1L, 10L)),
        s"only the in-window pair must join, got: ${pairs.mkString(",")}")
    } finally q.stop()
  }

  test("stream_agg_sink end-to-end run equals the batch twin") {
    val streamed = Streaming.streamAggSink(spark, sfSmoke)
    val batch = Streaming.tumblingBatch(spark, sfSmoke)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  /** Runs `body` under a shuffle-partition count the availableNow
    * runner does not use, and checks the runner's conf scope leaves the
    * session as it found it: that count back, no state-store provider set. */
  private def confRestoredAfter[A](body: => A): A =
    Streaming.withConf(spark, "spark.sql.shuffle.partitions" -> "3") {
      val out = body
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      val provider = spark.conf.getAll.get(Streaming.RocksDbStore._1)
      assert(provider.isEmpty, s"state-store provider left set: $provider")
      out
    }

  test("stream_tws_counter end-to-end run equals the per-user GROUP BY") {
    val streamed = confRestoredAfter(Streaming.streamTwsCounter(spark, sfSmoke).collect())
    val batch = Tables.events(spark, sfSmoke)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy("user_id")
      .collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1), s"$a vs $b")
      assert(math.abs(a.getDouble(2) - b.getDouble(2)) < 1e-6, s"$a vs $b")
    }
  }

  test("stream_foreach_batch emits exactly the windows the final watermark closed") {
    val streamed = confRestoredAfter(Streaming.streamForeachBatch(spark, sfSmoke).collect())
    val maxTs = Tables.events(spark, sfSmoke).agg(max(col("ts"))).head().getTimestamp(0)
    val closed = Streaming.tumblingBatch(spark, sfSmoke)
      .filter(col("w_start") + expr("INTERVAL 1 HOUR") <=
              lit(maxTs) - expr("INTERVAL 37 MINUTES"))
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == closed.toSeq)
  }

  test("session batch twin matches gaps-and-islands window formulation") {
    val sw = Streaming.sessionBatch(spark, sfSmoke)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val islands = Tables.events(spark, sfSmoke)
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(w).isNull ||
             unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= 1800000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid").agg(count(lit(1)).as("n_events"))
    assert(sw.count() == islands.count())
  }

  test("restart recovery: checkpoint resume matches the batch aggregate and reprocesses nothing") {
    val rows = Streaming.streamRestartRecovery(spark, sfSmoke)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val batch = Tables.events(spark, sfSmoke)
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("lo"),
           max(col("event_id")).as("hi"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.sameElements(batch),
      "post-restart totals must equal the one-shot batch aggregate " +
        "(double-processing or lost state would shift exact counts)")
  }
}
