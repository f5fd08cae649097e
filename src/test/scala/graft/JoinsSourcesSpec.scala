package graft

import graft.operators.{AdvancedJoins, Sources}
import org.apache.spark.sql.functions._

/** Invariants for advanced joins and source/sink round-trips. */
class JoinsSourcesSpec extends SparkSpecBase {

  test("theta band join: every pair satisfies the band and id ordering") {
    val bad = AdvancedJoins.joinThetaRange(spark, sfSmoke)
      .filter(col("id1") >= col("id2") ||
              abs(col("v1") - col("v2")) > 0.5001).count()
    assert(bad == 0)
  }

  test("theta band join matches naive cross-join result exactly") {
    val e = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
    val naive = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.event_id") < col("b.event_id") &&
              abs(col("a.value") - col("b.value")) <= 0.5)
      .count()
    assert(AdvancedJoins.joinThetaRange(spark, sfSmoke).count() == naive)
  }

  test("asof join: view always at or before purchase, none missed") {
    val df = AdvancedJoins.joinAsof(spark, sfSmoke)
    assert(df.filter(col("last_view_ts") > col("purchase_ts")).count() == 0)
    val nPurch = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase").count()
    assert(df.count() == nPurch)
  }

  test("forward asof: next view strictly after purchase, none missed, mirrors backward") {
    val df = AdvancedJoins.joinAsofForward(spark, sfSmoke)
    assert(df.filter(col("next_view_ts") <= col("purchase_ts")).count() == 0,
      "forward match must be strictly after (same-instant views are backward's)")
    val nPurch = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase").count()
    assert(df.count() == nPurch)
  }

  test("interval join: clicks strictly inside [signup, signup+1h)") {
    val n = AdvancedJoins.joinInterval(spark, sfSmoke).count()
    assert(n >= 0) // predicate correctness is oracle-checked; smoke here
  }

  test("csv round-trip preserves nation exactly") {
    val back = Sources.scanCsv(spark, sfSmoke)
    val src = Tables.nation(spark, sfSmoke)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("orc round-trip preserves nation exactly") {
    val back = Sources.scanOrc(spark, sfSmoke)
    val src = Tables.nation(spark, sfSmoke)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("json round-trip preserves nation exactly") {
    val back = Sources.scanJsonFile(spark, sfSmoke)
    val src = Tables.nation(spark, sfSmoke)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("partitioned sink round-trip returns exactly the purchase rows") {
    val got = Sources.sinkPartitioned(spark, sfSmoke)
    val want = Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "event_type")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("compaction rewrites 64 shards into <= 4 files, losslessly") {
    val got = Sources.sinkCompacted(spark, sfSmoke)
    val want = Tables.events(spark, sfSmoke)
      .select("event_id", "user_id", "event_type", "ts")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the physical point of the operator: the compacted directory holds
    // a handful of data files where the fragmented one held 64
    def nFiles(prefix: String): Int = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      tmp.listFiles().filter(_.getName.startsWith(prefix))
        .maxBy(_.lastModified())
        .listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(nFiles("graft_compact_frag_") == 64)
    assert(nFiles("graft_compact_out_") <= 4)
  }

  test("udf_scalar slug equals built-in equivalent") {
    val viaBuiltins = Tables.documents(spark, sfSmoke)
      .select(col("doc_id"),
        regexp_replace(lower(substring(col("text"), 1, 30)), " ", "-").as("slug"))
    val viaUdf = Sources.udfScalar(spark, sfSmoke)
    assert(viaUdf.exceptAll(viaBuiltins).isEmpty)
  }

  test("gzip csv round-trip preserves nation exactly and writes .csv.gz shards") {
    val back = Sources.scanCsvGzip(spark, sfSmoke)
    val src = Tables.nation(spark, sfSmoke)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "compression must not alter a single value")
    val dir = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(p => p.getFileName.toString.startsWith("graft_csvgz_"))
      .findFirst().get()
    val gz = dir.toFile.listFiles.count(_.getName.endsWith(".csv.gz"))
    assert(gz >= 1, "the sink must actually emit gzip-compressed shards")
  }

  test("text round-trip profile equals the profile computed from the source table") {
    val rt = Sources.scanTextLines(spark, sfSmoke).head()
    val src = Tables.documents(spark, sfSmoke).filter(col("text").isNotNull)
      .agg(count(lit(1)), countDistinct(col("text")),
           sum(length(col("text"))), min(length(col("text"))),
           max(length(col("text"))), round(avg(length(col("text"))), 6))
      .head()
    (0 until 6).foreach { i =>
      assert(rt.get(i).toString == src.get(i).toString,
        s"field $i diverges after the text round trip: ${rt.get(i)} != ${src.get(i)}")
    }
  }

  test("fn_struct flattened fields equal the plain projection") {
    val viaStruct = graft.functions.Families.fnStruct(spark, sfSmoke)
    val plain = Tables.orders(spark, sfSmoke)
      .select(col("o_orderkey"), col("o_custkey").as("cust"),
        round(col("o_totalprice").cast("double"), 4).as("total"),
        when(col("o_totalprice") < 100000, lit("small")).otherwise(lit("large"))
          .as("total_band"),
        year(col("o_orderdate")).cast("bigint").as("order_year"))
    assert(viaStruct.exceptAll(plain).isEmpty,
      "withField/dropFields surgery must collapse to the flat projection")
  }

  test("null-aware anti join: NOT IN three-valued logic holds exactly") {
    val r = graft.operators.AdvancedJoins.joinAntiNullAware(spark, sfSmoke).head()
    val cust = Tables.customer(spark, sfSmoke)
    val region0 = Tables.nation(spark, sfSmoke)
      .filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).toSet
    assert(r.getLong(0) == cust.count())
    // clean build: survivors are non-null planted keys outside the set
    val expectClean = cust
      .filter(col("c_nationkey") =!= 3)
      .select(col("c_nationkey").cast("long"))
      .collect().count(row => !region0.contains(row.getLong(0)))
    assert(r.getLong(1) == expectClean,
      s"clean-build NOT IN kept ${r.getLong(1)}, manual count $expectClean")
    // one NULL in the build set vetoes every probe row
    assert(r.getLong(2) == 0L, "NOT IN over a set containing NULL must be empty")
  }

  test("native as-of join is reachable from pure SQL via the marker") {
    Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .createOrReplaceTempView("v_sql_p")
    Tables.events(spark, sfSmoke)
      .filter(col("event_type") === "view" && col("user_id").isNotNull)
      .createOrReplaceTempView("v_sql_v")
    val viaSql = spark.sql("""
      SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
             v.event_id AS last_view_id, v.ts AS last_view_ts
      FROM v_sql_p p JOIN v_sql_v v
        ON graft_asof_marker(p.user_id, v.user_id,
             struct(p.ts, 9223372036854775807L), struct(v.ts, v.event_id))
    """)
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "the SQL-text marker must plan through the custom exec")
    val viaApi = graft.operators.AdvancedJoins.joinAsofNative(spark, sfSmoke)
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty,
      "SQL-surface as-of must equal the DataFrame-surface result")
  }

  test("native as-of exec returns exactly the composed union-window rows") {
    // two independent formulations of the same as-of question — the
    // custom AsOfJoinExec merge and the graded union-and-window key —
    // must agree row-for-row (both pick the max-(ts, id) view ≤ instant)
    val native = graft.operators.AdvancedJoins.joinAsofNative(spark, sfOracle)
    val composed = graft.operators.AdvancedJoins.joinAsof(spark, sfOracle)
    assert(native.count() == composed.count())
    assert(native.exceptAll(composed).isEmpty,
      "native as-of emitted rows the window formulation does not")
    assert(composed.exceptAll(native).isEmpty,
      "native as-of missed rows the window formulation finds")
  }

  test("dynamic overwrite leaves other partitions' files physically untouched") {
    // run the key once, then capture the view partition's file listing,
    // re-run ONLY the corrective purchase write, and assert the view
    // files (names + mtimes) did not change — the semantics the totals
    // check alone cannot distinguish from a rewrite-everything plan
    import org.apache.spark.sql.functions.{col, round => rnd}
    val src = Tables.events(spark, sfSmoke)
      .filter(col("event_type").isNotNull)
      .select(col("event_id"), col("user_id"), col("value"),
              col("event_type"))
    val dir = graft.Scratch.dir("graft_dynover_spec_")
    src.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    def listing(part: String): Seq[(String, Long)] = {
      val d = new java.io.File(s"$dir/event_type=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSeq.sorted
    }
    val viewBefore = listing("view")
    assert(viewBefore.nonEmpty)
    Thread.sleep(1100)  // mtime granularity guard
    src.filter(col("event_type") === "purchase")
      .withColumn("value", rnd(col("value") * 2, 4))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(dir)
    assert(listing("view") == viewBefore,
      "dynamic overwrite must not rewrite untouched partitions")
    val total = spark.read.parquet(dir).count()
    assert(total == src.count(), "row count must be conserved")
  }
}
