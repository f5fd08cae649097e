package graft

import org.apache.spark.sql.functions._

/** PlanMemo's data-version contract — the r14 verdict's ask #4: a
  * corpus REWRITTEN mid-session must re-probe instead of silently
  * reusing the stale memoized decision (the semanticHash-only memo's
  * hole, flagged since r13). */
class PlanMemoSpec extends SparkSpecBase {

  test("rewriting a scratch corpus changes the memo key and re-probes") {
    import spark.implicits._
    val dir = Scratch.dir("graft_planmemo_")
    (1 to 10).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)

    var probes = 0
    def decide(): Int = PlanMemo.cached(spark.read.parquet(dir), "t") {
      probes += 1; probes
    }
    assert(decide() === 1)
    assert(decide() === 1, "same bytes: second call must hit the memo")

    // rewrite the SAME path with different content (different file
    // length; mtime alone would also flip the key)
    Thread.sleep(5)
    (1 to 500).map(i => (i.toLong, s"rewritten document number $i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    assert(decide() === 2,
      "rewritten corpus under the same path+plan must re-probe")
    assert(decide() === 2, "and the new decision memoizes in turn")
  }

  test("collectionCount recounts a corpus rewritten at the same path") {
    import spark.implicits._
    val dir = Scratch.dir("graft_planmemo_count_")
    def write(n: Int): Unit = (1 to n).map(i => (i.toLong, s"doc $i"))
      .toDF("vec_id", "text").write.mode("overwrite").parquet(dir)
    def count(): Long =
      operators.Similarity.collectionCount(spark.read.parquet(dir))
    write(10)
    assert(count() === 10L)
    Thread.sleep(5)
    write(500)
    assert(count() === 500L, "a stale count would size the index for 10 rows")
  }

  test("bandingFor re-probes a rewritten corpus (layout tracks the data)") {
    import spark.implicits._
    val dir = Scratch.dir("graft_planmemo_band_")
    // tiny corpus: n <= 2*MaxBucket -> fixed (4, 4) layout, no probe
    (1 to 20).map(i => (i.toLong, Seq(s"w$i", "shared")))
      .toDF("doc_id", "ws").write.mode("overwrite").parquet(dir)
    assert(operators.Dedup.bandingFor(spark.read.parquet(dir)) === ((4, 4)))

    // rewrite: 300 docs drawn from a 30-word vocabulary — similarity-
    // dense, so the occupancy probe must escalate r past the tiny-corpus
    // default. A stale memo would return (4, 4) here.
    Thread.sleep(5)
    val vocab = (1 to 30).map(i => s"v$i")
    (1 to 300).map { i =>
      (i.toLong, (0 until 20).map(j => vocab((i * 7 + j * 13) % 30)).distinct)
    }.toDF("doc_id", "ws").write.mode("overwrite").parquet(dir)
    val (b2, r2) = operators.Dedup.bandingFor(spark.read.parquet(dir))
    assert(r2 > 4, s"dense rewrite must re-probe to a finer layout, got ($b2, $r2)")
  }

  test("dataVersion is order-independent and sensitive to file changes") {
    import spark.implicits._
    val dir = Scratch.dir("graft_planmemo_dv_")
    (1 to 50).toDF("x").repartition(4).write.mode("overwrite").parquet(dir)
    val v1 = PlanMemo.dataVersion(spark.read.parquet(dir))
    val v1b = PlanMemo.dataVersion(spark.read.parquet(dir).filter(col("x") > 0))
    assert(v1 === v1b, "data version depends on leaves only, not the plan")
    Thread.sleep(5)
    (1 to 50).toDF("x").repartition(4).write.mode("overwrite").parquet(dir)
    val v2 = PlanMemo.dataVersion(spark.read.parquet(dir))
    assert(v1 !== v2, "a rewrite (new file names/mtimes) must change it")
  }
}
