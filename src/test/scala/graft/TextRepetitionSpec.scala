package graft

import org.apache.spark.sql.Row

/** Semantic checks for the intra-document repetition filter on PLANTED
  * documents — the oracle proves cross-engine agreement on the real
  * corpus; this proves the metrics mean what the Gopher-style rule says
  * they mean (a doc that is one 2-gram repeated is caught, a diverse doc
  * is not, and short docs don't emit phantom n-grams).
  */
class TextRepetitionSpec extends SparkSpecBase {

  private lazy val corpusDir: String = {
    val dir = Scratch.dir("graft-rep-corpus")
    import spark.implicits._
    val docs = Seq(
      // doc 0: "a b" × 8 — top 2-gram ("a b" or "b a") dominates, and the
      // vocabulary is 2 words over 16 tokens → dup_word_frac = 7/8.
      (0L, Seq.fill(8)("a b").mkString(" ")),
      // doc 1: 40 distinct words (corpus-typical length) — every 1/2/3-gram
      // unique, so nothing flags. (A SHORT all-distinct doc would still
      // trip the top3 threshold: 1/(n-2) exceeds 0.05 below ~22 words —
      // the thresholds are calibrated for corpus-length documents.)
      (1L, (1 to 40).map(i => s"w$i").mkString(" ")),
      // doc 2: two words — no 3-grams exist; top3_frac must be 0, not NaN
      // or a phantom from sequence(1, 0)'s descending [1, 0].
      (2L, "x y"),
      // doc 3: one word — no 2-grams either.
      (3L, "solo"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'test' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val byDoc: Map[Long, Row] =
    graft.operators.TextOps.textRepetitionFilter(spark, corpusDir)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("a document that is one repeated 2-gram is flagged") {
    val r = byDoc(0L)
    assert(r.getAs[Long]("n_words") == 16L)
    assert(r.getAs[Double]("dup_word_frac") == 7.0 / 8.0)
    // 15 bigrams: "a b" × 8, "b a" × 7 → top mass 8/15
    assert(math.abs(r.getAs[Double]("top2_frac") - 8.0 / 15.0) < 1e-6)
    assert(r.getAs[Long]("rep_flag") == 1L)
  }

  test("a fully diverse document is not flagged") {
    val r = byDoc(1L)
    assert(r.getAs[Double]("dup_word_frac") == 0.0)
    assert(math.abs(r.getAs[Double]("top2_frac") - 1.0 / 39.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("top3_frac") - 1.0 / 38.0) < 1e-6)
    assert(r.getAs[Long]("rep_flag") == 0L)
  }

  test("short documents emit no phantom n-grams") {
    val two = byDoc(2L)
    assert(math.abs(two.getAs[Double]("top2_frac") - 1.0) < 1e-6) // the one bigram
    assert(two.getAs[Double]("top3_frac") == 0.0)                 // none exist
    val one = byDoc(3L)
    assert(one.getAs[Double]("top2_frac") == 0.0)
    assert(one.getAs[Double]("top3_frac") == 0.0)
    assert(one.getAs[Double]("dup_word_frac") == 0.0)
  }
}
