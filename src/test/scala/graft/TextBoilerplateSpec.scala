package graft

import org.apache.spark.sql.Row

/** Semantic checks for cross-document boilerplate pruning on a PLANTED
  * corpus — the oracle proves cross-engine agreement on the real corpus;
  * this proves the df rule means what the C4-style gate says: a span
  * shared by ≥ 5 documents is boilerplate everywhere it appears, a doc
  * that is nothing but the shared span is flagged, and unique content
  * never is.
  */
class TextBoilerplateSpec extends SparkSpecBase {

  private lazy val corpusDir: String = {
    val dir = Scratch.dir("graft-bp-corpus")
    import spark.implicits._
    // docs 0..5 embed the shared span "foo bar baz" (df = 7 with doc 6)
    // inside otherwise-unique text; doc 6 IS the span; doc 7 is clean.
    val docs = ((0 to 5).map(i => (i.toLong, s"u${i}a u${i}b foo bar baz u${i}c")) :+
        (6L, "foo bar baz") :+ (7L, "q r s t u v"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'test' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val byDoc: Map[Long, Row] =
    graft.operators.TextOps.textBoilerplateNgrams(spark, corpusDir)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("a shared span counts as boilerplate in every carrier, scaled by doc size") {
    val r = byDoc(0L)
    assert(r.getAs[Long]("n_grams") == 4L)   // 6 words → 4 distinct 3-grams
    assert(r.getAs[Long]("n_boiler") == 1L)  // only "foo bar baz" crosses df ≥ 5
    assert(r.getAs[Double]("boiler_frac") == 0.25)
    assert(r.getAs[Long]("bp_flag") == 0L)   // a quarter boilerplate is kept
  }

  test("a document that is nothing but the shared span is flagged") {
    val r = byDoc(6L)
    assert(r.getAs[Long]("n_grams") == 1L && r.getAs[Long]("n_boiler") == 1L)
    assert(r.getAs[Double]("boiler_frac") == 1.0)
    assert(r.getAs[Long]("bp_flag") == 1L)
  }

  test("unique content has zero boilerplate") {
    val r = byDoc(7L)
    assert(r.getAs[Long]("n_boiler") == 0L)
    assert(r.getAs[Double]("boiler_frac") == 0.0)
    assert(r.getAs[Long]("bp_flag") == 0L)
  }

  test("template mining: digit-varying generator docs group, free text stays out, corpus emptiness is a data property") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Invoice 10234 total 45.67 due 2024-01-05"),
      (2L, "Invoice 99881 total 1.03 due 2024-03-22"),
      (3L, "INVOICE 7 total 1200.00 due 2025-12-31"),
      (4L, "a genuinely unique sentence with no numbers"),
      (5L, "another unique sentence, 42 though")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.templateGroups(docs).collect()
    assert(out.length == 1, "exactly the invoice family must group")
    assert(out(0).getLong(2) == 3L && out(0).getLong(3) == 1L &&
      out(0).getLong(4) == 3L,
      "all three digit-varying invoices collapse to one template")
    // the graded corpus has no digit-templated duplicates: 0 rows is the
    // CORRECT answer there, not a dead path (proven live by the plant)
    assert(graft.operators.TextOps.textTemplateMining(spark, sfSmoke)
      .isEmpty)
  }
}
