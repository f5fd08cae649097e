package graft

import graft.operators.{Pipeline, TextOps}
import org.apache.spark.sql.functions._

/** Pins the subword tokenizer (graft.functions.BpeTokenizer) and the two
  * oracle-N keys built on it (text_bpe_token_count, pipeline_pack_bpe):
  * hand-tokenized fixtures for the greedy longest-match rule, the
  * lossless-reconstruction property over the real corpus, and packing
  * consistency between the count expression and the token arrays. */
class BpeTokenSpec extends SparkSpecBase {

  private def tokenized(texts: Seq[String]): Map[String, Seq[String]] = {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    texts.toDF("text")
      .select(col("text"), expr("graft_bpe_tokens(text)").as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
  }

  test("greedy longest-match matches hand-tokenized fixtures") {
    val got = tokenized(Seq(
      "table", "tables", "scanning", "the", "thematic", "xyz",
      "fast query", "customer"))
    assert(got("table") == Seq("table"), "whole-word merge wins")
    assert(got("tables") == Seq("table", "s"), "suffix falls back to chars")
    assert(got("scanning") == Seq("scan", "n", "ing"))
    assert(got("the") == Seq("the"))
    assert(got("thematic") == Seq("the", "ma", "ti", "c"),
      "maximal munch never backtracks")
    assert(got("xyz") == Seq("x", "y", "z"), "unknown chars fall back 1:1")
    assert(got("fast query") == Seq("fast", "query"),
      "matches never cross a word boundary")
    assert(got("customer") == Seq("customer"))
  }

  test("count == tokens.size and tokens reconstruct the text (sf0.01 corpus)") {
    graft.functions.GraftExtensions.register(spark)
    val df = Tables.documents(spark, sfOracle)
      .select(col("doc_id"), col("text"),
        expr("graft_bpe_count(text)").as("n"),
        expr("graft_bpe_tokens(text)").as("toks"))
    assert(df.filter(col("n") =!= size(col("toks"))).count() == 0,
      "count expression must agree with the token array")
    // byte-fallback makes tokenization lossless: concatenating a doc's
    // tokens yields the doc with whitespace removed
    assert(df.filter(concat_ws("", col("toks")) =!=
      regexp_replace(col("text"), "\\s+", "")).count() == 0,
      "token concatenation must reconstruct the text")
    // subword counts bound: one per word at least, one per char at most
    val bad = df
      .withColumn("ws", size(split(trim(col("text")), "\\s+")).cast("bigint"))
      .withColumn("chars", length(regexp_replace(col("text"), "\\s+", "")).cast("bigint"))
      .filter(col("n") < col("ws") || col("n") > col("chars"))
    assert(bad.count() == 0, "ws_tokens <= bpe_tokens <= non-ws chars")
  }

  test("text_bpe_token_count reports the ws-vs-subword gap") {
    val df = TextOps.textBpeTokenCount(spark, sfOracle)
    assert(df.count() == Tables.documents(spark, sfOracle).count())
    assert(df.filter(col("bpe_per_word") < 1.0).count() == 0,
      "every word is at least one subword token")
  }

  test("pipeline_pack_bpe bins are the exclusive-prefix-sum of subword counts") {
    val rows = Pipeline.packBpe(spark, sfOracle)
      .orderBy("source", "doc_id").collect()
    val budget = 2048L
    rows.groupBy(_.getString(0)).foreach { case (_, docs) =>
      var offset = 0L
      docs.foreach { r =>
        assert(r.getLong(3) == offset / budget,
          s"doc ${r.getLong(1)}: bin must be floor(prefix offset / budget)")
        offset += r.getLong(2)
      }
    }
    // budgets in subword tokens are strictly larger than whitespace
    // budgets on the same corpus → at least as many bins somewhere
    val wsBins = Pipeline.packSequences(spark, sfOracle)
      .agg(max("bin")).head().getLong(0)
    val bpeBins = Pipeline.packBpe(spark, sfOracle)
      .agg(max("bin")).head().getLong(0)
    assert(bpeBins >= wsBins, "subword packing needs at least as many bins")
  }
}
