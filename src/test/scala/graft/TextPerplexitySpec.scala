package graft

import org.apache.spark.sql.Row

/** Semantic checks for the unigram-LM perplexity gate on a PLANTED
  * corpus — the oracle proves cross-engine agreement on the real corpus;
  * this proves the score orders documents the way a perplexity filter
  * must: text made of corpus-common words scores lower (less surprising)
  * than text made of corpus-rare words, and the score is exactly
  * avg(−ln p) under the self-trained model.
  */
class TextPerplexitySpec extends SparkSpecBase {

  private lazy val corpusDir: String = {
    val dir = Scratch.dir("graft-ppl-corpus")
    import spark.implicits._
    // 10 docs of "common common common common", one doc of four distinct
    // hapaxes. Corpus totals: 44 tokens; p(common) = 40/44, p(hapax) = 1/44.
    val docs = ((0 to 9).map(i => (i.toLong, "common common common common")) :+
        (10L, "rare1 rare2 rare3 rare4"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'test' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
    docs.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val byDoc: Map[Long, Row] =
    graft.operators.TextOps.textPerplexityBucket(spark, corpusDir)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("common-word text scores less surprising than rare-word text") {
    val common = byDoc(0L).getAs[Double]("avg_nll")
    val rare = byDoc(10L).getAs[Double]("avg_nll")
    assert(common < rare, s"common $common must score below rare $rare")
  }

  test("scores are exactly avg(-ln p) under the self-trained unigram model") {
    val common = byDoc(0L)
    assert(common.getAs[Long]("n_words") == 4L)
    assert(math.abs(common.getAs[Double]("avg_nll") -
      -math.log(40.0 / 44.0)) < 1e-6)
    val rare = byDoc(10L)
    assert(math.abs(rare.getAs[Double]("avg_nll") -
      -math.log(1.0 / 44.0)) < 1e-6)
  }

  test("bigram logprob is exactly avg(-ln p) under Laplace-smoothed corpus bigrams") {
    // planted bigram counts: (common,common) = 30 (3 per common doc),
    // each rare bigram = 1; histories: common = 30, rare1..3 = 1 each;
    // V = 5 distinct words. p(common|common) = 31/35; p(rareN+1|rareN)
    // = (1+1)/(1+5) = 1/3.
    val rows = graft.operators.TextOps.textBigramLogprob(spark, corpusDir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val common = rows(0L)
    assert(common.getAs[Long]("n_bigrams") == 3L)
    assert(math.abs(common.getAs[Double]("avg_nll") -
      -math.log(31.0 / 35.0)) < 1e-6)
    val rare = rows(10L)
    assert(rare.getAs[Long]("n_bigrams") == 3L)
    assert(math.abs(rare.getAs[Double]("avg_nll") - math.log(3.0)) < 1e-6)
  }

  test("bigram logprob covers every multi-token doc with n_bigrams = tokens - 1") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.TextOps.textBigramLogprob(spark, sfOracle)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = Tables.documents(spark, sfOracle)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val multi = toks.filter(_._2 >= 2)
    assert(got.keySet == multi.keySet)
    multi.foreach { case (id, n) => assert(got(id) == n - 1L) }
  }
}
