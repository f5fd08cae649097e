package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** Planted-fixture semantics for the native Unicode expressions — the
  * corpus is ASCII, so the oracle pairing proves only the plumbing;
  * these fixtures prove the normalization itself (NFD→NFC convergence,
  * mark stripping, null/empty behavior, codegen and interpreted paths
  * agreeing).
  */
class UnicodeNormSpec extends SparkSpecBase {
  import spark.implicits._

  private def viaSql(fn: String, input: String): String = {
    GraftExtensions.register(spark)
    Seq(input).toDF("t").selectExpr(s"$fn(t)").head().getString(0)
  }

  test("nfc: decomposed input converges to precomposed form") {
    // 'é' as e + COMBINING ACUTE (U+0065 U+0301) vs precomposed U+00E9
    val decomposed = "café"
    val precomposed = "café"
    assert(viaSql("graft_nfc", decomposed) == precomposed)
    assert(viaSql("graft_nfc", precomposed) == precomposed)
  }

  test("unaccent: combining marks stripped, base letters kept") {
    assert(viaSql("graft_unaccent", "café") == "cafe")
    assert(viaSql("graft_unaccent", "naïve Ångström") ==
      "naive Angstrom")
    // ASCII fast path is identity
    assert(viaSql("graft_unaccent", "plain ascii 123") == "plain ascii 123")
  }

  test("null and empty propagate; interpreted path matches codegen") {
    GraftExtensions.register(spark)
    val df = Seq[Option[String]](None, Some(""), Some("é"))
      .toDF("t")
      .selectExpr("graft_nfc(t) AS n", "graft_unaccent(t) AS u")
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getString(0) == "" && rows(1).getString(1) == "")
    assert(rows(2).getString(0) == "é" && rows(2).getString(1) == "e")
    // interpreted (eval) path: same results without codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val lit = Literal(UTF8String.fromString("café"),
      org.apache.spark.sql.types.StringType)
    assert(functions.NfcNormalize(lit).eval(null).toString == "café")
    assert(functions.StripAccents(lit).eval(null).toString == "cafe")
  }

  test("benford: shares sum to 1 and digits are 1..9") {
    val rows = operators.Profiling.profileBenford(spark, sfOracle).collect()
    assert(rows.map(_.getString(0)).forall(d => d >= "1" && d <= "9"))
    val total = rows.map(_.getDouble(2)).sum
    assert(math.abs(total - 1.0) < 1e-3, s"observed shares sum to $total")
  }

  test("cusum: non-negative, zero-mean series stays mostly quiet") {
    val rows = operators.Stats.statsCusum(spark, sfOracle).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(3) >= -1e-9, "CUSUM went negative"))
  }

  test("merge-on-read: deletes absent, updates overlaid, inserts present") {
    val out = operators.Cdc.sinkMergeOnRead(spark, sfSmoke)
    val rows = out.collect()
    val keys = rows.map(_.getLong(0)).toSet
    assert(!keys.exists(k => k < 1000000000L && k % 7 == 0),
      "a deleted key survived the anti join")
    assert(keys.exists(_ >= 1000000000L), "no insert rows surfaced")
    val flagged = rows.filter(_.getBoolean(2)).map(_.getLong(0))
    assert(flagged.forall(k => (k % 5 == 0 && k % 7 != 0) || k >= 1000000000L))
  }
}
