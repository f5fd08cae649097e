package graft

import graft.functions.GraftExtensions
import graft.plans.{AsOfJoinRule, AsOfJoinStrategy}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Native DotProduct expression: parity with the declarative HOF form,
  * null semantics, codegen path; and how the native tier reaches a
  * session (extension injection, `GraftSession.local`,
  * `SparkEntry.queries`). */
class DotProductSpec extends SparkSpecBase {

  test("graft_dot is bit-identical to aggregate(zip_with(...)) on the corpus") {
    val e = Tables.embeddings(spark, sfSmoke).limit(200)
    val both = e.crossJoin(
        Tables.embeddings(spark, sfSmoke).limit(1)
          .select(col("embedding").as("qv")))
      .select(
        expr("graft_dot(embedding, qv)").as("native"),
        expr("aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("null array yields null; self-dot of unit vectors is ~1") {
    val df = Tables.embeddings(spark, sfSmoke).limit(50)
      .select(expr("graft_dot(embedding, embedding)").as("selfdot"),
              expr("graft_dot(embedding, CAST(NULL AS ARRAY<FLOAT>))").as("n"))
    assert(df.filter(col("n").isNotNull).count() == 0)
    assert(df.filter(abs(col("selfdot") - 1.0) > 1e-3).count() == 0)
  }

  test("graft_minhash16 equals the declarative seeded-family formulation") {
    val both = Tables.documents(spark, sfSmoke)
      .select(array_distinct(split(col("text"), " ")).as("ws"))
      .select(
        expr("graft_minhash16(ws)").as("native"),
        expr("""transform(sequence(0, 15),
               |  s -> array_min(transform(ws, w -> xxhash64(w, s))))"""
          .stripMargin).as("hof"))
    assert(both.filter(expr("native != hof")).count() == 0)
  }

  test("graft_shingles equals the declarative slice/concat_ws/xxhash64 chain") {
    val both = Tables.documents(spark, sfSmoke)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(
        expr("graft_shingles(w, 5)").as("native"),
        expr("""transform(sequence(1, size(w) - 4),
               |  i -> xxhash64(concat_ws(' ', slice(w, i, 5))))"""
          .stripMargin).as("hof"))
    assert(both.filter(expr("native != hof")).count() == 0)
    // concat_ws edge semantics: null words skipped, empty words kept
    val edge = spark.sql(
      """SELECT graft_shingles(array('a', CAST(NULL AS STRING), '', 'b'), 2) AS n,
        |       transform(sequence(1, 3),
        |         i -> xxhash64(concat_ws(' ', slice(array('a', CAST(NULL AS STRING), '', 'b'), i, 2)))) AS h,
        |       graft_shingles(array('a'), 5) AS short""".stripMargin).head()
    assert(edge.getSeq[Long](0) == edge.getSeq[Long](1))
    assert(edge.getSeq[Long](2).isEmpty)
  }

  test("type check rejects non-float arrays") {
    val err = intercept[Exception] {
      Tables.embeddings(spark, sfSmoke)
        .select(expr("graft_dot(array(1L, 2L), array(1L, 2L))")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float>"))
  }

  test("literal and arity errors name the function; literals may be bigint") {
    // every message on the cause chain: analysis may wrap the builder's
    val errorText = (sql: String) => {
      val err = intercept[Throwable](spark.sql(sql).collect())
      Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
        .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString(" <- ")
    }
    val emb = "array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT))"
    val agg = "FROM VALUES ('a', CAST(1.0 AS DOUBLE)) AS t(w, v)"
    val notLiteral = Seq(
      "graft_minhash16" -> "SELECT graft_minhash16(array('a'), CAST(NULL AS INT))",
      "graft_lsh_buckets" -> s"SELECT graft_lsh_buckets($emb, CAST(NULL AS INT), 4)",
      "graft_lsh_buckets" -> s"SELECT graft_lsh_buckets($emb, 2, CAST(NULL AS INT))",
      "graft_lsh_buckets" -> s"SELECT graft_lsh_buckets($emb, 2.5, 4)",
      "graft_shingles" -> "SELECT graft_shingles(array('a', 'b'), CAST(NULL AS INT))",
      "graft_topk" -> s"SELECT graft_topk(w, CAST(NULL AS INT), 1) $agg",
      "graft_tdigest" -> s"SELECT graft_tdigest(v, CAST(NULL AS INT)) $agg")
    val wrongArity = Seq(
      "graft_simhash48" -> "SELECT graft_simhash48()",
      "graft_dot" -> s"SELECT graft_dot($emb)",
      "graft_minhash16" -> "SELECT graft_minhash16()",
      "graft_lsh_buckets" -> s"SELECT graft_lsh_buckets($emb, 2)",
      "graft_asof_marker" -> "SELECT graft_asof_marker(1, 2, 3)")
    val outOfRange = Seq(
      "graft_topk" -> s"SELECT graft_topk(w, 1, 2) $agg",
      "graft_tdigest" -> s"SELECT graft_tdigest(v, 5) $agg")
    for ((name, sql) <- notLiteral) {
      val text = errorText(sql)
      assert(text.contains(s"$name ") && text.contains("integer literal"),
        s"$sql: $text")
    }
    for ((name, sql) <- wrongArity) {
      val text = errorText(sql)
      assert(text.contains(s"$name takes"), s"$sql: $text")
    }
    for ((name, sql) <- outOfRange) {
      val text = errorText(sql)
      assert(text.contains(s"IllegalArgumentException: $name needs"),
        s"$sql: $text")
    }
    val r = spark.sql(
      """SELECT graft_shingles(array('a', 'b'), CAST(2 AS BIGINT)) AS big,
        |       graft_shingles(array('a', 'b'), 2) AS int""".stripMargin).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1) && r.getSeq[Long](0).size == 1)
    // DESCRIBE FUNCTION shows the entry's class: each must be the
    // concrete expression its builder returns
    for ((_, info, _) <- GraftExtensions.functions) {
      val cls = Class.forName(info.getClassName)
      assert(!java.lang.reflect.Modifier.isAbstract(cls.getModifiers) &&
        classOf[org.apache.spark.sql.catalyst.expressions.Expression]
          .isAssignableFrom(cls), s"${info.getName}: ${info.getClassName}")
    }
  }

  /** Runs `body` with the suite session detached (no active or default
    * session), so a builder in it makes a sibling session: it shares
    * the SparkContext but gets a fresh sessionState. `getOrCreate`
    * would otherwise short-circuit to the suite session. Never stop a
    * sibling — it shares the suite's SparkContext. */
  private def detached[T](body: => T): T = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body
    finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  /** How many times the as-of rule and strategy sit on `s`'s
    * experimental lists. */
  private def asofInstalls(s: SparkSession): (Int, Int) =
    (s.experimental.extraOptimizations.count(_ == AsOfJoinRule),
     s.experimental.extraStrategies.count(_ == AsOfJoinStrategy))

  test("GraftExtensions injects every function in the shared list at session build") {
    // withExtensions only applies at builder time; the sibling's
    // registry has ONLY the injected functions.
    detached {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions()).getOrCreate()
      val r = s2.sql(
        """SELECT
          |  graft_dot(array(CAST(0.5 AS FLOAT)), array(CAST(4.0 AS FLOAT))) AS d,
          |  size(graft_minhash16(array('a', 'b'))) AS m,
          |  graft_simhash48(array(7L, 9L)) AS s,
          |  graft_sorted_intersect_size(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS i
          |""".stripMargin).head()
      assert(math.abs(r.getDouble(0) - 2.0) < 1e-12)
      assert(r.getInt(1) == 16)
      assert(r.getLong(3) == 2L)
      // the extension and GraftExtensions.register share one list: every
      // ident in it is in the sibling's registry, graft_tdigest included
      val missing = GraftExtensions.functions.map(_._1)
        .filterNot(s2.sessionState.functionRegistry.functionExists)
      assert(missing.isEmpty, s"not injected: $missing")
      assert(GraftExtensions.functions.size == 14)
      val td = s2.sql(
        """SELECT size(graft_tdigest(v, 200)) AS n
          |FROM VALUES (CAST(1.0 AS DOUBLE)), (CAST(2.0 AS DOUBLE)) AS t(v)
          |""".stripMargin).head()
      assert(td.getInt(0) == 3)
    }
  }

  test("a fresh GraftSession.local session has the whole native tier installed") {
    detached {
      val s2 = GraftSession.local(4)
      assert(s2 ne spark)
      val missing = GraftExtensions.functions.map(_._1)
        .filterNot(s2.sessionState.functionRegistry.functionExists)
      assert(missing.isEmpty, s"not installed at build: $missing")
      assert(asofInstalls(s2) == ((1, 1)))
    }
  }

  test("SparkEntry.queries installs the native tier on a bare session it is given") {
    // built like the bench harness builds its own session: a plain
    // builder, nothing of graft's installed
    val keys = Seq("join_asof_native", "dedup_simhash", "text_bpe_token_count")
    val want = keys.map(k => SparkEntry.queries(k)(spark, sfSmoke).count())
    detached {
      val s2 = SparkSession.builder().master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      val registry = s2.sessionState.functionRegistry
      assert(!registry.functionExists(GraftExtensions.functions.head._1))
      assert(asofInstalls(s2) == ((0, 0)))
      assert(keys.map(k => SparkEntry.queries(k)(s2, sfSmoke).count()) == want)
      assert(GraftExtensions.functions.map(_._1).forall(registry.functionExists))
      // each of the three calls installed on s2; the repeats added nothing
      assert(asofInstalls(s2) == ((1, 1)))
    }
  }
}
