package graft

import graft.operators.{Dedup, Graph, ModelEval, Pipeline, Stats, TextOps, Windows}
import org.apache.spark.sql.functions._

/** Invariants for the round-9 additions — properties the oracle hash
  * cannot see (it proves Spark≡DuckDB on one corpus, not that both
  * encode the intended semantics): PR-curve monotonicity and AP range,
  * calibration mass conservation, clustering-coefficient bounds, the
  * keep-best/keep-first cluster equivalence, changepoint optimality
  * against a brute-force rescore, Pareto class exhaustiveness, and the
  * Laplace draw's scale bound.
  */
class ModelEvalSpec extends SparkSpecBase {

  test("pr_auc: recall decreases with threshold, AP and ratios in [0,1], " +
      "lowest bin captures everything") {
    val rows = ModelEval.statsPrAuc(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    val ap = rows.head.getAs[Double]("average_precision")
    assert(ap >= 0 && ap <= 1)
    assert(rows.forall(r => r.getAs[Double]("precision") >= 0 &&
      r.getAs[Double]("precision") <= 1))
    // rows are bin-ascending; recall shrinks as the threshold rises
    val recalls = rows.map(_.getAs[Double]("recall"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b })
    // the lowest nonempty bin's cumulative set is the whole sample
    assert(recalls.head == 1.0)
    val total = rows.map(_.getAs[Long]("n_bin")).sum
    assert(rows.head.getAs[Long]("cum_n") == total)
  }

  test("brier calibration: buckets partition events, rates and scores " +
      "bounded, ECE consistent with per-bucket gaps") {
    val rows = ModelEval.statsBrierCalibration(spark, sfSmoke).collect()
    val nEvents = Tables.events(spark, sfSmoke)
      .filter(col("event_type").isNotNull).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == nEvents)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_pred") >= 0 && r.getAs[Double]("avg_pred") <= 1)
      assert(r.getAs[Double]("obs_rate") >= 0 && r.getAs[Double]("obs_rate") <= 1)
      assert(r.getAs[Double]("brier_bucket") >= 0 &&
        r.getAs[Double]("brier_bucket") <= 1)
      assert(r.getAs[Double]("global_brier") === rows.head.getAs[Double]("global_brier"))
    }
    val ece = rows.head.getAs[Double]("ece")
    assert(ece >= 0 && ece <= 1)
    // ECE is the volume-weighted |avg_pred − obs_rate| (rounding slack)
    val manual = rows.map(r => r.getAs[Long]("n_events") *
      math.abs(r.getAs[Double]("avg_pred") - r.getAs[Double]("obs_rate"))).sum /
      rows.map(_.getAs[Long]("n_events")).sum
    assert(math.abs(ece - manual) < 1e-4)
  }

  test("power analysis: detecting a smaller effect needs more samples") {
    val r = ModelEval.statsPowerTwoprop(spark, sfSmoke).head()
    val n = r.getAs[Long]("n_required_per_arm")
    assert(n > 0)
    // closed form sanity: halving the effect quadruples the n (±1 on ceil)
    val p1 = r.getAs[Double]("rate_a"); val p2 = r.getAs[Double]("rate_b")
    val z2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
    val half = math.ceil(z2 * (p1 * (1 - p1) + p2 * (1 - p2)) /
      math.pow((p1 - p2) / 2, 2))
    assert(half >= 3.9 * n && half <= 4.1 * n + 4)
  }

  test("clustering coefficient: bounds hold and a node's triangles never " +
      "exceed its wedge count") {
    val rows = Graph.graphClusteringCoeff(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, t) = (r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"))
      assert(d >= 2)
      assert(2 * t <= d * (d - 1), "coefficient must be <= 1")
      val c = r.getAs[Double]("clustering_coeff")
      assert(c >= 0 && c <= 1)
      assert(math.abs(c - 2.0 * t / (d * (d - 1))) < 1e-6)
    }
    val g = rows.head.getAs[Double]("global_transitivity")
    assert(g >= 0 && g <= 1)
  }

  test("keep-best dedup: same clusters as keep-first, representative is " +
      "the argmax by length then id") {
    val best = Dedup.dedupKeepBest(spark, sfSmoke).collect()
      .map(r => r.getAs[String]("h") -> r).toMap
    val first = Dedup.dedupExact(spark, sfSmoke).collect()
      .map(r => r.getAs[String]("h") -> r).toMap
    assert(best.keySet == first.keySet, "cluster key sets must agree")
    best.foreach { case (h, b) =>
      assert(b.getAs[Long]("n_copies") == first(h).getAs[Long]("n_copies"))
      assert(b.getAs[Long]("keep_chars") >= b.getAs[Long]("min_chars"))
      assert(b.getAs[Long]("n_dropped") == b.getAs[Long]("n_copies") - 1)
    }
  }

  test("changepoint: the reported split beats every other split " +
      "(brute-force rescore of one type)") {
    val rows = Stats.timeseriesChangepoint(spark, sfOracle).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("sse_reduction") >= 0))
    val t = rows.head.getAs[String]("event_type")
    val xs = Tables.events(spark, sfOracle)
      .filter(col("event_type") === t)
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      .orderBy("d").collect().map(_.getLong(1).toDouble)
    val n = xs.length
    def sse(a: Array[Double]) =
      a.map(v => v * v).sum - math.pow(a.sum, 2) / a.length
    val best = (1 until n)
      .map(k => sse(xs) - sse(xs.take(k)) - sse(xs.drop(k))).max
    assert(math.abs(rows.head.getAs[Double]("sse_reduction") - best) < 1e-4)
  }

  test("pareto abc: classes partition parts and recover total revenue") {
    val rows = Windows.winParetoAbc(spark, sfSmoke).collect()
    assert(rows.map(_.getAs[String]("abc_class")).toSet.subsetOf(Set("A", "B", "C")))
    val nParts = Tables.lineitem(spark, sfSmoke)
      .select("l_partkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_parts")).sum == nParts)
    val shares = rows.map(_.getAs[Double]("cum_share_end"))
    assert(shares.max > 0.999 && shares.max <= 1.000001,
      "the last class must close the distribution")
  }

  test("dp noise: draw respects the Laplace scale bound and the release " +
      "adds exactly the reported noise") {
    val rows = Pipeline.pipelineDpNoise(spark, sfSmoke).collect()
    rows.foreach { r =>
      val noise = r.getAs[Double]("noise")
      // |noise| <= b·ln(100000) for the coarsest grid draw
      assert(math.abs(noise) <= 2.0 * math.log(100000.0))
      assert(math.abs(r.getAs[Double]("noisy_count") -
        (r.getAs[Long]("true_count") + noise)) < 1e-4)
    }
  }

  test("mojibake: populations bounded by length, flags consistent, " +
      "planted CJK classified and mislabels flagged") {
    val rows = TextOps.textMojibakeDetect(spark, sfSmoke).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_ascii") + r.getAs[Long]("n_cjk") <=
        r.getAs[Long]("n_chars"))
      assert(r.getAs[Boolean]("is_suspect") ==
        (r.getAs[Long]("n_cjk") > 0 && r.getAs[String]("lang") != "zh"))
    }
    // the synthetic corpus is pure ASCII (even zh-labeled docs), so the
    // CJK path needs a planted corpus: a real zh doc (cjk, not suspect),
    // a CJK leak into an en doc (suspect), and a clean ascii doc
    import spark.implicits._
    val dir = Scratch.dir("graft-moji")
    Seq((1L, "hello world", "en", "web", 11L),
        (2L, "你好 世界", "zh", "web", 5L),
        (3L, "mixed 你好 text", "en", "web", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = TextOps.textMojibakeDetect(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(planted(1L).getAs[String]("charset_class") == "ascii")
    assert(!planted(1L).getAs[Boolean]("is_suspect"))
    assert(planted(2L).getAs[String]("charset_class") == "cjk")
    assert(planted(2L).getAs[Long]("n_cjk") == 4)
    assert(!planted(2L).getAs[Boolean]("is_suspect"))
    assert(planted(3L).getAs[Boolean]("is_suspect"))
  }
}
