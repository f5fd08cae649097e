package graft

import org.apache.spark.sql.functions._

/** Contracts for the native t-digest sketch (functions/TDigestQuantiles)
  * and the two round-9 sequential-fold keys that landed with it.
  *
  * The digest is oracle-N by design — centroid layout depends on merge
  * order, as with every parallel sketch — so this spec asserts the
  * DISTRIBUTION-FREE guarantees that hold under ANY partitioning:
  * bounded rank error at each probed quantile, monotone estimates,
  * exact n conservation, and a centroid count within the ≤ ~2δ budget.
  * Both a default-partitioned and a forced-repartition(7) run must
  * satisfy the same bounds (their centroid layouts legitimately differ).
  */
class TDigestSpec extends SparkSpecBase {

  // exact per-type sorted values, the ground truth for rank checks
  private def exactByType(sf: String): Map[String, Array[Double]] =
    Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("value").cast("double"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getDouble(1)).sorted }

  /** Fraction of values strictly below + half the ties — the midrank of
    * the estimate, robust to the estimate landing on a data point. */
  private def rankOf(sorted: Array[Double], est: Double): Double = {
    val below = sorted.count(_ < est)
    val ties = sorted.count(_ == est)
    (below + ties / 2.0) / sorted.length
  }

  private def checkDigest(rows: Array[org.apache.spark.sql.Row],
                          exact: Map[String, Array[Double]]): Unit = {
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val sortedVals = exact(t)
      val byQ = rs.map(r => r.getDouble(1) ->
        (r.getDouble(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
      // n conservation: every probe row reports the exact group count
      byQ.foreach { case (_, (_, n, _)) =>
        assert(n == sortedVals.length, s"$t: n=$n != ${sortedVals.length}")
      }
      // centroid budget: ≤ 2δ (+1 slack for the final partial cluster)
      byQ.foreach { case (_, (_, _, nc)) =>
        assert(nc <= 2 * 200 + 1, s"$t: $nc centroids busts the 2δ budget")
      }
      // monotone estimates across the probes
      val ests = byQ.map(_._2._1)
      assert(ests.zip(ests.tail).forall { case (a, b) => a <= b },
        s"$t: non-monotone quantile estimates ${ests.mkString(",")}")
      // rank error: well within the k1 bound at δ=200 (mid-q error
      // ~O(1/δ); 0.03 absolute leaves room for interpolation grain at
      // the sf0.001 group sizes)
      byQ.foreach { case (q, (est, _, _)) =>
        val r = rankOf(sortedVals, est)
        assert(math.abs(r - q) <= 0.03,
          s"$t q=$q: estimate $est has rank $r (err ${math.abs(r - q)})")
      }
      // the tails exist: estimates stay inside the observed range
      byQ.foreach { case (_, (est, _, _)) =>
        assert(est >= sortedVals.head && est <= sortedVals.last)
      }
    }
  }

  test("tdigest: rank error bounded, monotone, n conserved (default partitioning)") {
    checkDigest(operators.AdvancedAggs.aggTdigest(spark, sfSmoke).collect(),
      exactByType(sfSmoke))
  }

  test("tdigest: same bounds hold under a forced 7-way repartition") {
    graft.functions.GraftExtensions.register(spark)
    val rows = Tables.events(spark, sfSmoke)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .repartition(7)
      .groupBy(col("event_type"))
      .agg(expr("graft_tdigest(value, 200)").as("td"))
      .select(col("event_type"), explode(col("td")).as("e"))
      .select(col("event_type"), col("e.quantile"),
        round(col("e.estimate"), 4), col("e.n"), col("e.n_centroids"))
      .collect()
    checkDigest(rows, exactByType(sfSmoke))
  }

  test("tdigest: sf0.01 scale — p99 rank error tighter than mid-q bound") {
    val exact = exactByType(sfOracle)
    val rows = operators.AdvancedAggs.aggTdigest(spark, sfOracle).collect()
    checkDigest(rows, exact)
    // the k1 scale function exists for the tails: at ~20k values per
    // type the p99 rank error must be well inside the blanket bound
    rows.filter(_.getDouble(1) == 0.99).foreach { r =>
      val rk = rankOf(exact(r.getString(0)), r.getDouble(2))
      assert(math.abs(rk - 0.99) <= 0.01,
        s"${r.getString(0)} p99 rank err ${math.abs(rk - 0.99)}")
    }
  }

  test("ewm_var: variance non-negative, seeds exact, mean tracks data range") {
    val rows = operators.Stats.timeseriesEwmVar(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val first = rs.minBy(_.getDate(1).getTime)
      assert(first.getDouble(3) == first.getDouble(2), s"$t: m0 != x0")
      assert(first.getDouble(4) == 0.0, s"$t: v0 != 0")
      rs.foreach(r => assert(r.getDouble(4) >= 0.0, s"$t: negative EW variance"))
      val (lo, hi) = (rs.map(_.getDouble(2)).min, rs.map(_.getDouble(2)).max)
      rs.foreach(r => assert(r.getDouble(3) >= lo && r.getDouble(3) <= hi,
        s"$t: EW mean ${r.getDouble(3)} escapes the data range [$lo,$hi]"))
    }
  }

  test("markov stationary: pi is a near-distribution over the type space") {
    val rows = operators.Stats.eventMarkovStationary(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getLong(1) > 0L)
    }
    // mass is conserved up to the types that only ever absorb (never
    // emit) transitions — on this corpus every type does both, so the
    // 3-step pi sums to 1 within rounding
    val s = rows.map(_.getDouble(2)).sum
    assert(math.abs(s - 1.0) <= 1e-4, s"pi sums to $s")
  }
}
