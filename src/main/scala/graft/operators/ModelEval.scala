package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Model-evaluation surfaces past ROC/confusion (Stats.scala): the
  * precision-recall curve, probability calibration, and the power
  * analysis every experiment is sized by. A training-data pipeline
  * grades its quality classifiers and release experiments with exactly
  * these readouts, at corpus scale — so each is built on bounded-grain
  * aggregation (fixed threshold grids, integer-exact moment sums),
  * never a global sort over raw rows.
  */
object ModelEval {

  /** Precision–recall curve + average precision over a 256-threshold
    * grid: label = "event is a purchase", score = event value. Each
    * nonempty grid bin emits cumulative TP / N (score ≥ threshold),
    * precision, recall, and the running AP partial; `average_precision`
    * (the Σ ΔR·P step-interpolated area — the PR twin of the Mann-
    * Whitney ROC identity) repeats on every row.
    *
    * Determinism: bin populations are integers; precision/recall are
    * single double divisions of exact counts; the AP partials
    * accumulate in the DEFINED bin-descending window order (identical
    * sequential ROUNDS on both engines), and the final AP is max() of
    * a nondecreasing running sum — order-free.
    *
    * Scale shape: ONE map-side-combinable aggregate collapses any
    * corpus to ≤ 256 bin rows (min/max broadcast in-plan, the q2
    * scalar pattern); every window after that runs on the bounded bin
    * frame. The exact-threshold-per-distinct-score curve would need
    * the bucketed-prefix machinery; the fixed grid IS the production
    * readout (nobody plots 10⁸ thresholds).
    */
  def statsPrAuc(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.events(s, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("value").as("sc"),
              (col("event_type") === "purchase").as("y"))
    val bounds = base.agg(min(col("sc")).as("lo"), max(col("sc")).as("hi"))
    val binned = base.crossJoin(broadcast(bounds))
      .select(least(floor((col("sc") - col("lo")) /
          ((col("hi") - col("lo")) / lit(256.0))), lit(255.0))
          .cast("bigint").as("bin"),
        col("y"))
      .groupBy(col("bin"))
      .agg(sum(col("y").cast("long")).as("np"),
           sum((!col("y")).cast("long")).as("nn"))
    val wDesc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
    val curve = binned
      .withColumn("cum_tp", sum(col("np")).over(wDesc))
      .withColumn("cum_n", sum(col("np") + col("nn")).over(wDesc))
      .withColumn("n_pos", sum(col("np")).over(wAll))
      .select(col("bin"), col("np").cast("bigint").as("n_pos_bin"),
        (col("np") + col("nn")).cast("bigint").as("n_bin"),
        col("cum_tp").cast("bigint").as("cum_tp"),
        col("cum_n").cast("bigint").as("cum_n"),
        (col("np").cast("double") / col("n_pos") *
          (col("cum_tp").cast("double") / col("cum_n"))).as("ap_term"),
        round(col("cum_tp").cast("double") / col("cum_n"), 6)
          .as("precision"),
        round(col("cum_tp").cast("double") / col("n_pos"), 6).as("recall"))
    curve
      .withColumn("cum_ap", sum(col("ap_term")).over(wDesc))
      .withColumn("average_precision", round(max(col("cum_ap")).over(wAll), 6))
      .drop("ap_term", "cum_ap")
      .orderBy(col("bin").asc)
  }

  /** Probability calibration + Brier score for a deterministic pseudo-
    * model: p̂ = ((event_id · 2654435761) mod 1000)/1000 (the Knuth
    * multiplicative hash — a seeded stand-in for a real model's score,
    * replayable on any engine), scored against "event is a purchase".
    * One row per p̂ decile: volume, mean predicted probability,
    * observed rate, per-bucket Brier, plus the global Brier and ECE
    * (expected calibration error, volume-weighted |pred − obs|).
    *
    * Determinism: EVERYTHING integer until the final divisions —
    * p̂ lives as milli-units, (p̂−y)² as micro-units, so every sum is
    * an exact BIGINT in any accumulation order; each emitted ratio is
    * one double division of exact integers.
    *
    * Scale shape: ONE map-side-combinable aggregate to 10 bucket rows;
    * the global roll-ups are windows over the 10-row frame.
    */
  def statsBrierCalibration(s: SparkSession, sf: String): DataFrame = {
    val base = Tables.events(s, sf)
      .filter(col("event_type").isNotNull)
      // event_id is reduced mod 10^6 BEFORE the Knuth multiply: the raw
      // product wraps 64-bit past event_id ≈ 3.47e9 (silently on Spark,
      // an overflow error on DuckDB). 10^6 ≡ 0 (mod 1000), so the
      // reduced hash is value-identical where the raw one is defined,
      // and the product stays < 2^52 at ANY scale factor.
      .select(pmod(pmod(col("event_id"), lit(1000000L)) * lit(2654435761L),
                lit(1000L)).as("pm"),
              (col("event_type") === "purchase").cast("long").as("y"))
    val wAll = Window.partitionBy(lit(1))
    base
      .groupBy((col("pm") / 100).cast("bigint").as("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_events"),
           sum(col("pm")).as("sum_pm"),
           sum(col("y")).cast("bigint").as("n_pos"),
           sum((col("pm") - lit(1000L) * col("y")) *
               (col("pm") - lit(1000L) * col("y"))).as("sum_sq_micro"))
      .select(col("bucket"), col("n_events"), col("n_pos"),
        round(col("sum_pm").cast("double") / (col("n_events") * 1000.0), 6)
          .as("avg_pred"),
        round(col("n_pos").cast("double") / col("n_events"), 6)
          .as("obs_rate"),
        round(col("sum_sq_micro").cast("double") /
          (col("n_events") * 1000000.0), 6).as("brier_bucket"),
        col("sum_pm"), col("sum_sq_micro"))
      .withColumn("global_brier",
        round(sum(col("sum_sq_micro")).over(wAll).cast("double") /
          (sum(col("n_events")).over(wAll) * 1000000.0), 6))
      .withColumn("ece",
        round(sum(abs(col("sum_pm") - lit(1000L) * col("n_pos"))).over(wAll)
          .cast("double") / (lit(1000.0) * sum(col("n_events")).over(wAll)), 6))
      .drop("sum_pm", "sum_sq_micro")
      .orderBy("bucket")
  }

  /** Two-proportion power analysis on the standing A/B split (the same
    * deterministic md5 arm assignment every experiment key uses):
    * observed conversion rates, their gap, and the per-arm sample size
    * required to detect that gap at α = 0.05 two-sided with 80% power —
    * n = (z₀.₉₇₅ + z₀.₈)²·(p₁(1−p₁) + p₂(1−p₂))/(p₁−p₂)², the formula
    * every "how long must this test run" decision uses. Closed form
    * over four integer counts; the z constants are fixed literals.
    *
    * Scale shape: ONE four-count map-side-combinable aggregate.
    */
  def statsPowerTwoprop(s: SparkSession, sf: String): DataFrame = {
    val zSum2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
    Tables.events(s, sf)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(Stats.arm.as("a"),
        (col("event_type") === "purchase").as("conv"))
      .agg(
        sum(col("a").cast("long")).cast("bigint").as("n_a"),
        sum((!col("a")).cast("long")).cast("bigint").as("n_b"),
        sum((col("a") && col("conv")).cast("long")).cast("bigint").as("x_a"),
        sum((!col("a") && col("conv")).cast("long")).cast("bigint").as("x_b"))
      .select(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
        (col("x_a").cast("double") / col("n_a")).as("p1"),
        (col("x_b").cast("double") / col("n_b")).as("p2"))
      .select(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
        round(col("p1"), 6).as("rate_a"),
        round(col("p2"), 6).as("rate_b"),
        round(abs(col("p1") - col("p2")), 6).as("abs_effect"),
        ceil(lit(zSum2) *
          (col("p1") * (lit(1.0) - col("p1")) +
           col("p2") * (lit(1.0) - col("p2"))) /
          ((col("p1") - col("p2")) * (col("p1") - col("p2"))))
          .cast("bigint").as("n_required_per_arm"))
  }

  /** Decile lift / cumulative-gains table — the campaign-targeting
    * readout over the value-scores-purchases classifier the ROC/PR
    * keys evaluate: rows ranked into score deciles by exact round-6
    * percentile cutpoints (decile 1 = highest scores), each reporting
    * its positive rate, the CUMULATIVE capture of all positives down
    * to that depth, and lift = cumulative rate over the base rate.
    * "Mailing the top 2 deciles captures X% of buyers at Y× random"
    * is this table.
    *
    * Determinism: cutpoints are round-6 interpolated percentiles of
    * round-4 scores (ties land the same side on both engines); counts
    * are exact integers; the 10-row cumulative is a window over the
    * bounded decile frame.
    *
    * Scale shape: one scan → percentile aggregate broadcast back, one
    * (decile) count aggregate, windows over ≤10 rows. */
  def modelLiftDeciles(s: SparkSession, sf: String): DataFrame = {
    val v = Tables.events(s, sf)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(round(col("value"), 4).as("sc"),
        (col("event_type") === "purchase").cast("long").as("y"))
    val qs = (1 to 9).map(_ / 10.0)
    val cutCols = qs.zipWithIndex.map { case (q, i) =>
      round(expr(s"percentile(sc, $q)"), 6).as(s"q${i + 1}")
    }
    val cuts = broadcast(v.agg(cutCols.head, cutCols.tail: _*))
    val byDecile = v.crossJoin(cuts)
      .withColumn("decile", lit(10L) - qs.indices
        .map(i => (col("sc") > col(s"q${i + 1}")).cast("long"))
        .reduce(_ + _))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    byDecile
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .withColumn("tot_n", sum(col("n")).over(wAll))
      .withColumn("tot_pos", sum(col("pos")).over(wAll))
      .select(col("decile").cast("bigint").as("decile"),
        col("n").cast("bigint").as("n_rows"),
        col("pos").cast("bigint").as("n_positives"),
        round(col("pos").cast("double") / col("n").cast("double"), 6)
          .as("decile_rate"),
        round(col("cum_pos").cast("double") /
          nullif(col("tot_pos").cast("double"), lit(0.0d)), 6)
          .as("cum_capture"),
        round((col("cum_pos").cast("double") / col("cum_n").cast("double")) /
          nullif(col("tot_pos").cast("double") / col("tot_n").cast("double"),
            lit(0.0d)), 6).as("cum_lift"))
      .orderBy("decile")
  }
}
