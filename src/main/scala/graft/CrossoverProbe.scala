package graft

import java.util.Locale.ROOT
import org.apache.spark.sql.SparkSession
import graft.operators.{Dedup, Similarity}

/** A/B crossover probe: times BOTH sides of one of the engine's cost
  * dispatches on each corpus dir, checks that the two sides return the
  * same row count, and reports which side is faster, which side the
  * engine's runtime picker chose and whether that was the faster one —
  * a wrong threshold at 100 TB would silently pick the quadratic side,
  * and this probe is how the thresholds were validated on organic
  * (ScaleGen) corpora instead of an exponent extrapolation.
  *
  * Checks:
  *  - `containment`: dedupContainment's grid vs prefix join, with the
  *    block-row picker (`estMB` is the optimizer's size estimate of
  *    the input).
  *  - `embed`: dedupEmbedCosine's plain vs quantized grid, with the
  *    block-row picker. The quantized prescreen is proven lossless;
  *    `rowsEqual` is the empirical check of that proof at scale.
  *
  * Protocol per (dir, side): `Probe.timed`, ScaleProbe's rule — a warm
  * run, then the min of SPARK_GRAFT_PROBE_RUNS timed runs.
  *
  * Usage: runMain graft.CrossoverProbe <containment|embed> <sfDir> [<sfDir2> ...]
  * Output: one JSON line per dir (stdout).
  */
object CrossoverProbe {

  /** Both sides of one dispatch over one corpus: the side names, their
    * row-count thunks, the engine's pick (evaluated after timing) and
    * corpus facts reported beside the timings. */
  private final case class AB(a: String, runA: () => Long,
                              b: String, runB: () => Long,
                              picked: () => String,
                              facts: Seq[(String, Any)] = Nil)

  private val checks: Map[String, (SparkSession, String) => AB] = Map(
    "containment" -> { (s, dir) =>
      val docs = Dedup.jaccardDocs(s, dir)
      AB("grid", () => Dedup.containmentGridJoin(docs).count(),
         "prefix", () => Dedup.containmentPrefixJoin(docs).count(),
         () => if (Dedup.containmentPicksGrid(docs)) "grid" else "prefix",
         Seq("estMB" -> docs.queryExecution.optimizedPlan.stats.sizeInBytes / (1 << 20)))
    },
    "embed" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      AB("plain", () => Similarity.dedupEmbedCosinePlain(e).count(),
         "quantized", () => Similarity.dedupEmbedCosineQuantized(e).count(),
         () => if (Similarity.embedPicksPlainGrid(e)) "plain" else "quantized")
    })

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && checks.contains(args(0)),
      s"usage: CrossoverProbe <${checks.keys.toSeq.sorted.mkString("|")}> <sfDir>...")
    val check = checks(args(0))
    val spark = GraftSession.local(GraftSession.cpus())
    GraftSession.warmUp(spark, args.toIndexedSeq.tail: _*)
    def t(name: String): String = "t" + name.capitalize
    for (dir <- args.tail) {
      val ab = check(spark, dir)
      val (_, tA, nA) = Probe.timed(ab.runA())
      val (_, tB, nB) = Probe.timed(ab.runB())
      val faster = if (tA <= tB) ab.a else ab.b
      val picked = ab.picked()
      val fields = Seq("check" -> s"\"${args(0)}\"", "dir" -> Verify.jsonString(dir)) ++
        ab.facts ++
        Seq(t(ab.a) -> "%.2f".formatLocal(ROOT, tA),
            t(ab.b) -> "%.2f".formatLocal(ROOT, tB),
            "rows" -> nA, "rowsEqual" -> (nA == nB),
            "faster" -> s"\"$faster\"",
            "picked" -> s"\"$picked\"", "agree" -> (picked == faster))
      println(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      System.out.flush()
    }
    try spark.stop() catch { case _: Throwable => () }
  }
}
