package graft

import java.util.Locale.ROOT
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.operators.{Dedup, Similarity}

/** A/B crossover probe: times BOTH sides of one of the engine's cost
  * dispatches on each corpus dir, checks that the two sides return the
  * same row count, and reports which side is faster. Where the engine
  * picks a side at runtime, the line also says which side its picker
  * chose and whether that was the faster one — a wrong threshold at
  * 100 TB would silently pick the quadratic side, and this probe is how
  * the thresholds were validated on organic (ScaleGen) corpora instead
  * of an exponent extrapolation.
  *
  * Checks:
  *  - `containment`: dedupContainment's grid vs prefix join, with the
  *    block-row picker (`estMB` is the optimizer's size estimate of
  *    the input).
  *  - `embed`: dedupEmbedCosine's plain vs quantized grid, with the
  *    block-row picker. The quantized prescreen is proven lossless;
  *    `rowsEqual` is the empirical check of that proof at scale.
  *  - `cc`: graph_connected_components with the edge checkpoint
  *    finalized lazily vs eagerly. `overCap` says whether the corpus is
  *    past the driver-side edge cap, i.e. on the iterative path.
  *
  * Protocol per (dir, side): SPARK_GRAFT_PROBE_RUNS timed runs
  * (`ScaleProbe.timedRuns`, default 2), min reported; with more than
  * one run an untimed warm run comes first. Over-cap or 100× corpora
  * set it to 1: a single run is then minutes long and JIT noise is
  * seconds.
  *
  * Usage: runMain graft.CrossoverProbe <containment|embed|cc> <sfDir> [<sfDir2> ...]
  * Output: one JSON line per dir (stdout).
  */
object CrossoverProbe {

  /** Both sides of one dispatch over one corpus: the side names, their
    * row-count thunks, the engine's pick (evaluated after timing) and
    * corpus facts reported beside the timings. */
  private final case class AB(a: String, runA: () => Long,
                              b: String, runB: () => Long,
                              picked: () => Option[String],
                              facts: Seq[(String, Any)] = Nil)

  private val checks: Map[String, (SparkSession, String) => AB] = Map(
    "containment" -> { (s, dir) =>
      val docs = Dedup.jaccardDocs(s, dir)
      AB("grid", () => Dedup.containmentGridJoin(docs).count(),
         "prefix", () => Dedup.containmentPrefixJoin(docs).count(),
         () => Some(if (Dedup.containmentPicksGrid(docs)) "grid" else "prefix"),
         Seq("estMB" -> docs.queryExecution.optimizedPlan.stats.sizeInBytes / (1 << 20)))
    },
    "embed" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      AB("plain", () => Similarity.dedupEmbedCosinePlain(s, e).count(),
         "quantized", () => Similarity.dedupEmbedCosineQuantized(s, e).count(),
         () => Some(if (Similarity.embedPicksPlainGrid(e)) "plain" else "quantized"))
    },
    "cc" -> { (s, dir) =>
      val edges = Dedup.dedupNgramJaccard(s, dir)
        .select(col("id1").as("a"), col("id2").as("b"))
      val nodes = Tables.documents(s, dir).select(col("doc_id").as("id"))
      val nEdges = edges.count()
      def cc(eager: Boolean): () => Long = () =>
        Dedup.connectedComponents(nodes, edges, maxIters = -1, eagerEdges = eager)
          .count()
      AB("lazy", cc(eager = false), "eager", cc(eager = true), () => None,
         Seq("edges" -> nEdges, "overCap" -> (nEdges > Dedup.CcLocalMaxEdges)))
    })

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && checks.contains(args(0)),
      s"usage: CrossoverProbe <${checks.keys.toSeq.sorted.mkString("|")}> <sfDir>...")
    val check = checks(args(0))
    val spark = GraftSession.local(GraftSession.cpus())
    try spark.range(1000000L).selectExpr("sum(id)").collect()
    catch { case _: Throwable => () }
    val runs = ScaleProbe.timedRuns()
    def minOf(f: () => Long): (Double, Long) = {
      var rows = if (runs > 1) f() else 0L // warm
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime(); rows = f()
        (System.nanoTime() - t0) / 1e9
      }
      (times.min, rows)
    }
    def t(name: String): String = "t" + name.capitalize
    for (dir <- args.tail) {
      val ab = check(spark, dir)
      val (tA, nA) = minOf(ab.runA)
      val (tB, nB) = minOf(ab.runB)
      val faster = if (tA <= tB) ab.a else ab.b
      val verdict = ab.picked().map(p =>
        Seq("picked" -> s"\"$p\"", "agree" -> (p == faster))).getOrElse(Nil)
      val fields = Seq("check" -> s"\"${args(0)}\"", "dir" -> s"\"$dir\"") ++
        ab.facts ++
        Seq(t(ab.a) -> "%.2f".formatLocal(ROOT, tA),
            t(ab.b) -> "%.2f".formatLocal(ROOT, tB),
            "rows" -> nA, "rowsEqual" -> (nA == nB),
            "faster" -> s"\"$faster\"") ++ verdict
      println(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      System.out.flush()
    }
    try spark.stop() catch { case _: Throwable => () }
  }
}
