package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Scaling-exponent probe (r11 verdict ask #1, extended r13 with MEMORY
  * measurement per the r12 verdict's top ask): times a curated key set
  * at two corpus sizes on the SAME session config and reports each
  * key's growth exponent alpha = ln(tB/tA) / ln(ratio) — t ∝ n^alpha —
  * plus per-key BYTE metrics (total shuffle write, spill, peak per-task
  * execution memory) and their exponents. At 100 TB the first thing to
  * die is an executor OOM or a spill storm, and a key can be
  * time-sublinear while its memory grows superlinearly (a broadcast
  * that tracks corpus size, a fat collect_list cell) — the byte
  * exponents catch what the time exponents cannot.
  *
  * Protocol per (dir, key): one untimed WARM run first (pays the JIT /
  * codegen / session-memo investment — codebooks, staged layouts,
  * UserFrames — so the timed runs measure the steady-state query, the
  * thing that must scale), then min-of-N timed runs (`timedRuns`).
  * The warm (first) run's time is also reported: for memoized keys it
  * shows how the INVESTMENT grows, which matters independently (an
  * n^1.5 codebook training is fine; an n^2 one is not). Byte metrics
  * come from the LAST timed run only (counters reset right before it),
  * so they are steady-state too.
  *
  * Reading the exponents: keys have a fixed ~0.1-0.2 s scheduling floor
  * that data growth does not touch, so CHEAP keys (tA under ~0.3 s)
  * read LOW — the floor dominates both sides. The flag threshold 1.3
  * therefore under-counts on cheap keys rather than false-alarming.
  * An alpha near 1 is linear scaling; graph kernels with a fixed round
  * count read ~1; banded/bucketed pair spaces read ~1 when bucket depth
  * is held; a missed bound (all-pairs, data-sized window, unbounded
  * fan-out) reads ~2 and is exactly what this probe exists to catch.
  *
  * Reading the BYTE exponents under local[32] with a FIXED partition
  * count: total shuffle-write bytes should track the data (betaSw ≈ 1;
  * ≥ 1.3 on a ≥ 64 MiB shuffle = a pair-space or fan-out blowup — the
  * memory flag). Peak per-task execution memory ALSO reads ≈ 1 here
  * because 10× data lands in the same 32 partitions — on a real
  * cluster the task count would grow instead and per-task stay flat —
  * so betaPx ≈ 1 is healthy in this rig and only betaPx markedly above
  * 1, or spill appearing where there was none, signals a real per-task
  * structure growing with the corpus.
  *
  * Usage: runMain graft.ScaleProbe <dirA> <dirB> <ratio> [keysCsv]
  * Output: one JSON line per key + a summary line (stdout).
  */
object ScaleProbe {

  /** 45 keys: the bench-expensive tail plus one representative per
    * shuffle-heavy family (dedup banding, ANN, graph iteration, text
    * n-grams, rank stats, skew/bucket joins, corpus pipeline). */
  val DefaultKeys: Seq[String] = Seq(
    // graph (iterative kernels over the co-purchase graph)
    "graph_pagerank", "graph_hits", "graph_modularity", "graph_kcore",
    "graph_random_walk", "graph_connected_components", "graph_triangles",
    "graph_label_propagation",
    // dedup families (exact, banded near-dup, substring, embedding)
    "dedup_exact", "dedup_near_minhash", "dedup_minhash_cluster",
    "dedup_simhash", "dedup_ngram_jaccard", "dedup_substring_shingle",
    "dedup_cluster", "dedup_embed_cosine", "dedup_semantic",
    "dedup_incremental_bloom",
    // ANN / similarity
    "sim_ann_lsh", "sim_ann_ivf", "sim_ann_pq", "sim_cosine_topk",
    "sim_knn_join",
    // text (explode-heavy, TF-IDF, contamination, BPE)
    "text_ngram_novelty", "text_boilerplate_ngrams", "text_keywords_tfidf",
    "text_contamination", "tokenizer_merge_candidates", "text_word_zipf",
    "pipeline_pack_bpe",
    // rank / moment statistics at data grain
    "stats_spearman", "stats_kendall_tau", "stats_mann_whitney",
    "basket_affinity", "profile_corr_matrix",
    // joins & scale patterns
    "join_skew_salted", "join_bucketed", "join_asof_native",
    "q9_product_profit", "q21_waiting_supplier", "join_runtime_bloom",
    // windows / prefix machinery and the end-to-end composite
    "win_distinct_running", "event_peak_concurrency",
    "agg_heavy_hitters_sketch", "pipeline_corpus_build")

  /** Aggregates task-end metrics between resets. Listener events post
    * asynchronously on the bus; snapshot() is called after a short
    * drain pause (see the call site) — a probe tool tolerates the
    * millisecond-grain slop that a grader could not. */
  private final class MemListener extends SparkListener {
    val shuffleWrite = new AtomicLong
    val spill        = new AtomicLong // memory + disk spill bytes
    val peakExec     = new AtomicLong // max over tasks
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExec.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    }
    def reset(): Unit = { shuffleWrite.set(0); spill.set(0); peakExec.set(0) }
  }

  private case class Mem(sw: Long, spill: Long, px: Long)

  /** SPARK_GRAFT_PROBE_RUNS, the timed-run count this probe and
    * CrossoverProbe share (default 2): more than one run means one
    * untimed warm run plus min-of-runs. The knob is for DEEP probe
    * points (100×): when a single run is minutes long, warm + min-of-2
    * triples a probe that JIT/session constants (~3-5 s) cannot
    * meaningfully bias, and 1 collapses it to one timed run whose own
    * byte capture is used. */
  private[graft] def timedRuns(): Int =
    scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt)
      .getOrElse(2).max(1)

  def main(args: Array[String]): Unit = {
    // the per-key lines below use f"%.3f": on a decimal-comma default
    // locale they would emit invalid JSON — pin the process locale
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val (dirA, dirB, ratio) = (args(0), args(1), args(2).toDouble)
    val keys: Seq[String] =
      if (args.length > 3 && args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else DefaultKeys
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cpus())
    val mem = new MemListener
    spark.sparkContext.addSparkListener(mem)

    // session bring-up is not a scaling signal
    GraftSession.warmUp(spark, dirA, dirB)

    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }

    // dir-major order: all keys at A, then all at B — session memos are
    // keyed by sf dir, so each dir pays its own investments exactly once.
    // A key that throws at either size reports an err line and drops out
    // of the exponent summary instead of killing the whole probe (full-
    // board runs hit a handful of keys whose staging assumes the
    // driver's exact corpus layout).
    val runs = timedRuns()
    val results = (for (key <- keys) yield {
      val fn = SparkEntry.queries(key)
      def probe(dir: String): (Double, Double, Mem) = {
        val warm = if (runs > 1) Some(time(fn, dir)) else None
        val times = (1 to runs).map { i =>
          // steady-state byte capture: reset right before the last timed
          // run, then give the async listener bus a moment to drain
          if (i == runs) { Thread.sleep(200); mem.reset() }
          time(fn, dir)
        }
        Thread.sleep(200)
        (warm.getOrElse(times.head), times.min,
         Mem(mem.shuffleWrite.get, mem.spill.get, mem.peakExec.get))
      }
      try {
        val (warmA, tA, mA) = probe(dirA)
        val (warmB, tB, mB) = probe(dirB)
        val alpha = math.log(tB / tA) / math.log(ratio)
        val warmAlpha = math.log(warmB / warmA) / math.log(ratio)
        // byte exponents only when both sides are visible (≥ 1 MiB at A:
        // below that the measurement is scheduling lint, not data)
        def beta(a: Long, b: Long): String =
          if (a >= (1L << 20) && b > 0) f"${math.log(b.toDouble / a) / math.log(ratio)}%.2f"
          else "null"
        println(f"""{"key":"$key","tA":$tA%.3f,"tB":$tB%.3f,"alpha":$alpha%.2f,""" +
          f""""warmA":$warmA%.3f,"warmB":$warmB%.3f,"warmAlpha":$warmAlpha%.2f,""" +
          s""""swA":${mA.sw},"swB":${mB.sw},"betaSw":${beta(mA.sw, mB.sw)},""" +
          s""""spillA":${mA.spill},"spillB":${mB.spill},""" +
          s""""pxA":${mA.px},"pxB":${mB.px},"betaPx":${beta(mA.px, mB.px)}}""")
        System.out.flush()
        Some((key, tA, tB, alpha, mA, mB))
      } catch {
        case e: Throwable =>
          val msg = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1)
              .mkString).take(160)
          println(s"""{"key":"$key","err":${Verify.jsonString(msg)}}""")
          System.out.flush()
          None
      }
    }).flatten
    try spark.stop() catch { case _: Throwable => () }
    val flagged = results.filter { case (_, tA, _, a, _, _) => a >= 1.3 && tA >= 0.2 }
    // memory flags: superlinear shuffle on a non-trivial shuffle, or
    // spill born at scale B where A had none (a partition structure that
    // stopped fitting — benign at fixed partition count, but every such
    // key deserves an eyeball)
    val memFlagged = results.filter { case (_, _, _, _, mA, mB) =>
      val betaSw = if (mA.sw > 0) math.log(mB.sw.toDouble / mA.sw) / math.log(ratio) else 0.0
      (mA.sw >= (64L << 20) && betaSw >= 1.3) || (mA.spill == 0 && mB.spill > (256L << 20))
    }
    println(s"""{"metric":"scale_probe","keys":${results.size},""" +
      s""""errors":${keys.size - results.size},""" +
      s""""ratio":$ratio,"flagged":[${flagged.map(f => "\"" + f._1 + "\"")
        .mkString(",")}],""" +
      s""""memFlagged":[${memFlagged.map(f => "\"" + f._1 + "\"").mkString(",")}]}""")
  }
}
