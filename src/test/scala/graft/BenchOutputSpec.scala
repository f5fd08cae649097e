package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench stdout contract the driver's tail-parse depends on
  * (round-10 verdict asks #1a/#7). The driver captures only a ~2 KB
  * stdout tail and parses the LAST line as JSON, so:
  *
  *   1. the total line must stay well under the ~2 KB tail (<700 B,
  *      including the slowest-10 head) and valid JSON under the FULL
  *      current key map (if the board ever grows a key whose name or
  *      count breaks this, the bench metric is silently lost — this
  *      spec fails first);
  *   2. the detail line must be valid JSON with exactly one entry per
  *      key, sorted by cost DESCENDING (failed -1.0 keys last), so the
  *      truncated suffix the driver sees is always the cheap tail.
  *
  * Pure-function test — no Spark session, no query runs: Bench exposes
  * detailLine/totalLine exactly so this contract is testable without a
  * 3-minute bench pass.
  */
class BenchOutputSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** Synthetic timings over the REAL key set: varied magnitudes, one
    * failure, extremes first/last alphabetically — the shapes that
    * stress ordering and formatting. */
  private def syntheticResults: Seq[(String, Double)] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.zipWithIndex.map { case (n, i) =>
      val v = if (i == 7) -1.0 else 0.05 + (i % 97) * 0.137
      n -> v
    }
  }

  test("total line is <700 bytes and valid JSON under the full key map") {
    // worst-case load formatting (three digits + sign) must still fit
    val line = Bench.totalLine(syntheticResults, "/root/testdata/sf0.1",
      SparkEntry.queries.size, loadStart = 132.25, loadEnd = -1.0)
    assert(line.getBytes("UTF-8").length < 700,
      s"total line is ${line.length} B — driver tail-parse may truncate it")
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() === "total")
    assert(node.get("unit").asText() === "sec")
    assert(node.get("value").isNumber)
    assert(node.get("errors").asInt() === 1)
    // a full-board run reports n == boardSize and NO partial flag
    assert(node.get("n").asInt() === SparkEntry.queries.size)
    assert(node.get("boardSize").asInt() === SparkEntry.queries.size)
    assert(!node.has("partial"))
    // host-contention fields (r12 verdict ask #4): always present, so a
    // reader can adjudicate a noisy total from the artifact alone
    assert(math.abs(node.get("load1s").asDouble() - 132.25) < 1e-9)
    assert(math.abs(node.get("load1e").asDouble() - (-1.0)) < 1e-9)
    // hypervisor steal fraction (r15): the channel loadavg cannot see;
    // default -1 when not passed/unreadable
    assert(math.abs(node.get("steal").asDouble() - (-1.0)) < 1e-9)
    val withSteal = mapper.readTree(Bench.totalLine(syntheticResults, "sf",
      SparkEntry.queries.size, 0.5, 0.6, steal = 0.0171))
    assert(math.abs(withSteal.get("steal").asDouble() - 0.0171) < 1e-9)
  }

  test("a cpu count that is not a positive integer falls back to the cores") {
    val cores = Runtime.getRuntime.availableProcessors
    assert(GraftSession.cpus(Some(" 3 ")) == 3)
    for (bad <- Seq("0", "-2", "four", ""))
      assert(GraftSession.cpus(Some(bad)) == cores, bad)
    assert(GraftSession.cpus(None) == cores)
  }

  test("cpuTicks reads plausible steal/total tick counts on this host") {
    Bench.cpuTicks().foreach { case (steal, total) =>
      assert(steal >= 0L && total > 0L && steal <= total)
    }
  }

  test("total line carries the slowest-10 head, cost-descending, no failures") {
    // r13 verdict ask #1b: the driver's tail truncation drops the
    // EXPENSIVE head of the detail line, so the total line itself must
    // carry the top-10 — a contended total is then per-key attributable
    // from the parsed artifact alone.
    val rs = syntheticResults
    val node = mapper.readTree(Bench.totalLine(rs, "sf", rs.size))
    val slowest = node.get("slowest")
    assert(slowest != null && slowest.isObject, "slowest field missing")
    assert(slowest.size() === 10)
    val expected = rs.filter(_._2 >= 0).sortBy(-_._2).take(10)
    val it = slowest.fields()
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    while (it.hasNext) { val e = it.next(); got += e.getKey -> e.getValue.asDouble() }
    assert(got.map(_._1).toSeq === expected.map(_._1),
      "slowest keys are not the true top-10 in cost-descending order")
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 0.005 + 1e-9, s"slowest value $g drifted from $e")
    }
    // fewer keys than 10 → all of them; failed keys never appear
    val small = mapper.readTree(
      Bench.totalLine(Seq("a" -> 1.0, "b" -> -1.0, "c" -> 0.5), "sf", 3))
    assert(small.get("slowest").size() === 2)
    assert(!small.get("slowest").has("b"))
  }

  test("load1 reads a plausible value on this host") {
    // /proc/loadavg exists on the build/driver hosts; -1 only on
    // non-Linux. Either way the value must be a finite double.
    val v = Bench.load1()
    assert(!v.isNaN && !v.isInfinite)
    assert(v >= -1.0 && v < 10000.0)
  }

  test("total line sums only non-negative timings") {
    val rs = Seq("a" -> 1.5, "b" -> -1.0, "c" -> 2.5)
    val node = mapper.readTree(Bench.totalLine(rs, "sf", 3))
    assert(math.abs(node.get("value").asDouble() - 4.0) < 1e-12)
    assert(node.get("errors").asInt() === 1)
  }

  test("a filtered (subset) run is flagged partial in the parsed line itself") {
    // GRAFT_BENCH_ONLY (or any future subsetting bug) must be visible to
    // the driver's tail-parse, which sees ONLY stdout's last line — the
    // stderr banner does not reach it.
    val subset = syntheticResults.take(5)
    val node = mapper.readTree(
      Bench.totalLine(subset, "sf", SparkEntry.queries.size))
    assert(node.get("n").asInt() === 5)
    assert(node.get("boardSize").asInt() === SparkEntry.queries.size)
    assert(node.get("partial").asBoolean(), "subset run must carry partial:true")
  }

  test("detail line is valid JSON, one entry per key, sorted cost-descending") {
    val line = Bench.detailLine(syntheticResults, "/root/testdata/sf0.1")
    val node = mapper.readTree(line)
    val qs = node.get("queries")
    assert(qs.size() === SparkEntry.queries.size)
    // verify descending order with failures (-1.0) at the very end
    val it = qs.fields()
    val vals = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (it.hasNext) vals += it.next().getValue.asDouble()
    val (good, bad) = vals.toSeq.span(_ >= 0)
    assert(bad.forall(_ < 0), "a non-failed key sorted after a failed one")
    assert(good === good.sortBy(-_), "detail entries not cost-descending")
  }
}
