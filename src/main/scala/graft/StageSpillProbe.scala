package graft

/** Per-stage spill/shuffle forensics for ONE query key on ONE corpus —
  * the drill-down behind ScaleProbe's per-key aggregates: when a key's
  * total spill is flagged, this names the stage (by its callsite line)
  * that produced it, so the fix targets the right operator instead of a
  * guess. The session is warmed first (`GraftSession.warmUp`), so stage
  * `ms` do not absorb JIT warm-up; the rows come from a `Probe.Ledger`.
  *
  * Usage: runMain graft.StageSpillProbe <sfDir> <queryKey>
  * Output: one JSON line per completed stage with nonzero spill,
  * >64 MB shuffle write or >500 ms wall, then a total line.
  */
object StageSpillProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val (dir, key) = (args(0), args(1))
    SparkEntry.requireKeys(Seq(key), "StageSpillProbe")
    val spark = GraftSession.local(GraftSession.cpus())
    GraftSession.warmUp(spark, dir)
    val ledger = new Probe.Ledger(spark)
    val (sec, n) = Probe.clock(SparkEntry.queries(key)(spark, dir).count())
    // wall-time threshold too: a SLOW stage with no spill and a small
    // shuffle (a wide aggregate, an interpreted expression) is exactly
    // what per-key attribution needs to see
    ledger.stages
      .filter(s => s.spillMem + s.spillDisk > 0 || s.shuffleWrite > (64L << 20) || s.ms > 500)
      .foreach { s =>
        // stage names are callsite-derived and may carry backslashes
        // (Windows-style paths) or control chars
        println(s"""{"stage":${s.id},"name":${Verify.jsonString(s.name.take(120))},""" +
          s""""tasks":${s.tasks},"ms":${s.ms},"sw":${s.shuffleWrite},""" +
          s""""spillMem":${s.spillMem},"spillDisk":${s.spillDisk},""" +
          s""""input":${s.input},"sr":${s.shuffleRead}}""")
      }
    println(f"""{"key":${Verify.jsonString(key)},"dir":${Verify.jsonString(dir)},""" +
      f""""rows":$n,"sec":$sec%.1f}""")
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
  }
}
