package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage spill/shuffle forensics for ONE query key on ONE corpus —
  * the drill-down behind ScaleProbe's per-key aggregates: when a key's
  * total spill is flagged, this names the stage (by its callsite line)
  * that produced it, so the fix targets the right operator instead of a
  * guess.
  *
  * Usage: runMain graft.StageSpillProbe <sfDir> <queryKey>
  * Output: one JSON line per completed stage with nonzero spill or
  * >64 MB shuffle write, then a total line.
  */
object StageSpillProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val (dir, key) = (args(0), args(1))
    val spark = GraftSession.local(GraftSession.cpus())
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          val sw = m.shuffleWriteMetrics.bytesWritten
          val spillM = m.memoryBytesSpilled
          val spillD = m.diskBytesSpilled
          val ms = (for {
            s0 <- ev.stageInfo.submissionTime
            c0 <- ev.stageInfo.completionTime
          } yield c0 - s0).getOrElse(-1L)
          // wall-time threshold too: a SLOW stage with no spill and a
          // small shuffle (a wide aggregate, an interpreted expression)
          // is exactly what per-key attribution needs to see
          if (spillM + spillD > 0 || sw > (64L << 20) || ms > 500) {
            // stage names are callsite-derived and may carry
            // backslashes (Windows-style paths) or control chars
            val name = Verify.jsonString(ev.stageInfo.name.take(120))
            rows.add(s"""{"stage":${ev.stageInfo.stageId},"name":$name,""" +
              s""""tasks":${ev.stageInfo.numTasks},"ms":$ms,"sw":$sw,""" +
              s""""spillMem":$spillM,"spillDisk":$spillD,""" +
              s""""input":${m.inputMetrics.bytesRead},""" +
              s""""sr":${m.shuffleReadMetrics.totalBytesRead}}""")
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(key)(spark, dir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // drain the listener bus
    rows.forEach(println)
    println(f"""{"key":${Verify.jsonString(key)},"dir":${Verify.jsonString(dir)},""" +
      f""""rows":$n,"sec":$sec%.1f}""")
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
  }
}
