package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The measurement mains' one kit: how they read Spark's stage and task
  * metrics (a `Ledger`) and how they time a key (`timed`). */
private[graft] object Probe {

  /** One completed stage, its metrics summed over its tasks; `ms` is
    * submission to completion, -1 when either time is missing. */
  final case class Stage(id: Int, name: String, tasks: Int, ms: Long,
                         shuffleWrite: Long, shuffleRead: Long,
                         spillMem: Long, spillDisk: Long, input: Long)

  /** Registers itself on `spark`, then holds the stages completed since
    * the last `reset`, in completion order, and the max task
    * `peakExecutionMemory` (from task ends: a stage's own value is a sum).
    * Registering, every read and every reset first drain the listener
    * bus, so a read never misses the job that just returned and no
    * earlier job's event arrives. */
  final class Ledger(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val done = new ConcurrentLinkedQueue[Stage]
    private val peak = new AtomicLong
    BusDrain(sc)
    sc.addSparkListener(this)
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val i = ev.stageInfo
      val ms = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(-1L)
      Option(i.taskMetrics).foreach(m => done.add(Stage(i.stageId, i.name,
        i.numTasks, ms, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled,
        m.diskBytesSpilled, m.inputMetrics.bytesRead)))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Option(te.taskMetrics)
      .foreach(m => peak.accumulateAndGet(m.peakExecutionMemory, math.max))
    def stages: Seq[Stage] = { BusDrain(sc); done.asScala.toSeq }
    def peakExecutionMemory: Long = { BusDrain(sc); peak.get }
    def reset(): Unit = { BusDrain(sc); done.clear(); peak.set(0) }
  }

  /** SPARK_GRAFT_PROBE_RUNS (default 2); 100× probe points set 1, where
    * one run is minutes long and JIT noise is seconds. */
  def runs(): Int =
    scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt).getOrElse(2).max(1)

  /** With more than one run, a warm run kept out of the min first (it
    * pays JIT, codegen and session-memo investments), then `runs()` timed
    * runs; `beforeLast` runs outside the timed span, just before the
    * last. Returns the warm run's seconds (the only run's when `runs()`
    * is 1), the fastest timed run's seconds and the last run's result. */
  def timed[A](f: => A, beforeLast: () => Unit = () => ()): (Double, Double, A) = {
    val n = runs()
    val warm = if (n > 1) Some(clock(f)._1) else None
    val laps = (1 to n).map { i => if (i == n) beforeLast(); clock(f) }
    (warm.getOrElse(laps.head._1), laps.map(_._1).min, laps.last._2)
  }

  /** One run of `f`: its wall seconds and its result. */
  def clock[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }
}
