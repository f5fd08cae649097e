package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records of one traced run, filled from the listener bus. */
object Tracer {
  final case class Job(id: Int, startMs: Long, query: String, stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class Stage(val id: Int, val attempt: Int) {
    var submitMs = -1L
    var completeMs = -1L
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
  }
  final case class Phase(name: String, startMs: Long, endMs: Long)
  final case class Batch(startMs: Long, triggerMs: Long, addBatchMs: Long,
                         stateRows: Long)
}

/** Records what Spark's public listeners report during the timed region:
  * jobs, stage attempts with their tasks' metrics summed, Catalyst phase
  * times from each execution's `QueryPlanningTracker`, AQE re-plans and
  * streaming progress. Registered after the bus has drained, so nothing
  * from the warm-up or priming pass leaks in. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  val sqlExecutions = new AtomicInteger
  val aqeReplans = new AtomicInteger
  val streamQueries = new AtomicInteger

  private def stage(id: Int, attempt: Int): Stage =
    stages.computeIfAbsent((id, attempt), _ => new Stage(id, attempt))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val q = Option(e.properties).map(_.getProperty(Harness.QueryIdProperty))
        .flatMap(Option(_)).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time, q, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber()).synchronized {
        stage(i.stageId, i.attemptNumber()).submitMs =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.synchronized {
        if (s.submitMs < 0) s.submitMs = i.submissionTime.getOrElse(-1L)
        s.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      s.synchronized {
        val m = s.m
        m("tasks") += 1
        if (info.failed || info.killed) m("task_failures") += 1
        m("busy_ms") += math.max(0L, info.finishTime - info.launchTime)
        if (s.submitMs > 0) m("wait_ms") += math.max(0L, info.launchTime - s.submitMs)
        val t = e.taskMetrics
        if (t != null) {
          m("run_ms") += t.executorRunTime
          m("cpu_ms") += t.executorCpuTime / 1e6
          m("gc_ms") += t.jvmGCTime
          m("deser_ms") += t.executorDeserializeTime
          m("shuffle_write_b") += t.shuffleWriteMetrics.bytesWritten
          m("shuffle_read_b") += t.shuffleReadMetrics.totalBytesRead
          m("fetch_wait_ms") += t.shuffleReadMetrics.fetchWaitTime
          m("spill_mem_b") += t.memoryBytesSpilled
          m("spill_disk_b") += t.diskBytesSpilled
          m("read_b") += t.inputMetrics.bytesRead
          m("read_rows") += t.inputMetrics.recordsRead
          m("write_b") += t.outputMetrics.bytesWritten
          m("write_rows") += t.outputMetrics.recordsWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet(); ()
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeReplans.incrementAndGet(); ()
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamQueries.incrementAndGet(); ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(Batch(start, ms("triggerExecution"), ms("addBatch"),
        p.stateOperators.map(_.numRowsUpdated).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  org.apache.spark.perfbench.BusDrain(spark.sparkContext)
  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def stop(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

/** A timed interval in the span tree; times are epoch microseconds. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startUs: Long, endUs: Long,
                      attrs: Seq[(String, String)] = Nil) {
  def json: String = Json.obj(Seq(
    "id" -> Json.num(id.toDouble), "parent" -> Json.num(parent.toDouble),
    "name" -> Json.str(name), "layer" -> Json.str(layer),
    "start_us" -> Json.num(startUs.toDouble),
    "end_us" -> Json.num(endUs.toDouble)) ++ attrs: _*)
}

object Spans {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span: its duration minus what its children cover. */
  def selfUs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      s.id -> ((s.endUs - s.startUs) - covered(c, s.startUs, s.endUs))
    }.toMap
  }
}

/** Turns the tracer's records and the timed invocations into the span
  * tree, self time per layer and the per-layer totals. */
final class Ledger(t: Tracer, invs: Vector[Harness.Inv], cpus: Int,
                   clock: Clock) {
  private val buf = mutable.ArrayBuffer[Span]()
  private def add(parent: Int, name: String, layer: String, s: Long, e: Long,
                  attrs: Seq[(String, String)] = Nil): Span = {
    val p = if (parent >= 0) Some(buf(parent)) else None
    val (cs, ce) = p.map(pp => (math.min(math.max(s, pp.startUs), pp.endUs),
                                math.max(math.min(e, pp.endUs), pp.startUs)))
      .getOrElse((s, e))
    val sp = Span(buf.size, parent, name, layer, cs, math.max(cs, ce), attrs)
    buf += sp
    sp
  }

  private val jobs = t.jobs.values.asScala.toVector.sortBy(_.startMs)
  private val stageList = t.stages.values.asScala.toVector
  private val phases = t.phases.asScala.toVector
  private val batches = t.batches.asScala.toVector

  /** (construct span, action span) per invocation, in order. */
  private val querySpans: Vector[(Harness.Inv, Span, Span, Span)] = {
    val runS = invs.headOption.map(_.startUs).getOrElse(clock.nowUs())
    val runE = invs.lastOption.map(_.endUs).getOrElse(runS)
    val run = add(-1, "run", "harness", runS, runE)
    invs.map { i =>
      val attrs = Seq("key" -> Json.str(i.call.key),
        "pass" -> Json.num(i.pass.toDouble),
        "query_id" -> Json.str(s"${i.call.key}#${i.pass}")) ++
        i.deltas.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }
      val q = add(run.id, "query", "harness", i.startUs, i.endUs, attrs)
      val c = add(q.id, "entry.construct", "entry", i.startUs, i.builtUs)
      val a = add(q.id, "action", "scheduler", i.builtUs, i.endUs)
      (i, q, c, a)
    }
  }

  /** The invocation whose interval holds `ms` (±1 ms: Spark stamps
    * events at millisecond grain). */
  private def owner(ms: Long): Option[(Harness.Inv, Span, Span, Span)] = {
    val us = ms * 1000L
    querySpans.find { case (i, _, _, _) =>
      us >= i.startUs - 1000L && us <= i.endUs + 1000L }
  }
  private def phaseParent(ms: Long, c: Span, a: Span): Span =
    if (ms * 1000L < c.endUs) c else a

  // streaming micro-batches under construct/action
  private val batchSpans: Vector[Span] = batches.flatMap { b =>
    owner(b.startMs).map { case (_, _, c, a) =>
      add(phaseParent(b.startMs, c, a).id, "streaming.batch", "streaming",
        b.startMs * 1000L, (b.startMs + b.triggerMs) * 1000L,
        Seq("add_batch_ms" -> Json.num(b.addBatchMs.toDouble)))
    }
  }

  private val jobSpans: Vector[(Tracer.Job, Span)] = jobs.flatMap { j =>
    owner(j.startMs).map { case (_, _, c, a) =>
      val base = phaseParent(j.startMs, c, a)
      val parent = batchSpans.find(b => b.parent == base.id &&
        j.startMs * 1000L >= b.startUs && j.startMs * 1000L < b.endUs)
        .getOrElse(base)
      val end = if (j.endMs > 0) j.endMs else j.startMs
      j -> add(parent.id, "job", "scheduler", j.startMs * 1000L, end * 1000L,
        Seq("job_id" -> Json.num(j.id.toDouble), "query_id" -> Json.str(j.query)))
    }
  }

  jobSpans.foreach { case (j, js) =>
    stageList.filter(s => j.stageIds.contains(s.id) && s.submitMs > 0)
      .sortBy(_.submitMs).foreach { s =>
        val end = if (s.completeMs > 0) s.completeMs else s.submitMs
        val m = s.m
        add(js.id, "stage", "task", s.submitMs * 1000L, end * 1000L,
          Seq("stage_id" -> Json.num(s.id.toDouble),
              "attempt" -> Json.num(s.attempt.toDouble)) ++
            m.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })
      }
  }

  phases.foreach { p =>
    owner(p.startMs).foreach { case (_, _, c, a) =>
      add(phaseParent(p.startMs, c, a).id, s"catalyst.${p.name}", "catalyst",
        p.startMs * 1000L, p.endMs * 1000L)
    }
  }

  val spans: Vector[Span] = buf.toVector
  private val self = Spans.selfUs(spans)

  val selfMs: Map[String, Double] = spans.groupBy(_.layer).map {
    case (layer, ss) => layer -> ss.map(s => self(s.id)).sum / 1e3
  }

  /** Layer split of the n slowest invocations. */
  def slowest(n: Int): Seq[String] = {
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    querySpans.sortBy { case (i, _, _, _) => -i.latencyS }.take(n).map {
      case (i, q, _, _) =>
        val split = subtree(q).groupBy(_.layer).map { case (l, ss) =>
          l -> ss.map(s => self(s.id)).sum / 1e3 }
        Json.obj("key" -> Json.str(i.call.key),
          "pass" -> Json.num(i.pass.toDouble),
          "latency_s" -> Json.num(i.latencyS),
          "self_ms" -> Json.obj(split.toSeq.sorted
            .map { case (k, v) => k -> Json.num(v) }: _*))
    }
  }

  def layerTotals(jvm: Map[String, Double], heapPeakMb: Double): Map[String, Double] = {
    def stageSum(k: String) = stageList.map(_.m(k)).sum
    val mb = 1048576.0
    val wallMs = invs.map(i => (i.endUs - i.startUs) / 1e3).sum
    val driverGapMs = querySpans.map { case (_, _, _, a) =>
      val js = jobSpans.collect { case (_, s) => (s.startUs, s.endUs) }
      ((a.endUs - a.startUs) - Spans.covered(js, a.startUs, a.endUs)) / 1e3
    }.sum
    val eager = jobSpans.count { case (_, s) =>
      querySpans.exists { case (_, _, c, _) =>
        s.startUs >= c.startUs && s.startUs < c.endUs && c.endUs > c.startUs }
    }
    val phaseMs = (n: String) => phases.filter(_.name == n)
      .map(p => (p.endMs - p.startMs).toDouble).sum
    val run = stageSum("run_ms")
    Map(
      "entry.construct_ms" -> invs.map(i => (i.builtUs - i.startUs) / 1e3).sum,
      "entry.eager_jobs" -> eager.toDouble,
      "entry.failures" -> invs.count(_.error.nonEmpty).toDouble,
      "codegen.compiles" -> invs.map(_.deltas.getOrElse("codegen.compiles", 0.0)).sum,
      "codegen.compile_ms" -> invs.map(_.deltas.getOrElse("codegen.compile_ms", 0.0)).sum,
      "catalyst.executions" -> t.sqlExecutions.get.toDouble,
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimizer_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "catalyst.aqe_replans" -> t.aqeReplans.get.toDouble,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stageList.count(_.completeMs > 0).toDouble,
      "scheduler.tasks" -> stageSum("tasks"),
      "scheduler.stage_wall_ms" -> stageList.filter(s => s.completeMs > 0 && s.submitMs > 0)
        .map(s => (s.completeMs - s.submitMs).toDouble).sum,
      "scheduler.driver_gap_ms" -> driverGapMs,
      "scheduler.task_wait_ms" -> stageSum("wait_ms"),
      "scheduler.slot_busy_frac" -> (if (wallMs > 0) stageSum("busy_ms") / (wallMs * cpus) else 0.0),
      "scheduler.task_failures" -> stageSum("task_failures"),
      "scheduler.stage_retries" -> stageList.count(_.attempt > 0).toDouble,
      "task.run_ms" -> run,
      "task.cpu_ms" -> stageSum("cpu_ms"),
      "task.gc_ms" -> stageSum("gc_ms"),
      "task.deser_ms" -> stageSum("deser_ms"),
      "task.cpu_frac" -> (if (run > 0) stageSum("cpu_ms") / run else 0.0),
      "shuffle.write_mb" -> stageSum("shuffle_write_b") / mb,
      "shuffle.read_mb" -> stageSum("shuffle_read_b") / mb,
      "shuffle.fetch_wait_ms" -> stageSum("fetch_wait_ms"),
      "shuffle.spill_mem_mb" -> stageSum("spill_mem_b") / mb,
      "shuffle.spill_disk_mb" -> stageSum("spill_disk_b") / mb,
      "io.read_mb" -> stageSum("read_b") / mb,
      "io.read_rows" -> stageSum("read_rows"),
      "io.write_mb" -> stageSum("write_b") / mb,
      "io.write_rows" -> stageSum("write_rows"),
      "streaming.queries" -> t.streamQueries.get.toDouble,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.trigger_ms" -> batches.map(_.triggerMs.toDouble).sum,
      "streaming.add_batch_ms" -> batches.map(_.addBatchMs.toDouble).sum,
      "streaming.state_rows" -> batches.map(_.stateRows.toDouble).sum,
      "jvm.gc_ms" -> jvm("jvm.gc_ms"),
      "jvm.gc_count" -> jvm("jvm.gc_count"),
      "jvm.jit_ms" -> jvm("jvm.jit_ms"),
      "jvm.heap_peak_mb" -> heapPeakMb)
  }
}
