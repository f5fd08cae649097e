package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark JVM. Reads a plan written by `perfbench/run.py`, builds
  * the session with the confs `graft.Bench` uses, runs a generic warm-up
  * and an optional untimed priming pass, then times one pass of
  * invocations exactly as `Bench.once` does: the `SparkEntry.queries`
  * construction call plus `count()`. With tracing on it also registers
  * listeners for the timed region and writes spans and per-layer totals.
  *
  * Usage: Harness <plan.tsv> <out.json>
  */
object Harness {
  final case class Call(key: String, sf: String, expected: Long)

  final case class Plan(cpus: Int, warmDir: String, trace: Boolean,
                        prime: Vector[Call], timed: Vector[Call],
                        verify: Vector[Call], verifyDir: String)

  final case class Inv(call: Call, pass: Int, startUs: Long, builtUs: Long,
                       endUs: Long, cpuNs: Long, rows: Long, error: String,
                       deltas: Map[String, Double]) {
    def ok: Boolean = error.isEmpty && rows == call.expected
    def latencyS: Double = (endUs - startUs) / 1e6
  }

  val QueryIdProperty = "perfbench.query"

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    args match {
      case Array(plan, out) => run(readPlan(plan), out)
      case _ =>
        System.err.println("usage: Harness <plan.tsv> <out.json>")
        sys.exit(2)
    }
  }

  private def readPlan(path: String): Plan = {
    val rows = Files.readAllLines(Paths.get(path)).asScala.toVector
      .filter(_.nonEmpty).map(_.split("\t", -1).toVector)
    def one(k: String) = rows.find(_.head == k).map(_(1))
      .getOrElse(sys.error(s"plan has no '$k' line"))
    def calls(k: String) = rows.filter(_.head == k)
      .map(r => Call(r(1), r(2), r(3).toLong))
    Plan(one("cpus").toInt, one("warmDir"), one("trace") == "1",
      calls("prime"), calls("timed"), calls("verify"), one("verifyDir"))
  }

  /** The session `graft.Bench` builds, with the same confs. */
  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.Scratch.warehouseDir)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Generic warm-up, as in `graft.Bench`: touch every table's reader
    * and JIT the common operator shapes. */
  private def warmUp(spark: SparkSession, sf: String): Unit = {
    def warm(f: => Unit): Unit = try f catch { case _: Throwable => () }
    warm(spark.range(1000000L).selectExpr("sum(id)").collect())
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => warm(spark.read.parquet(s"$sf/$t.parquet").count()))
    warm(graft.Tables.events(spark, sf).count())
    warm {
      val wn = spark.read.parquet(s"$sf/nation.parquet")
      wn.groupBy("n_regionkey").count().join(wn, "n_regionkey")
        .selectExpr("*",
          "row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS rn")
        .collect()
      ()
    }
  }

  private def run(plan: Plan, out: String): Unit = {
    val load1Start = HostInfo.load1()
    val ticksStart = HostInfo.cpuTicks()
    val spark = session(plan.cpus)
    val sessionMs = System.currentTimeMillis()
    warmUp(spark, plan.warmDir)
    val warmMs = System.currentTimeMillis()
    // a def that rebuilds its map on every call: read it once, untimed
    val queries = graft.SparkEntry.queries
    val clock = new Clock
    def invoke(c: Call, pass: Int, probe: Option[JvmProbe]): Inv = {
      val fn: (SparkSession, String) => DataFrame = queries(c.key)
      spark.sparkContext.setLocalProperty(QueryIdProperty, s"${c.key}#$pass")
      val before = probe.map(_.snapshot())
      val cpu0 = processCpuNs()
      val t0 = clock.nowUs()
      var built = t0
      var rows = -1L
      var error = ""
      try {
        val df = fn(spark, c.sf)
        built = clock.nowUs()
        rows = df.count()
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      val t1 = clock.nowUs()
      val cpuNs = processCpuNs() - cpu0
      if (error.nonEmpty && built == t0) built = t1
      spark.sparkContext.setLocalProperty(QueryIdProperty, null)
      val deltas = (for (b <- before; p <- probe) yield p.delta(b))
        .getOrElse(Map.empty)
      Inv(c, pass, t0, built, t1, cpuNs, rows, error, deltas)
    }

    val prime = plan.prime.map(invoke(_, 0, None))
    val readyMs = System.currentTimeMillis()
    val readyCpuNs = processCpuNs()

    val tracer = if (plan.trace) Some(new Tracer(spark)) else None
    val probe = if (plan.trace) Some(new JvmProbe) else None
    val jvm0 = probe.map(_.snapshot())
    probe.foreach(_.resetPeaks())
    val timed = plan.timed.map(invoke(_, 1, probe))
    val jvmDelta = for (s <- jvm0; p <- probe) yield p.delta(s)
    val heapPeakMb = probe.map(_.heapPeakMb()).getOrElse(0.0)
    tracer.foreach(_.stop())

    // untimed: what the session keeps after the timed region
    System.gc()
    val heapRetainedMb = ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    writeVerify(spark, queries, plan)
    val load1End = HostInfo.load1()
    val steal = HostInfo.steal(ticksStart, HostInfo.cpuTicks())

    val traced = tracer.map { t =>
      val ledger = new Ledger(t, timed, plan.cpus, clock)
      Seq(
        "layers" -> Json.obj((ledger.layerTotals(jvmDelta.get, heapPeakMb)
          .toSeq.map { case (k, v) => k -> Json.num(v) }): _*),
        "self_ms" -> Json.obj(ledger.selfMs.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }: _*),
        "slowest" -> Json.arr(ledger.slowest(10)),
        "spans" -> Json.arr(ledger.spans.map(_.json)))
    }.getOrElse(Nil)

    val fields = Seq(
      "session_ms" -> Json.num(sessionMs.toDouble),
      "warm_ms" -> Json.num(warmMs.toDouble),
      "ready_ms" -> Json.num(readyMs.toDouble),
      "ready_cpu_s" -> Json.num(readyCpuNs / 1e9),
      "jvm_start_ms" -> Json.num(
        ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
      "heap_retained_mb" -> Json.num(heapRetainedMb),
      "host" -> HostInfo.json(spark, load1Start, load1End, steal),
      "prime" -> Json.arr(prime.map(invJson)),
      "timed" -> Json.arr(timed.map(invJson))) ++ traced
    Files.writeString(Paths.get(out), Json.obj(fields: _*))
    try spark.stop() catch { case _: Throwable => () }
  }

  /** Untimed: the full results of a few keys, in the layout
    * `tools/oracle_check.py` compares against DuckDB (as `graft.Verify`
    * writes it). */
  private def writeVerify(spark: SparkSession,
                          queries: Map[String, (SparkSession, String) => DataFrame],
                          plan: Plan): Unit = if (plan.verify.nonEmpty) {
    Files.createDirectories(Paths.get(plan.verifyDir))
    plan.verify.foreach { c =>
      try queries(c.key)(spark, c.sf).coalesce(1).write.mode("overwrite")
        .parquet(s"${plan.verifyDir}/${c.key}")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] verify ${c.key} failed: ${e.getMessage}") }
    }
    val sql = plan.verify.map(c => c.key -> Json.str(graft.SparkEntry.oracleSql(c.key)))
    Files.writeString(Paths.get(s"${plan.verifyDir}/oracle_sql.json"), Json.obj(sql: _*))
  }

  /** CPU time of every thread of this JVM so far. Unlike wall time it is
    * not charged for cycles the hypervisor steals from the guest. */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def invJson(i: Inv): String = Json.obj(
    "key" -> Json.str(i.call.key), "sf" -> Json.str(i.call.sf),
    "pass" -> Json.num(i.pass.toDouble),
    "construct_ms" -> Json.num((i.builtUs - i.startUs) / 1e3),
    "latency_s" -> Json.num(i.latencyS),
    "cpu_s" -> Json.num(i.cpuNs / 1e9),
    "rows" -> Json.num(i.rows.toDouble),
    "expected" -> Json.num(i.call.expected.toDouble),
    "ok" -> i.ok.toString, "error" -> Json.str(i.error))
}

/** Epoch microseconds with nanosecond-clock resolution, so spans taken by
  * the harness and millisecond timestamps from Spark events share one
  * time base. */
final class Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** JVM-wide counters read around each invocation (one query runs at a
  * time, so the deltas belong to it). */
final class JvmProbe {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def snapshot(): Map[String, Double] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "jvm.gc_ms" -> gcs.map(_.getCollectionTime).sum.toDouble,
    "jvm.gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
    "jvm.jit_ms" -> jit.getTotalCompilationTime.toDouble)

  def delta(before: Map[String, Double]): Map[String, Double] = {
    val now = snapshot()
    now.map { case (k, v) => k -> (v - before(k)) }
  }

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak occupancy since `resetPeaks`. */
  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object HostInfo {
  def load1(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split("\\s+")(0).toDouble finally s.close()
    } catch { case _: Throwable => -1.0 }

  /** (steal ticks, total ticks) from the aggregate cpu line of
    * /proc/stat, read the way `graft.Bench.cpuTicks` reads it. */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val s = scala.io.Source.fromFile("/proc/stat")
      val line = try s.getLines().next() finally s.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      if (f.length >= 8) Some((f(7), f.sum)) else None
    } catch { case _: Throwable => None }

  def steal(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0)
      yield (s1 - s0).toDouble / (t1 - t0)).getOrElse(-1.0)

  def json(spark: SparkSession, load1Start: Double, load1End: Double,
           steal: Double): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    val env = sys.env.toSeq.filter(_._1.startsWith("SPARK_")).sorted
    Json.obj(
      "cores" -> Json.num(Runtime.getRuntime.availableProcessors.toDouble),
      "master" -> Json.str(spark.sparkContext.master),
      "max_memory_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "gc" -> Json.arr(ManagementFactory.getGarbageCollectorMXBeans.asScala
        .toSeq.map(b => Json.str(b.getName))),
      "jvm_args" -> Json.arr(rt.getInputArguments.asScala.toSeq.map(Json.str)),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "spark_env" -> Json.obj(env.map { case (k, v) => k -> Json.str(v) }: _*),
      "load1_start" -> Json.num(load1Start),
      "load1_end" -> Json.num(load1End),
      "steal" -> Json.num(steal))
  }
}

/** Minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
