package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions

/** The one local SparkSession every graft main and the test suite run
  * on: Verify, Bench, PlanAudit, ScaleGen and the probes all build it
  * here, so the graded dump, the bench and every measurement share one
  * configuration, and each gets graft's native tier at build
  * (`GraftExtensions.register`). */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` (or `setting`) when it is a positive integer,
    * else the JVM's available core count: `local[0]` and `local[-n]` are
    * not masters Spark can start. */
  def cpus(setting: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int =
    setting.flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // per-process warehouse: concurrent graft JVMs must not race on
      // ./spark-warehouse table dirs (Scratch.warehouseDir scaladoc)
      .config("spark.sql.warehouse.dir", Scratch.warehouseDir)
      // default is 100 entries — a ~400-query board evicts constantly
      // and re-janino-compiles every stage on the second timing pass; a
      // long-lived cluster session sizes this to its workload (static
      // conf, must be set before the session exists). Identical
      // generated classes, identical work per run — only the compile
      // step is cached, which is the cache's documented purpose.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** Warms a fresh session before any timing: JVM/codegen/parquet-reader
    * init is one-time startup cost, not part of any query (a long-lived
    * cluster session amortizes it across every job it ever runs). Per
    * corpus dir it touches every table's footer/reader path (`events`
    * through `Tables.events`, the nanos-legacy read path) and JITs the
    * common operator shapes (hash agg, hash join, window), so the first
    * measured query doesn't absorb session bring-up. Warm-up must NEVER
    * abort a measurement — a missing/corrupt table here would kill every
    * timing and the JSON line (queries themselves degrade per query) —
    * so each step swallows its failure and moves on. */
  def warmUp(spark: SparkSession, dirs: String*): Unit = {
    def warm(f: => Unit): Unit = try f catch { case _: Throwable => () }
    warm(spark.range(1000000L).selectExpr("sum(id)").collect())
    for (dir <- dirs) {
      Tables.names.filter(_ != "events")
        .foreach(t => warm(spark.read.parquet(s"$dir/$t.parquet").count()))
      warm(Tables.events(spark, dir).count())
      warm {
        val wn = spark.read.parquet(s"$dir/nation.parquet")
        wn.groupBy("n_regionkey").count()
          .join(wn, "n_regionkey")
          .selectExpr("*", "row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS rn")
          .collect()
        ()
      }
    }
  }
}
