package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main and the test suite run
  * on: Verify, Bench, PlanAudit, ScaleGen and the probes all build it
  * here, so the graded dump, the bench and every measurement share one
  * configuration. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available core count. */
  def cpus(): Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
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
    spark
  }
}
