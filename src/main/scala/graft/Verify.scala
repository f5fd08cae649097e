package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus())
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (unset in the driver's run): comma-separated
    // key list restricts both the query dump and the oracle manifest.
    // When active it banners loudly and fails fast on typo'd keys, so a
    // leaked env var or bad key can never silently shrink the graded set.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { keys =>
      val unknown = keys.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        sys.error(s"GRAFT_VERIFY_ONLY names unknown queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
      System.err.println(s"[verify] GRAFT_VERIFY_ONLY active: keeping " +
        s"${keys.size} of ${SparkEntry.queries.size} queries")
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
