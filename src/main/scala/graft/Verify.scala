package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // GRAFT_VERIFY_ONLY restricts both the query dump and the oracle manifest
    val only = SparkEntry.onlyKeys("GRAFT_VERIFY_ONLY", "verify")
    val spark = GraftSession.local(GraftSession.cpus())
    new java.io.File(outDir).mkdirs()
    def keep(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${SparkEntry.failure(e)}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a quoted JSON string: escapes backslash, quote and ALL
    * control chars (< 0x20) — a tab or CR in builder-authored SQL, or a
    * quote in a corpus path, would otherwise make the consumer's
    * json.load fail (for the oracle manifest, silently zeroing the
    * round's correctness). */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
