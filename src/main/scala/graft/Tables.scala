package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated corpus (TESTDATA.md). One parquet file
  * per table under the scale-factor directory passed to each query.
  *
  * Scale design note (100 TB): every loader is a plain parquet scan, so
  * Catalyst's `ColumnPruning` / `PushDownPredicates` reach the file source
  * unimpeded — at cluster scale these become row-group skips and column
  * projections on the distributed store. No caching here on purpose: the
  * harness runs each query once, and caching would hide pushdown wins.
  */
object Tables {
  def region(s: SparkSession, sf: String): DataFrame    = s.read.parquet(s"$sf/region.parquet")
  def nation(s: SparkSession, sf: String): DataFrame    = s.read.parquet(s"$sf/nation.parquet")
  def customer(s: SparkSession, sf: String): DataFrame  = s.read.parquet(s"$sf/customer.parquet")
  def supplier(s: SparkSession, sf: String): DataFrame  = s.read.parquet(s"$sf/supplier.parquet")
  def part(s: SparkSession, sf: String): DataFrame      = s.read.parquet(s"$sf/part.parquet")
  def orders(s: SparkSession, sf: String): DataFrame    = s.read.parquet(s"$sf/orders.parquet")
  def lineitem(s: SparkSession, sf: String): DataFrame  = s.read.parquet(s"$sf/lineitem.parquet")
  /** Events with `ts` as session-UTC TimestampType, whatever the corpus
    * generation (see `normalizeTs`). */
  def events(s: SparkSession, sf: String): DataFrame = normalizeTs(eventsRaw(s, sf))

  /** The events file as stored: `ts` is still generation-dependent (see
    * `normalizeTs`). */
  private[graft] def eventsRaw(s: SparkSession, sf: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$sf/events.parquet")
  }

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some corpus
    * generations (which Spark 4 refuses to map to TimestampType — read as
    * raw long and truncate ns→µs, exactly DuckDB's internal behavior) and
    * as TIMESTAMP(MICROS) in others (arrives as TIMESTAMP_NTZ under
    * Spark's NTZ inference). Both normalize to the SAME session-UTC
    * TimestampType column, so every downstream operator and oracle sees
    * identical instants and output schemas regardless of generation —
    * batch reads and the streaming file source alike. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  def documents(s: SparkSession, sf: String): DataFrame = s.read.parquet(s"$sf/documents.parquet")
  def embeddings(s: SparkSession, sf: String): DataFrame = s.read.parquet(s"$sf/embeddings.parquet")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
