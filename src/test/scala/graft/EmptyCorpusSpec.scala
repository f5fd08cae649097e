package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.LongType

/** Degenerate-input robustness: every graded key must EXECUTE (not
  * necessarily return rows) against three adversarial corpora that are
  * routine at 100 TB, not corner cases:
  *  - all-empty: any per-partition filter, per-day ingest shard, or
  *    per-language split can come up empty; a codebook sampled with
  *    `take(k)` that got 0 rows, a CC probe that assumed ≥1 edge, or a
  *    schema inferred from a fileless directory takes the whole job down;
  *  - null-row: dirty data always includes null text / keys / timestamps;
  *    the fragile spots are custom Catalyst expressions (null must
  *    short-circuit in BOTH codegen and interpreted paths), primitive-
  *    field encoders, and `size(split(...))`-style derivations (-1);
  *    events also gain a purchase whose value is NULL on a day of its
  *    own, so that day's total is NULL in every daily series;
  *  - monoculture: every document the SAME text, every embedding the
  *    SAME vector — worst-case duplicate skew where one LSH bucket holds
  *    everything, the dup graph is one giant component, similarities tie
  *    at 1.0 and k-means sees one distinct point; caps and tie-breaks
  *    must keep every operator bounded.
  * Schemas always come from the real sf0.001 corpus, so names/types are
  * exactly the graded ones — only the data degenerates.
  */
class EmptyCorpusSpec extends SparkSpecBase {

  /** Write a corpus derived per-table from sf0.001 and return its dir.
    * events.parquet carries TIMESTAMP(NANOS); read it the same way
    * Tables.events does (raw long) so the twin round-trips. */
  private def writeCorpus(prefix: String)(derive: (String, DataFrame) => DataFrame): String = {
    val dir = Scratch.dir(prefix)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach { t =>
      derive(t, spark.read.parquet(s"$sfSmoke/$t.parquet"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def assertAllKeysExecute(corpusDir: String, what: String): Unit = {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, corpusDir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${SparkEntry.failure(e)}")
        }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} keys crash on $what:\n  ${failures.mkString("\n  ")}")
  }

  test("every graded key executes against an all-empty corpus") {
    val dir = writeCorpus("graft-empty-corpus")((_, df) => df.limit(0))
    assertAllKeysExecute(dir, "an empty corpus")
  }

  test("every graded key executes against a corpus containing all-null rows") {
    val dir = writeCorpus("graft-nulls-corpus") { (t, df) =>
      val allNull = df.limit(1).select(
        df.schema.fields.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      val rows = df.limit(50).union(allNull)
      if (t != "events") rows
      else {
        // 2024-03-01 12:00 UTC, after every sf0.001 event; ts reads as
        // epoch nanos from a TIMESTAMP(NANOS) generation
        val day = df.schema("ts").dataType match {
          case LongType => lit(1709294400L * 1000000000L)
          case tsType => lit("2024-03-01 12:00:00").cast(tsType)
        }
        rows.union(df.limit(1).withColumn("ts", day)
          .withColumn("event_type", lit("purchase"))
          .withColumn("value", lit(null).cast("double")))
      }
    }
    assertAllKeysExecute(dir, "a null-row corpus")
  }

  test("every graded key executes against a monoculture (all-identical) corpus") {
    val dir = writeCorpus("graft-mono-corpus") { (t, df0) =>
      val df = df0.limit(50)
      t match {
        case "documents" =>
          df.withColumn("text", lit("same words every single time " * 5))
        case "embeddings" =>
          df.withColumn("embedding",
            expr("transform(sequence(1, 64), i -> CAST(0.125 AS FLOAT))"))
        case _ => df
      }
    }
    assertAllKeysExecute(dir, "a monoculture corpus")
  }

  test("flagship entry smoke-check on the real corpus (driver twin)") {
    // entry() reads sf0.001 by contract; its empty-corpus behavior is
    // covered through the agg_groupby key above.
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
