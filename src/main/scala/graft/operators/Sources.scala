package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Source/sink round-trips beyond plain parquet (SURVEY.md §2.1) and the
  * UDF/UDTF surface (§2.11). Each round-trip query returns the READ-BACK
  * rows ordered by key and is oracle-paired against the source table's
  * SQL — DuckDB never needs the temp path; a lossless round trip is
  * exactly a hash match with the source. The scalatest suite additionally
  * asserts content equality in-process.
  */
object Sources {

  /** CSV round-trip: write nation out as headered CSV, read it back with
    * an explicit schema (schema inference is a full extra pass — never
    * rely on it at scale), return read-back rows. */
  def scanCsv(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_csv_")
    val src = Tables.nation(s, sf)
    src.write.mode("overwrite").option("header", "true").csv(dir)
    s.read.schema(src.schema).option("header", "true").csv(dir)
      .orderBy("n_nationkey")
  }

  /** JSON-lines round-trip (the reference ingests API JSON [PK]): write
    * nation as JSON lines, read back with an explicit schema. */
  def scanJsonFile(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_json_")
    val src = Tables.nation(s, sf)
    src.write.mode("overwrite").json(dir)
    s.read.schema(src.schema).json(dir)
      .orderBy("n_nationkey")
  }

  /** Nested-JSON normalization — the reference's core ingest loop
    * (SURVEY.md §1.1: batch JSON → flatten rounds/teams/users to rows):
    * build ONE nested document per user (`user_id`, `events:
    * array<struct>`), write the documents out as JSON, re-read them with
    * an explicit nested schema (never inference at scale), and flatten
    * back to relational rows with explode. The oracle re-derives the
    * same rows from the flat base table, so the whole
    * nest → serialize → parse → flatten cycle is verified exactly.
    *
    * Scale shape: the nest is one groupBy(user) shuffle; the read-back
    * is a parallel JSON-lines scan; explode is narrow. Nothing touches
    * the driver. */
  def scanJsonNested(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = graft.Scratch.dir("graft_jsonnest_")
    Tables.events(s, sf)
      .filter(col("user_id") < 200)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        col("event_id"), col("event_type"), col("value")))).as("events"))
      .write.mode("overwrite").json(dir)
    val nested = StructType(Seq(
      StructField("user_id", LongType),
      StructField("events", ArrayType(StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))))))
    s.read.schema(nested).json(dir)
      .select(col("user_id"), explode(col("events")).as("e"))
      .select(col("user_id"), col("e.event_id").as("event_id"),
              col("e.event_type").as("event_type"),
              round(col("e.value"), 4).as("value"))
      .orderBy("user_id", "event_id")
  }

  /** ORC round-trip — the second columnar format Spark ships natively
    * (orc-core is in /opt/spark/jars; there is no spark-avro datasource
    * jar, so Avro is out of scope). Columnar pushdown/pruning work the
    * same as parquet. */
  def scanOrc(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_orc_")
    val src = Tables.nation(s, sf)
    src.write.mode("overwrite").orc(dir)
    s.read.schema(src.schema).orc(dir)
      .orderBy("n_nationkey")
  }

  /** Malformed-input ingestion — the robustness a real API-JSON feed
    * demands: a JSON-lines file is staged with every 20th record
    * deterministically broken (truncated object), then read back in
    * PERMISSIVE mode with a `_corrupt_record` column, so bad records
    * are quarantined as rows instead of failing the job (DROPMALFORMED
    * and FAILFAST are the stricter siblings of the same switch). The
    * graded output is per-bucket accounting — parsed rows aggregate
    * normally, corrupt rows count separately — which the oracle
    * re-derives arithmetically from the base table, verifying that
    * exactly the planted breakage (and nothing else) was quarantined. */
  def scanJsonMalformed(s: SparkSession, sf: String): DataFrame =
    quarantineBuckets(s, sf, "json", "graft_badjson_")(
      when(col("doc_id") % 20 === 0,
           concat(lit("{\"id\":"), col("doc_id").cast("string")))
        .otherwise(concat(lit("{\"id\":"), col("doc_id").cast("string"),
                          lit(",\"n\":"), col("n_chars").cast("string"),
                          lit("}"))))

  /** Malformed-CSV quarantine — the CSV twin of scanJsonMalformed: one
    * row in twenty is planted with a non-numeric value in a LONG
    * column, the PERMISSIVE reader routes it to _corrupt_record, and
    * the quarantine accounting buckets corrupt rows at −1 (same rule as
    * the JSON key, see `quarantineBuckets`). */
  def scanCsvMalformed(s: SparkSession, sf: String): DataFrame =
    quarantineBuckets(s, sf, "csv", "graft_badcsv_")(
      when(col("doc_id") % 20 === 0,
           concat(col("doc_id").cast("string"), lit(",notanumber")))
        .otherwise(concat(col("doc_id").cast("string"), lit(","),
                          col("n_chars").cast("string"))))

  /** Stages one `line` per document as text into a scratch dir, reads
    * it back as `format` with an `(id, n, _corrupt_record)` schema in
    * PERMISSIVE mode, and returns the per-bucket quarantine accounting.
    *
    * Quarantine accounting keys ONLY on _corrupt_record presence — how
    * much of a broken record the parser salvages into typed columns is
    * engine- and version-dependent (partial-results parsing), so no
    * graded value may depend on it. One-pass conditional aggregation:
    * corrupt rows route to bucket −1 (their char sum is NULL); a
    * separate corrupt-only branch would be rejected by Spark
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the pruned scan may not read
    * just the corrupt column). */
  private def quarantineBuckets(s: SparkSession, sf: String, format: String,
                                prefix: String)(line: Column): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = graft.Scratch.dir(prefix)
    Tables.documents(s, sf).select(line.as("value"))
      .write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("n", LongType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema).option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .format(format).load(dir)
      .groupBy(when(col("_corrupt_record").isNotNull, lit(-1L))
                 .otherwise(col("id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
           sum(when(col("_corrupt_record").isNull, col("n"))).as("sum_chars"))
      .orderBy("bucket")
  }

  /** Partitioned parquet sink: write events partitioned by event_type,
    * read back a single partition. The read shows partition pruning —
    * `PartitionFilters` in the scan, only one directory touched. */
  def sinkPartitioned(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_part_")
    val events = Tables.events(s, sf)
    events.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    // Read back with the writer's schema: a zero-row partitioned write
    // produces no data files, and schema INFERENCE on that directory
    // throws UNABLE_TO_INFER_SCHEMA — the writer-side schema is always
    // known, so carry it instead of re-deriving it from the layout.
    s.read.schema(events.schema).parquet(dir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  /** Binary-file ingest — the multimodal ingest edge the parquet-column
    * multimodal keys assume already happened: raw files on disk (images,
    * audio, arbitrary blobs) land as (path, content) rows via Spark's
    * `binaryFile` source, keyed by filename, and are verified BYTE-EXACT
    * against the table of record (md5 of the staged bytes vs md5 of the
    * source text — not just lengths). Staging writes one file per
    * document from the executors (foreachPartition), the way a fetcher
    * fleet would; the bounded doc_id < 100 slice keeps the graded dump's
    * file count sane, the operator itself streams at any scale.
    *
    * Scale note: binaryFile caps per-file size via
    * spark.sql.sources.binaryFile.maxLength and never splits files —
    * one task per file, so at 100 TB the parallelism is the file count,
    * which is exactly right for opaque blobs. */
  def scanBinaryFiles(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_bin_")
    Tables.documents(s, sf)
      .filter(col("doc_id") < 100 && col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .repartition(8)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"${r.getLong(0)}.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.txt$", 1).cast("long")
          .as("doc_id"),
        length(col("content")).cast("bigint").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")
  }

  /** Small-file compaction — the OPTIMIZE step of table maintenance,
    * next to CDC upsert and SCD2: a fragmented table (64 shards here —
    * the streaming-sink / per-trigger-file reality) is rewritten into a
    * handful of scan-efficient files with coalesce, which merges
    * partitions WITHOUT a shuffle — compaction is IO-bound rewriting,
    * and paying an exchange to do it would double the data movement. At
    * 100 TB this runs per-partition (compact yesterday's directory, not
    * the table) with target file count = partition bytes / 1 GB. The
    * graded output is the compacted read-back, ordered — proving the
    * rewrite lossless against the SOURCE table's oracle; the spec pins
    * the actual file counts (64 → ≤ 4). */
  def sinkCompacted(s: SparkSession, sf: String): DataFrame = {
    val src = Tables.events(s, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    // The 64-shard fragmented table is the INPUT FIXTURE (the state a
    // streaming sink leaves behind), not the graded semantics — that is
    // the compaction rewrite below, which runs on every invocation.
    // Staged once per session like the DPP fact copy / footer-stats
    // layouts (Scratch.stagedDir scaladoc: operators whose graded
    // semantics is over a staged layout); re-sharding identical bytes
    // per invocation was one whole write job of pure fixture setup.
    val fragDir = graft.Scratch.stagedDir(s, s"compact_frag:$sf",
        "graft_compact_frag_") { d =>
      src.repartition(64).write.mode("overwrite").parquet(d)
    }
    val outDir = graft.Scratch.dir("graft_compact_out_")
    val frag = s.read.schema(src.schema).parquet(fragDir)
    frag.coalesce(4).write.mode("overwrite").parquet(outDir)
    s.read.schema(src.schema).parquet(outDir).orderBy("event_id")
  }

  /** Schema evolution across parquet batches — the 100 TB table reality:
    * years of files where newer batches carry columns older ones lack.
    * An "old" batch (doc_id, lang) and a "new" batch (doc_id, lang,
    * n_chars) land in the same directory; `mergeSchema` unions the
    * schemas at footer level and old rows surface the new column as
    * NULL, no rewrite of historical files. (mergeSchema reads every
    * footer — at real scale you pin the merged schema explicitly via
    * `.schema(...)`, which also works here; the key exercises the
    * drift-discovery path.) Oracle: the same union stated relationally
    * with a NULL literal for the missing column. */
  def scanSchemaEvolution(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_evolve_")
    val docs = Tables.documents(s, sf)
    val cutoff = 250L
    docs.filter(col("doc_id") < cutoff)
      .select("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$dir/batch=old")
    docs.filter(col("doc_id") >= cutoff)
      .select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/batch=new")
    // A 0-row NON-partitioned write still emits one schema-bearing part
    // file (verified; it is partitionBy writes that leave none — see
    // sinkPartitioned), so both batches always contribute a footer and
    // the merged schema carries n_chars even when a batch is empty.
    s.read.option("mergeSchema", "true").parquet(dir)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Z-order clustered sink: lineitem laid out on the interleaved-bit
    * Morton curve over (l_partkey, l_suppkey), so range predicates on
    * EITHER key map to contiguous z-ranges — the multi-dimensional
    * clustering trick behind Delta/Iceberg OPTIMIZE ZORDER, built from
    * first principles with a 16+16-bit interleave as a flat bit-op
    * expression tree (whole-stage-codegen'd, no UDF). The query reads the clustered
    * files back under a two-sided predicate and returns matching rows
    * WITH their z-values — the oracle replays the interleave in SQL, so
    * the curve math itself is hash-checked.
    *
    * Scale shape: repartitionByRange on z (sampled range bounds) +
    * sortWithinPartitions gives each parquet file a tight z-interval,
    * i.e. tight min/max on BOTH keys → row-group skipping for either
    * predicate dimension at 100 TB; a single-column sort would cluster
    * one key and scatter the other. ZorderLayoutSpec pins the per-file
    * two-sided selectivity this buys.
    */
  def sinkZorderLayout(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_zorder_")
    // 31-bit × 31-bit Morton interleave: bit i of x → bit 2i, bit i of
    // y → bit 2i+1. 31 bits per key covers any key < 2³¹ (~2.1e9 parts,
    // SF ~10⁴ — the r7 16-bit form silently aliased keys past 65535)
    // while keeping zval in bits 0..61, so it never touches the sign
    // bit of either engine's 64-bit integer. Unrolled to a flat 62-term
    // sum: higher-order `aggregate` lambdas are interpreted per row per
    // element, while this tree whole-stage-codegens into straight-line
    // bit ops (measured 5.2 s → sub-second on the sf0.1 round trip)
    val z = (0 until 31).map { i =>
      shiftleft(shiftright(col("l_partkey"), i).bitwiseAND(lit(1L)), 2 * i) +
      shiftleft(shiftright(col("l_suppkey"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    val li = Tables.lineitem(s, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              col("l_suppkey"), z.as("zval"))
    li.repartitionByRange(8, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(dir)
    s.read.schema(li.schema).parquet(dir)
      .filter(col("l_partkey") < 200 && col("l_suppkey") < 50)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Parquet FOOTER introspection — the metadata a 100 TB engine reads
    * before it reads any data: per-file row counts and column min/max
    * statistics, i.e. exactly what file- and row-group-skipping
    * (sink_sorted_layout's pushdown win) consumes. The layout is made
    * DETERMINISTIC so the statistics themselves are oracle-checkable:
    * one writer task, keys sorted, files cut every 10 000 records
    * (maxRecordsPerFile splits exactly) — so each file's (n_rows, min,
    * max) is a pure function of the key MULTISET (the k-th boundary
    * value is the k-th order statistic regardless of tie order), and
    * DuckDB re-derives it from the source table with a row_number
    * partitioning. A production table range-partitions the writer
    * instead; the single-writer shape here is what pins determinism.
    *
    * Scale shape: the FOOTERS are read distributed — file paths
    * parallelize across the cluster and each task opens only its
    * footers (bytes proportional to metadata, never data; this is how
    * a manifest/stats service bootstraps). Driver work is one
    * directory listing.
    */
  def scanParquetFooter(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    // Staged once per (session, sf): the graded semantics is the
    // DISTRIBUTED footer read below, not this layout write — and the
    // write is the key's expensive half (a repartition(1) global sort
    // so row groups carry disjoint key ranges). Scratch.stagedDir
    // scaladoc has the soundness argument.
    val dir = graft.Scratch.stagedDir(s, s"footer:$sf", "graft_footer_") { d =>
      Tables.lineitem(s, sf).select(col("l_orderkey"))
        .repartition(1).sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").option("maxRecordsPerFile", "10000")
        .parquet(d)
    }
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).toSeq
    s.createDataset(files).repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { paths =>
        val conf = new org.apache.hadoop.conf.Configuration()
        paths.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            reader.getFooter.getBlocks.asScala.map { rg =>
              val stats: org.apache.parquet.column.statistics.Statistics[_] =
              rg.getColumns.get(0).getStatistics
              // an all-null chunk has no min/max — surface SQL NULLs,
              // matching what min()/max() yield over the same rows
              val ok = stats != null && !stats.isEmpty && stats.hasNonNullValue
              (rg.getRowCount,
               if (ok) java.lang.Long.valueOf(stats.genericGetMin.asInstanceOf[Long])
               else null.asInstanceOf[java.lang.Long],
               if (ok) java.lang.Long.valueOf(stats.genericGetMax.asInstanceOf[Long])
               else null.asInstanceOf[java.lang.Long])
            }.toList
          } finally reader.close()
        }
      }
      .toDF("n_rows", "min_key", "max_key")
      .orderBy("min_key", "max_key", "n_rows")
  }

  /** Clustered-layout parquet sink: range-partition + sort-within-
    * partitions on the read key before writing, then answer a selective
    * range query off the written files. The layout is the point — each
    * output file covers a narrow, disjoint l_orderkey range, so the
    * read-back's pushed range predicate prunes at FILE and ROW-GROUP
    * granularity via parquet min/max stats (the single-key form of
    * Z-order clustering). sink_partitioned shows directory pruning on a
    * low-cardinality column; this shows stats pruning on a high-
    * cardinality one — together they are the two layout levers a 100 TB
    * table has. Writer-side schema on the read-back (empty-input rule). */
  def sinkSortedLayout(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_sorted_")
    val li = Tables.lineitem(s, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(dir)
    s.read.schema(li.schema).parquet(dir)
      .filter(col("l_orderkey") >= 1000 && col("l_orderkey") < 2000)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
           round(sum(col("l_quantity")), 4).as("sum_qty"),
           round(sum(col("l_extendedprice")), 4).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Scalar Scala UDF — declared to prove the surface; real pipelines
    * should prefer built-ins (this exact semantic IS expressible with
    * built-ins, which is what the oracle runs). */
  def udfScalar(s: SparkSession, sf: String): DataFrame = {
    val slug = udf((t: String) => if (t == null) null else t.toLowerCase.replace(' ', '-'))
    Tables.documents(s, sf)
      .select(col("doc_id"),
              slug(substring(col("text"), 1, 30)).as("slug"))
      .orderBy("doc_id")
  }

  /** Generator/UDTF surface: posexplode over tokenized text (Scala has no
    * SQL-UDTF registration; built-in generators + Dataset.flatMap cover
    * the capability). 1-based pos to match the oracle's zipped unnest. */
  def udtfExplode(s: SparkSession, sf: String): DataFrame =
    Tables.documents(s, sf)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("pos"),
              col("col").as("word"))
      .orderBy("doc_id", "pos")

  /** XML ingest — Spark 4's built-in XML source (spark-xml merged into
    * core): round-trip the documents table through `rowTag` XML and
    * read it back with an explicit schema. Same lossless-round-trip
    * oracle pattern as scan_csv: the read-back rows must hash-match the
    * source table, proving the writer's escaping and the reader's
    * parsing are inverses on real corpus text.
    */
  def scanXml(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_xml_")
    val src = Tables.documents(s, sf)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
              col("text"))
    src.write.mode("overwrite").option("rootTag", "docs")
      .option("rowTag", "doc").format("xml").save(dir)
    s.read.schema(src.schema).option("rowTag", "doc").format("xml").load(dir)
      .orderBy("doc_id")
  }

  /** Compressed-CSV round-trip — the `scanCsv` cycle through gzip, the
    * codec most third-party data still arrives in. The catch a scale
    * plan must own: gzip is NOT splittable, so one .csv.gz file = one
    * task no matter its size (a single 100 GB gzip drops ingest to one
    * core) — the write keeps the source's partitioning so the read-back
    * gets one task per written shard, and a production ingest either
    * requests many smaller gzip shards upstream or recompresses to a
    * splittable layout (parquet/zstd-in-parquet) on first touch.
    */
  def scanCsvGzip(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_csvgz_")
    val src = Tables.nation(s, sf)
    src.write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(dir)
    s.read.schema(src.schema).option("header", "true").csv(dir)
      .orderBy("n_nationkey")
  }

  /** Plain-text round-trip — the rawest ingest format a corpus pipeline
    * meets (one document per line, no schema, no types): write the
    * document bodies out with the text sink, read them back with the
    * line-oriented text source, and profile the read-back lines. Line
    * order is non-deterministic across partitioned writers, so the
    * profile is ORDER-FREE aggregates only — which is also exactly what
    * makes the oracle able to replay it from the source table without
    * ever seeing the temp path (corpus text contains no newlines; a
    * real ingest normalizes them first or flips to `wholetext`).
    *
    * Scale shape: the write fans out per partition; the read-back is a
    * parallel line scan with lazy UTF-8 decode; the profile is one
    * single-row aggregate with partial combine. Nothing driver-side.
    */
  def scanTextLines(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_text_")
    Tables.documents(s, sf).filter(col("text").isNotNull)
      .select(col("text")).write.mode("overwrite").text(dir)
    s.read.text(dir)
      .agg(count(lit(1)).cast("bigint").as("n_lines"),
           countDistinct(col("value")).cast("bigint").as("n_distinct"),
           sum(length(col("value"))).cast("bigint").as("total_chars"),
           min(length(col("value"))).cast("bigint").as("min_chars"),
           max(length(col("value"))).cast("bigint").as("max_chars"),
           round(avg(length(col("value"))), 6).as("avg_chars"))
  }

  /** Parquet BLOOM-FILTER sink + point-lookup read-back — the layout
    * tool for selective equality lookups on a column the table is
    * neither sorted nor partitioned by (`sink_sorted_layout` covers the
    * sort-key case; user_id here is scattered across every file).
    * The writer embeds a split-block bloom filter per row group
    * (`parquet.bloom.filter.enabled#user_id`, NDV-sized); at read time
    * the parquet reader tests the filter BEFORE decoding a row group,
    * so a one-user lookup on a 100 TB events table skips ~every row
    * group at the cost of a few KB of filter per group — min/max stats
    * can't do this for a uniformly-scattered id. Correctness is graded
    * as a round-trip: the lookup result must equal the same filter on
    * the table of record.
    */
  def sinkBloomFilter(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_bloomf_")
    val ev = Tables.events(s, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    ev.write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#user_id", "true")
      .option("parquet.bloom.filter.expected.ndv#user_id", "200000")
      .parquet(dir)
    s.read.schema(ev.schema).parquet(dir)
      .filter(col("user_id") === 1L)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("event_id")
  }

  /** Dynamic partition overwrite — the partitioned-table maintenance
    * semantics every warehouse reload depends on: an `overwrite` write
    * in DYNAMIC mode replaces ONLY the partitions present in the
    * incoming frame and leaves every other partition untouched (static
    * mode — Spark's default — would truncate the whole table first).
    * The key loads events partitioned by type, then re-loads JUST the
    * purchase partition through a corrective transform (value × 2, the
    * backfill-after-bugfix shape); the final read must show corrected
    * purchases AND intact other types, so a regression to static
    * overwrite semantics fails the oracle by losing every non-purchase
    * partition — the key is self-verifying about the semantics it
    * claims.
    *
    * Scale shape: both writes are partitionBy(event_type) parquet sinks
    * (each task writes only its partition's files); the corrective
    * write touches one partition's bytes, which at 100 TB is the whole
    * point — a per-partition backfill never rewrites the table. The
    * mode is set as a WRITE OPTION, not session conf, so concurrent
    * writers keep their own semantics. */
  def sinkDynamicOverwrite(s: SparkSession, sf: String): DataFrame = {
    val src = Tables.events(s, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_id"), col("user_id"), col("value"),
              col("event_type"))
    val dir = graft.Scratch.dir("graft_dynover_")
    src.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    src.filter(col("event_type") === "purchase")
      .withColumn("value", round(col("value") * 2, 4))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(dir)
    // writer-side schema on the read-back: an all-empty corpus writes a
    // partitioned dir with ZERO partition dirs, which defeats schema
    // inference (the streamAggSink/foreachBatch discipline)
    s.read.schema(src.schema).parquet(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
           round(sum(col("value")), 4).as("total_value"))
      .orderBy("event_type")
  }

  /** Manifest-snapshot sink — atomic publish without a table format:
    * the committed write's file listing is frozen into a MANIFEST, and
    * readers resolve the snapshot through the manifest instead of
    * listing the directory — so a torn write, a concurrent writer's
    * half-landed files, or a failed compaction's leftovers are
    * invisible (the poor-man's Iceberg/Delta snapshot; at 100 TB
    * directory-listing reads are how partial data leaks into a job).
    * The key PLANTS an orphan parquet file with inflated values into
    * the data directory after the manifest freezes — the oracle totals
    * match only because the read path honors the manifest.
    *
    * The manifest write and the listing are driver metadata ops (the
    * ScalePatterns fingerprint precedent); data moves only through the
    * executor write. */
  def sinkManifestSnapshot(s: SparkSession, sf: String): DataFrame = {
    val dir = graft.Scratch.dir("graft_manifest_")
    val data = Tables.events(s, sf)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 4).as("value"))
    data.write.mode("overwrite").parquet(s"$dir/data")
    val hconf = s.sparkContext.hadoopConfiguration
    val dataPath = new org.apache.hadoop.fs.Path(s"$dir/data")
    val fs = dataPath.getFileSystem(hconf)
    val committed = fs.listStatus(dataPath).toSeq
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/MANIFEST"),
      committed.mkString("\n").getBytes("UTF-8"))
    // a torn/concurrent write lands AFTER the snapshot froze: same
    // schema, corrupt content — invisible through the manifest
    data.limit(10).withColumn("value", col("value") * 1000)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orphan")
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/orphan")).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .foreach(p => fs.rename(p,
        new org.apache.hadoop.fs.Path(s"$dir/data/orphan-${p.getName}")))
    val snapshot = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/MANIFEST")), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)
    s.read.schema(data.schema).parquet(snapshot: _*)
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
           sum(col("value").cast("decimal(18,4)")).cast("double")
             .as("total_value"),
           countDistinct(col("user_id")).cast("bigint").as("n_users"))
  }
}
