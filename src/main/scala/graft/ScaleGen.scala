package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up corpus generator for the scaling probe (r11
  * verdict ask #1): writes a `mult`× copy of a base corpus to a scratch
  * directory so per-key scaling exponents can be MEASURED instead of
  * argued from plan shapes. /root/testdata is never touched — output
  * goes wherever the caller points (tools/scale_probe.sh uses /tmp).
  *
  * Construction: `mult` key-shifted copies of every fact table, unioned.
  * The design preserves the properties that make the timing comparison
  * honest:
  *  - FK graphs replicate as disjoint copies (every key column shifts by
  *    the same copy stride), so join fan-outs and group sizes per key
  *    stay what they were — only the NUMBER of groups/users/orders
  *    grows, which is exactly how a real corpus grows;
  *  - dims (region, nation) are NOT replicated — a 10× corpus still has
  *    25 nations, so broadcast sides stay broadcast-sized;
  *  - calendar span is unchanged (ts/o_orderdate kept) — day-grain
  *    frames stay calendar-bounded while per-day density grows 10×;
  *  - document text is word-TAGGED then word-PERMUTED per copy, both
  *    deterministic: each copy suffixes a GUARANTEED-size set of word
  *    types (k lowest under a per-copy hash ranking, k sized so every
  *    doc carries > m/19 tagged types, m its distinct-type count —
  *    doc-INDEPENDENT, so two docs that
  *    were near-dups of each other stay near-dups inside every copy:
  *    shared words transform identically), then words are permuted by
  *    an xxhash sort key. Guaranteed-count tagging bounds cross-copy
  *    word-set Jaccard at (m−t)/(m+t) < 0.9 BY CONSTRUCTION (r12's
  *    independent-per-type 15 % tagging only bounded it in
  *    expectation: tag-count variance let three of thirty copies tag
  *    one type and cross-copy J reach 0.9+, a pair-space artifact
  *    growing ∝ copies² — see the tagging comment below), and
  *    permutation breaks shingles — without BOTH, a copy is a perfect
  *    near-dup of its original (permutation alone leaves word SETS
  *    identical — the first 10× run measured it: 48k near-dup edges at
  *    sf0.1 became 5.04M instead of ~480k);
  *    token counts and within-copy dup structure are preserved, so
  *    gates and dedup rates fire at the base corpus's rates;
  *  - embeddings get small deterministic per-copy noise and are
  *    re-normalized to unit — identical vectors across copies would
  *    make cosine ties and duplicate collapse the dominant effect.
  *
  * Usage: runMain graft.ScaleGen <baseSfDir> <outDir> <mult>
  */
object ScaleGen {
  private val Stride = 10000000000L // key shift per copy, > any base key

  def main(args: Array[String]): Unit = {
    val (base, out, mult) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession.local(GraftSession.cpus())
    generate(spark, base, out, mult)
    spark.stop()
  }

  def generate(s: SparkSession, base: String, out: String, mult: Int): Unit = {
    def shift(c: String, i: Int) = col(c) + lit(i.toLong * Stride)

    def copies(df: DataFrame)(derive: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => derive(df, i)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scalegen] wrote $name")
    }

    // dims: copied verbatim (a bigger corpus has the same 25 nations)
    Seq("region", "nation").foreach { t =>
      write(s.read.parquet(s"$base/$t.parquet"), t)
    }

    write(copies(s.read.parquet(s"$base/customer.parquet")) { (df, i) =>
      df.withColumn("c_custkey", shift("c_custkey", i))
    }, "customer")

    write(copies(s.read.parquet(s"$base/supplier.parquet")) { (df, i) =>
      df.withColumn("s_suppkey", shift("s_suppkey", i))
    }, "supplier")

    write(copies(s.read.parquet(s"$base/part.parquet")) { (df, i) =>
      df.withColumn("p_partkey", shift("p_partkey", i))
    }, "part")

    write(copies(s.read.parquet(s"$base/orders.parquet")) { (df, i) =>
      df.withColumn("o_orderkey", shift("o_orderkey", i))
        .withColumn("o_custkey", shift("o_custkey", i))
    }, "orders")

    write(copies(s.read.parquet(s"$base/lineitem.parquet")) { (df, i) =>
      df.withColumn("l_orderkey", shift("l_orderkey", i))
        .withColumn("l_partkey", shift("l_partkey", i))
        .withColumn("l_suppkey", shift("l_suppkey", i))
    }, "lineitem")

    // events: keys shift, calendar/values stay — 10x users, same span
    write(copies(Tables.events(s, base)) { (df, i) =>
      df.withColumn("event_id", shift("event_id", i))
        .withColumn("user_id", shift("user_id", i))
    }, "events")

    // documents: per-copy deterministic word-TYPE tagging with a
    // GUARANTEED tag count + word permutation (breaks shingles).
    // r12 tagged each type with independent probability 15 %
    // (xxhash64(w, copy) % 100 < 15) — the EXPECTED cross-copy
    // word-set Jaccard bound (1−p)/(1+p) ≈ 0.74 held, but over a
    // 31-type vocabulary the per-copy tag count has stddev ≈ 2 and
    // three of thirty copies tagged a SINGLE type, letting cross-copy
    // J reach 0.9+ — qualifying pairs the dedup keys then mine, and
    // the artifact grows ∝ copies² (measured: dedup_ngram_jaccard
    // output 1 732 344 at 30× vs the 30 × 48 169 = 1 445 070 its
    // within-copy structure produces; the excess drove the 100× probe
    // exponents toward 2). r13: each copy tags the k lowest-ranked
    // types under a per-copy hash ranking, k sized so every doc
    // carries t > m/19 tagged types of its m distinct types
    // (k = max(⌈0.15·V⌉, V − minDocTypes + tFloor), tFloor below)
    // — then for ANY doc pair across copies i ≠ j the tag suffixes
    // differ on ≥ t types and J ≤ (m−t)/(m+t) < 0.9 by
    // construction (typically far lower), while within-copy word-set
    // structure stays EXACT (type-level tagging transforms shared
    // words identically). Vocab is collected driver-side — a probe
    // TOOL'S corpus has tool-scale vocabulary (31 base types here);
    // the require() guards the assumption.
    val docsBase = s.read.parquet(s"$base/documents.parquet")
    val vocab = docsBase
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .collect().map(_.getString(0)).sorted
    require(vocab.length <= 100000,
      s"ScaleGen tagging assumes a tool-scale vocabulary; got ${vocab.length}")
    val minDocTypes = docsBase.filter(col("text").isNotNull)
      .select(size(array_distinct(split(col("text"), " "))).as("n"))
      .agg(min(col("n"))).head().getInt(0)
    // Per-doc tagged-type floor t sized from the J-bound, not a bare 2:
    // a doc with m distinct types and t tagged types has cross-copy
    // J = (m−t)/(m+t) < 0.9 iff t > m/19, and t = 2 only suffices while
    // m ≤ 37 — on a base corpus with richer minimum doc vocabulary the
    // copies² near-dup artifact this tagging exists to kill would
    // silently return (r13 advisor). t > m/19 at m = minDocTypes also
    // covers every larger doc: its tagged count grows one-for-one with
    // m (t' ≥ tFloor + (m' − minDocTypes)) while the requirement grows
    // only by (m' − minDocTypes)/19.
    val tFloor = math.max(2, minDocTypes / 19 + 1)
    val kTag = math.max(math.ceil(vocab.length * 0.15).toInt,
                        vocab.length - minDocTypes + tFloor)
    def tagSetFor(i: Int): Array[String] =
      vocab.sortBy(w => scala.util.hashing.MurmurHash3
        .stringHash(s"$w:$i")).take(kTag)
    write(copies(docsBase) { (df, i) =>
      val tags = lit(tagSetFor(i))
      val permuted =
        if (i == 0) col("text")
        else concat_ws(" ",
          transform(
            array_sort(transform(
              transform(split(col("text"), " "),
                w => when(array_contains(tags, w),
                          concat(w, lit(s"q$i"))).otherwise(w)),
              w => struct(xxhash64(w, lit(i)).as("k"), w.as("w")))),
            p => p.getField("w")))
      df.withColumn("doc_id", shift("doc_id", i))
        .withColumn("text",
          when(col("text").isNull, lit(null: String)).otherwise(permuted))
    }, "documents")

    // embeddings: deterministic per-copy jitter, re-normalized to unit.
    // Amplitude 0.5/dim (||eps|| ≈ 1.15 on a unit vector, cosine(orig,
    // copy) ≈ 0.66): strong enough that a vector's copies do NOT crowd
    // out its true neighbors — at 0.1 the copies sat at cosine ≈ 0.97,
    // every query's brute-force top-5 was its own twins, and ANN recall
    // read a degenerate 1.0 at any knob setting (measured, r12).
    write(copies(s.read.parquet(s"$base/embeddings.parquet")) { (df, i) =>
      if (i == 0) df.withColumn("vec_id", shift("vec_id", i))
      else {
        val jittered = expr(
          s"""transform(embedding, (x, j) ->
             |  x + (pmod(xxhash64(vec_id, j, $i), 1000) / 1000.0 - 0.5)
             |      * 0.5)""".stripMargin)
        df.withColumn("vec_id", shift("vec_id", i))
          .withColumn("j", jittered)
          .withColumn("nrm", expr(
            "sqrt(aggregate(j, 0.0D, (a, x) -> a + x * x))"))
          .withColumn("embedding", expr(
            "transform(j, x -> cast(x / nrm AS FLOAT))"))
          .drop("j", "nrm")
      }
    }, "embeddings")
  }
}
