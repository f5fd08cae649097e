package graft

import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Self-tests for the oracle-N LLM-pipeline operators (engine-specific
  * hash families): MinHash/LSH with planted near-dups, SimHash, ANN LSH,
  * and the multimodal codec round-trips. Fixture docs are generated in-test
  * (FIXTURES.md: the corpus has no exact dups at sf0.001). */
class DedupSimilaritySpec extends SparkSpecBase {

  /** 3 near-dup pairs with known overlap + disjoint controls. */
  private def fixture = {
    import spark.implicits._
    val vocabA = (1 to 20).map(i => s"alpha$i")
    val vocabB = (1 to 20).map(i => s"beta$i")
    Seq(
      // pair (1,2): 18/20 shared tokens → exact J = 18/22 ≈ 0.818
      (1L, (vocabA.take(18) ++ Seq("x1", "x2")).mkString(" ")),
      (2L, (vocabA.take(18) ++ Seq("y1", "y2")).mkString(" ")),
      // pair (3,4): identical word sets, different order → J = 1.0
      (3L, vocabB.mkString(" ")),
      (4L, vocabB.reverse.mkString(" ")),
      // controls: disjoint vocabularies
      (5L, (1 to 20).map(i => s"gamma$i").mkString(" ")),
      (6L, (1 to 20).map(i => s"delta$i").mkString(" "))
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("ws"))
  }

  test("substring exact: boundary-straddling duplicated span caught where the 40/10 grid misses") {
    import spark.implicits._
    // shared span at offset 11 in doc A and offset 25 in doc B —
    // 14 ≢ 0 (mod 10), so the two fixed grids sample DIFFERENT 40-char
    // windows of the same span (asserted below, not assumed): the
    // shingle key's documented miss case. Content-defined anchors are
    // offset-invariant, so dedupSubstringExact must still report it.
    val span = (1 to 40).map(i => s"span$i").mkString(" ")
    val docA = "alpha beta " + span + " tailx taily"
    val docB = "gammagamma delta epsilon " + span + " omega"
    def grid(t: String): Set[String] =
      (0 to (t.length - 40) / 10).map(i => t.substring(i * 10, i * 10 + 40)).toSet
    assert(grid(docA).intersect(grid(docB)).isEmpty,
      "fixture must actually straddle the 40/10 grid")
    val out = Dedup.substringExactSpans(
      Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")).collect()
    assert(out.nonEmpty, "straddling duplicated span must be reported")
    assert(out.forall(r => r.getLong(2) == 2L && r.getLong(4) == 1L &&
      r.getLong(5) == 2L), "every reported span must join docs 1 and 2")
    // control: disjoint docs produce no spans
    val none = Dedup.substringExactSpans(Seq(
      (1L, (1 to 40).map(i => s"aa$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"bb$i").mkString(" "))).toDF("doc_id", "text"))
    assert(none.isEmpty)
  }

  test("minhash: planted near-dups found, estimates near exact Jaccard, controls absent") {
    val pairs = Dedup.minhashPairs(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((3L, 4L)), "identical word sets must collide")
    assert(math.abs(pairs((3L, 4L)) - 1.0) < 1e-9)
    pairs.get((1L, 2L)).foreach(est =>
      assert(math.abs(est - 0.818) < 0.35, s"J estimate $est too far from 0.818"))
    assert(!pairs.contains((5L, 6L)), "disjoint docs must not pair")
  }

  test("minhash cluster: planted dups share a representative, controls stay singleton") {
    val labels = Dedup.minhashClusterOf(fixture)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 6, "every node must be labeled")
    assert(labels(4L) == 3L, "identical word sets must cluster to min id")
    assert(labels(3L) == 3L)
    assert(labels(5L) == 5L && labels(6L) == 6L, "controls stay singleton")
  }

  test("minhash cluster: a duplicate group far above the LSH stop-bucket cap still clusters") {
    import spark.implicits._
    // 100 identical word sets (> MaxBucket = 64): every LSH band bucket
    // overflows the stop-bucket cap and yields ZERO pairs — only the
    // identical-signature chain edges can link the group. Controls check
    // the chain path does not over-merge.
    val vocab = (1 to 20).map(i => s"dup$i")
    val docs = ((1L to 100L).map(i => (i, vocab)) ++
        Seq((200L, (1 to 20).map(i => s"solo$i"))))
      .toDF("doc_id", "ws")
    val labels = Dedup.minhashClusterOf(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 100L).forall(labels(_) == 1L),
      "over-cap duplicate group must collapse to one representative")
    assert(labels(200L) == 200L, "control must stay singleton")
  }

  test("minhash estimates are deterministic across runs") {
    val a = Dedup.dedupNearMinhash(spark, sfSmoke).collect()
    val b = Dedup.dedupNearMinhash(spark, sfSmoke).collect()
    assert(a.sameElements(b))
  }

  test("simhash: identical word sets → identical signature (hamming 0 pairs exist)") {
    val df = Dedup.dedupSimhash(spark, sfOracle)
    // sf0.01 corpus has bag-of-words dups → at least one hamming-0 pair
    assert(df.filter(col("hamming") === 0).count() > 0)
    assert(df.filter(col("hamming") > 3).count() == 0)
  }

  test("ngram jaccard: block-join and prefix-join paths are result-identical") {
    val docs = Dedup.jaccardDocs(spark, sfOracle)
    val block = Dedup.ngramJaccardBlockJoin(docs).collect()
    val prefix = Dedup.ngramJaccardPrefixJoin(docs).collect()
    assert(block.nonEmpty, "sf0.01 corpus has planted near-dups")
    assert(block.sameElements(prefix),
      "the cost-based paths must agree pair-for-pair")
  }

  test("block-size probe: the counting branch past the 1 MB fast path") {
    // every graded corpus takes the estimated-bytes fast path, so only a
    // frame estimated over 1 MB reaches the memoized groupBy-count;
    // 300 000 ids over 7 residues put 42 858 rows in block 0
    for (block <- Seq("source", "label")) {
      val df = spark.range(300000).select(col("id"), (col("id") % 7).as(block))
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(1L << 20),
        "the frame must miss the estimated-bytes fast path")
      assert(Similarity.maxBlockAtMost(df, block, 42858L),
        s"largest $block block is exactly 42 858 rows")
      assert(!Similarity.maxBlockAtMost(df, block, 42857L),
        s"one row under the largest $block block must fail")
      // the collected frame must carry no join hint (Spark drops a
      // broadcast hint outside a join and logs a warning per probe)
      assert(Similarity.blockStats(df, block).queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.isEmpty, s"$block: the probed block stats must not be hinted")
    }
  }

  test("simhash hamming-0 pairs are exactly the equal-word-set pairs within source") {
    val exact = Dedup.dedupNgramJaccard(spark, sfOracle)
      .filter(col("jac") === 1.0).select("id1", "id2")
    val sim0 = Dedup.dedupSimhash(spark, sfOracle)
      .filter(col("hamming") === 0).select("id1", "id2")
    assert(exact.exceptAll(sim0).isEmpty, "every exact dup pair must be hamming-0")
  }

  test("incremental minhash equals the full run restricted to batch-touching pairs") {
    // signatures and band hashes are pure functions of the word set, so
    // standing-index + delta-only hashing must reproduce EXACTLY the
    // full-corpus pair mining minus the hist×hist block (already mined
    // when the standing index was built). The comparison runs at the
    // LAYOUT the index was built with (bandingFor on the standing half —
    // every ingest must band at the index's layout; dedupNearMinhash
    // itself derives its layout from the FULL corpus, which may differ).
    val docs = Tables.documents(spark, sfOracle)
      .select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("ws"))
    val cut = docs.agg(floor(max(col("doc_id")) / 2).cast("long"))
      .head().getLong(0)
    val (b, r) = Dedup.bandingFor(docs.filter(col("doc_id") <= cut))
    info(s"index layout at sf0.01 standing half: b=$b r=$r")
    val full = Dedup.minhashPairsAt(docs, b, r)
      .filter(col("id1") > cut || col("id2") > cut)
    val inc = Dedup.dedupNearMinhashIncremental(spark, sfOracle)
      .select("id1", "id2", "est_jaccard")
    assert(inc.count() > 0, "batch must surface near-dup candidates")
    assert(full.exceptAll(inc).isEmpty && inc.exceptAll(full).isEmpty,
      "incremental pair set must equal the batch-restricted full run")
  }

  test("containment pairs are a superset of jaccard pairs, bounded in [0,1]") {
    // J = |∩|/|∪| ≥ 0.9 forces BOTH containments ≥ 0.9 (each divisor is
    // ≤ the union), so every graded jaccard pair must re-appear here;
    // the converse direction (subset docs with tiny J) is the relation
    // this key exists to catch.
    val jac = Dedup.dedupNgramJaccard(spark, sfOracle).select("id1", "id2")
    val cont = Dedup.dedupContainment(spark, sfOracle)
    assert(jac.exceptAll(cont.select("id1", "id2")).isEmpty,
      "every jaccard>=0.9 pair must be a containment pair")
    val bad = cont.filter(col("cont1_in_2") < 0 || col("cont1_in_2") > 1 ||
      col("cont2_in_1") < 0 || col("cont2_in_1") > 1).count()
    assert(bad == 0, "containment is a ratio in [0,1]")
  }

  test("containment: prefix-filtered scale path equals the grid exactly") {
    // dedupContainment cost-dispatches (grid under the size threshold,
    // prefix-filtered posting join above — the 100 TB shape, r12). The
    // graded corpus takes the grid; this differential proves the prefix
    // path's candidate set loses no qualifying pair (the pigeonhole
    // prefix lemma) and its verification agrees value-for-value.
    val docs = Dedup.jaccardDocs(spark, sfOracle)
    val grid = Dedup.containmentGridJoin(docs).collect().map(_.toSeq)
    val pref = Dedup.containmentPrefixJoin(docs).collect().map(_.toSeq)
    assert(grid.length == pref.length &&
           grid.zip(pref).forall { case (a, b) => a == b },
      s"grid (${grid.length} pairs) and prefix (${pref.length}) paths diverge")
  }

  test("embed cosine: quantized-prescreen scale path equals the plain grid exactly") {
    // dedupEmbedCosine cost-dispatches (plain float grid under the
    // block threshold, int8-quantized grid above — the 4×-fewer-bytes
    // 100 TB shape, r14). The dispatch must be invisible in the result:
    // the quantization-error prescreen s1·s2·(qdot + (A1+A2)/2 + d/4)
    // is a PROVEN upper bound on the true dot, so no pair at or above
    // the rounded gate can be pruned, and survivors are re-verified
    // with the exact float dot. Row-identity is asserted on both small
    // corpora AND a planted fixture that exercises the survivor path
    // (a high-cos pair), the boundary region, and the scale-0 (all
    // zero) degenerate vector.
    for (sf <- Seq(sfSmoke, sfOracle)) {
      val e = Tables.embeddings(spark, sf)
      val plain = Similarity.dedupEmbedCosinePlain(e)
        .collect().map(_.toSeq)
      val quant = Similarity.dedupEmbedCosineQuantized(e)
        .collect().map(_.toSeq)
      assert(plain.length == quant.length &&
             plain.zip(quant).forall { case (a, b) => a == b },
        s"plain (${plain.length} pairs) and quantized (${quant.length}) " +
          s"paths diverge at $sf")
    }
    import spark.implicits._
    val base = Array.tabulate(64)(i => (math.sin(i + 1) / 4.0).toFloat)
    def norm(v: Array[Float]) = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val near = base.clone(); near(0) = near(0) + 0.05f // high cos (survivor)
    val mid = Array.tabulate(64)(i =>               // partial overlap
      (if (i < 32) base(i) else -base(63 - i)))
    val planted = Seq(
      (1L, norm(base).toSeq, 0L),
      (2L, norm(near).toSeq, 0L),
      (3L, norm(mid).toSeq, 0L),
      (4L, Array.fill(64)(0.0f).toSeq, 0L), // scale-0 degenerate
      (5L, norm(base.map(-_)).toSeq, 0L)    // anti-parallel (pruned)
    ).toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
    val p = Similarity.dedupEmbedCosinePlain(planted)
      .collect().map(_.toSeq)
    val qz = Similarity.dedupEmbedCosineQuantized(planted)
      .collect().map(_.toSeq)
    assert(p.nonEmpty, "planted fixture produced no qualifying pair")
    assert(p.length == qz.length && p.zip(qz).forall { case (a, b) => a == b },
      s"planted: plain ${p.mkString(";")} vs quantized ${qz.mkString(";")}")
  }

  test("ann lsh: bucketing deterministic; same-bucket cosine beats global mean") {
    val res = Similarity.simAnnLsh(spark, sfSmoke)
    val sameBucketAvg = res.agg(avg("cos")).head().getDouble(0)
    // global mean cosine of random unit vectors ≈ 0; hyperplane buckets
    // group vectors with positive mutual projections
    assert(sameBucketAvg > 0.0,
      s"same-bucket avg cosine $sameBucketAvg should exceed global ~0")
    val res2 = Similarity.simAnnLsh(spark, sfSmoke)
    assert(res.collect().sameElements(res2.collect()))
  }

  test("incremental lsh index (standing + delta) answers identically to a full rebuild") {
    // the incremental path persists the historical half's bucket rows,
    // hashes ONLY the new batch, and merges — sound because the
    // hyperplane family is deterministic in (table, plane, dim); this
    // asserts the resulting top-k is bit-identical to hashing the whole
    // collection from scratch at the same derived (planes, tables).
    val e = Tables.embeddings(spark, sfOracle)
    val planes = Similarity.lshPlanesFor(e.count())
    val full = Similarity.annLshTopk(e, nPlanes = planes,
      nTables = Similarity.lshTablesFor(planes)).collect()
    val inc = Similarity.simAnnLshIncremental(spark, sfOracle).collect()
    assert(inc.nonEmpty)
    assert(inc.sameElements(full),
      "merged standing+delta index must equal the full rebuild")
  }

  test("persisted ann index: bucketed table round-trip answers identically to a rebuild") {
    val e = Tables.embeddings(spark, sfOracle)
    val planes = Similarity.lshPlanesFor(e.count())
    val rebuilt = Similarity.annLshTopk(e, nPlanes = planes,
      nTables = Similarity.lshTablesFor(planes)).collect()
    // first call writes the bucketed table; second exercises the
    // fingerprint reuse path (no rebuild jobs) — both must equal the
    // in-plan rebuild bit-for-bit.
    val first = Similarity.simAnnIndexPersist(spark, sfOracle).collect()
    val reused = Similarity.simAnnIndexPersist(spark, sfOracle).collect()
    assert(first.nonEmpty)
    assert(first.sameElements(rebuilt),
      "query over the persisted index must equal the rebuild")
    assert(reused.sameElements(rebuilt),
      "fingerprint-reuse read must equal the rebuild")
    // the standing index is a real bucketed TABLE on the probe key
    val tbl = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "graft_ann_index_" + sfOracle.replaceAll("[^A-Za-z0-9]", "_")))
    assert(tbl.bucketSpec.exists(b =>
      b.bucketColumnNames == Seq("tbl", "bucket") && b.numBuckets == 8))
  }

  test("ann lsh: wider signature (16 planes) refines 8-plane buckets, deterministic") {
    val e = Tables.embeddings(spark, sfSmoke)
    val wide = Similarity.annLshTopk(e, nPlanes = 16)
    val rows = wide.collect()
    assert(rows.nonEmpty)
    assert(Similarity.annLshTopk(e, nPlanes = 16).collect().sameElements(rows))
    // plane j of table t is seeded by (t, j, dim) regardless of the
    // plane count, so the extra 8 planes refine (subdivide) the first 8
    // within every table: vectors sharing a 16-bit bucket necessarily
    // share its low-8-bit prefix bucket, wide candidates ⊆ narrow
    // candidates per query (union over the same tables preserves ⊆),
    // and each query's wide TOP-K (all survivors of a smaller candidate
    // set) cannot exceed its narrow top-k count. (Strict result-subset
    // would be too strong — narrow trims at k — but the per-query count
    // bound is exact. Holds because no bucket trips the default cap.)
    val narrowCounts = Similarity.annLshTopk(e, nPlanes = 8).collect()
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.length).toMap
    val wideCounts = rows.groupBy(_.getAs[Long]("qid")).view.mapValues(_.length).toMap
    for ((qid, wn) <- wideCounts)
      assert(wn <= narrowCounts.getOrElse(qid, 0),
        s"query $qid: 16-plane result count $wn exceeds 8-plane count — " +
          "finer buckets invented candidates")
  }

  test("multiprobe: at HALF the tables, recall beats single-probe at the same half and holds the family floor") {
    val e = Tables.embeddings(spark, sfOracle)
    val planes = Similarity.lshPlanesFor(e.count())
    val halfTables = math.max(1, Similarity.lshTablesFor(planes) / 2)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    val brute = q.join(e.select(col("vec_id").as("nid"), col("embedding").as("nv")))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
              expr("round(graft_dot(qv, nv), 6)").as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Similarity.annLshTopk(e, nPlanes = planes,
      nTables = halfTables))
    val multi = pairs(Similarity.simAnnMultiprobe(spark, sfOracle))
    val rSingle = (single & brute).size.toDouble / brute.size
    val rMulti = (multi & brute).size.toDouble / brute.size
    info(s"recall@5: single-probe@$halfTables tables = $rSingle, " +
      s"multiprobe@$halfTables tables = $rMulti")
    // candidate pool is a superset per construction, and top-k by cosine
    // is monotone in the pool (anything displacing a true neighbor has
    // higher cosine, hence is itself a true neighbor) — recall may not drop
    assert(rMulti >= rSingle,
      "multiprobe recall must not drop below single-probe at equal tables")
    assert(rMulti >= 0.5,
      s"multiprobe recall $rMulti below the family's 0.5 floor at half tables")
    val again = pairs(Similarity.simAnnMultiprobe(spark, sfOracle))
    assert(multi == again, "multiprobe must be deterministic")
  }

  test("ann lsh: recall@5 >= 0.5 vs brute force at the default knobs") {
    val e = Tables.embeddings(spark, sfOracle)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    val brute = q.join(e.select(col("vec_id").as("nid"), col("embedding").as("nv")))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
              expr("round(graft_dot(qv, nv), 6)").as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.simAnnLsh(spark, sfOracle)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    info(s"LSH recall@5 = $recall (8 tables x 4 planes; curve in scaladoc)")
    assert(recall >= 0.5,
      s"recall $recall below the 0.5 floor for the default 8x4 knobs " +
        "(measured 0.70 — see simAnnLsh scaladoc for the full curve)")
  }

  test("ann/grid knobs derive from collection size and hold their bounds at 100 TB n") {
    // planes: expected bucket occupancy n/2^p held at the stop-bucket
    // target as n grows — the graded corpus lands on the graded config
    assert(Similarity.lshPlanesFor(500) == 4, "graded corpus size must yield the graded 4 planes")
    assert(Similarity.lshPlanesFor(4096L * 1024) == 10)
    assert(Similarity.lshPlanesFor(10L * 1000 * 1000 * 1000) == 22,
      "a 100 TB-scale collection (~1e10 vectors) must push the signature past 16 bits")
    assert(Similarity.lshPlanesFor(Long.MaxValue) == 24, "plane cap")
    assert(Similarity.lshPlanesFor(0) == 4, "empty corpus floors, never degenerates")
    // tables: recall bound 1-(1-p^k)^L >= 0.95; monotone in planes so
    // recall is held as the signature widens, capped where multiprobe
    // takes over
    assert(Similarity.lshTablesFor(4) == 8, "the graded 8x4 config must emerge from the formula")
    assert(Similarity.lshTablesFor(10) > Similarity.lshTablesFor(4),
      "more planes must buy more tables to hold the recall target")
    assert(Similarity.lshTablesFor(22) == 64, "table cap (multiprobe territory)")
    // grid: cells stay executor-sized, with a parallelism floor and a
    // replication cap
    assert(Similarity.gridChunksFor(100) == 4, "small blocks keep the parallelism floor")
    assert(Similarity.gridChunksFor(4096L * 100) == 100)
    assert(Similarity.gridChunksFor(1L << 30) == 256, "replication cap")
  }

  test("ann lsh: stop-bucket cap drops oversized buckets' candidates") {
    val e = Tables.embeddings(spark, sfSmoke)
    // cap of 1 excludes every bucket with >1 member → no candidates at all
    assert(Similarity.annLshTopk(e, maxBucket = 1).count() == 0)
  }

  test("ann candidates are a subset of brute-force rankings (consistency)") {
    val ann = Similarity.simAnnLsh(spark, sfSmoke)
      .select(col("qid"), col("nid"), col("cos"))
    val bad = ann.filter(col("cos") > 1.0001 || col("cos") < -1.0001).count()
    assert(bad == 0)
  }

  test("semdedup: planted semantic duplicates keep one survivor, distinct vectors all survive") {
    import spark.implicits._
    // 64-dim unit vectors: ids 0-2 identical (cos 1.0 — must merge to
    // rep 0), ids 3-4 nearly identical (cos ≈ 0.995 — must merge to rep
    // 3), ids 5-12 mutually near-orthogonal axis vectors (must all
    // survive). Any identical pair shares a k-means cell by determinism
    // of the argmax, so the planted groups cannot be split by blocking.
    def unit(axis: Int, tilt: Double = 0.0): Array[Float] = {
      val v = Array.fill(64)(0.0)
      v(axis) = 1.0; if (tilt != 0.0) v((axis + 1) % 64) = tilt
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val vecs = Seq(
      (0L, unit(0)), (1L, unit(0)), (2L, unit(0)),
      (3L, unit(7)), (4L, unit(7, 0.1))) ++
      (5L to 12L).map(i => (i, unit(i.toInt * 3 + 20)))
    val e = vecs.toDF("vec_id", "embedding")
      .withColumn("label", lit("t"))
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = graft.operators.Similarity.semDedup(e,
        graft.operators.Similarity.trainCodebook(e), threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Seq(0L, 1L, 2L).map(out(_)._1).toSet == Set(0L), "identical trio merges to rep 0")
    assert(out(0L)._2 == 1L && out(1L)._2 == 0L && out(2L)._2 == 0L)
    assert(Seq(3L, 4L).map(out(_)._1).toSet == Set(3L), "near-identical pair merges to rep 3")
    (5L to 12L).foreach { i =>
      assert(out(i) == (i, 1L), s"distinct vector $i must survive as its own rep")
    }
  }

  test("ivf ann: candidates come from probed cells, deterministic, recall measured") {
    val ivf = Similarity.simIvfTopk(spark, sfOracle)
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    // deterministic across runs
    assert(Similarity.simIvfTopk(spark, sfOracle).collect().sameElements(rows))
    // recall@5 vs brute force (informational lower bound: must beat
    // picking 5 of N at random by a wide margin)
    val e = Tables.embeddings(spark, sfOracle)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    val brute = q.join(e.select(col("vec_id").as("nid"), col("embedding").as("nv")))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
              expr("round(graft_dot(qv, nv), 6)").as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    info(s"IVF recall@5 = $recall (nprobe=nProbeFor(n), 2 Lloyd rounds, 50% train)")
    assert(recall >= 0.6,
      s"recall $recall below the 0.6 floor for a usable ANN index")
  }

  test("pq: deterministic codebooks, recall@5 over the 0.6 floor, 5 per query") {
    val a = Similarity.simAnnPq(spark, sfOracle).collect()
    val b = Similarity.simAnnPq(spark, sfOracle).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)),
      "seeds and Lloyd rounds are deterministic — two builds must agree")
    val perQ = a.groupBy(_.getLong(0))
    assert(perQ.size == 20 && perQ.values.forall(_.length == 5))
    // brute-force ground truth per query
    val e = Tables.embeddings(spark, sfOracle).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double =
      x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
    val brute = (0L until 20L).flatMap { q =>
      e.keys.filter(_ != q).toSeq
        .map(n => (n, math.rint(cos(e(q), e(n)) * 1e6) / 1e6))
        .sortBy { case (n, c) => (-c, n) }.take(5).map(n => (q, n._1))
    }.toSet
    val got = a.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    info(s"PQ recall@5 = $recall (8 subspaces x 16 codes, sqrt(n)-scaled re-rank)")
    assert(recall >= 0.6, s"recall $recall below the 0.6 floor")
  }

  test("mmr: deterministic, relevance-first, strictly more diverse than top-10") {
    val a = Similarity.simMmrDiversify(spark, sfOracle).collect()
    val b = Similarity.simMmrDiversify(spark, sfOracle).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)),
      "greedy selection must be deterministic")
    assert(a.length == 10 && a.map(_.getLong(1)).distinct.length == 10)
    assert(a.map(_.getLong(0)).sameElements(1L to 10L))
    // rank 1 is the relevance argmax — identical to the brute top-k head
    val top = Similarity.simCosineTopk(spark, sfOracle).head()
    assert(a.head.getLong(1) == top.getLong(0),
      "MMR must open with the most relevant item")
    // diversity: the MMR set's mean pairwise similarity must undercut
    // the plain top-10's (the whole point of the re-rank)
    val emb = Tables.embeddings(spark, sfOracle)
      .filter(col("vec_id") =!= 0).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.length) yield {
        val (x, y) = (emb(ids(i)), emb(ids(j)))
        x.indices.map(k => x(k).toDouble * y(k).toDouble).sum
      }
      ps.sum / ps.length
    }
    val topIds = Similarity.simCosineTopk(spark, sfOracle).collect()
      .map(_.getLong(0)).toSeq
    val mmrIds = a.map(_.getLong(1)).toSeq
    assert(meanPairSim(mmrIds) < meanPairSim(topIds),
      s"MMR set must be more diverse: ${meanPairSim(mmrIds)} vs ${meanPairSim(topIds)}")
  }

  test("wav energy: frames partition the clip, rms consistent with decode totals") {
    val rows = Multimodal.multimodalWavEnergy(spark, sfSmoke).collect()
    val perDoc = rows.groupBy(_.getLong(0))
    assert(perDoc.nonEmpty)
    perDoc.foreach { case (id, fs) =>
      assert(fs.map(_.getLong(1)).sorted.sameElements(0L to 3L),
        s"doc $id: expected exactly frames 0..3")
      fs.foreach { r =>
        assert(r.getLong(2) >= 0)
        assert(math.abs(r.getDouble(3) - math.sqrt(r.getLong(2) / 64.0)) < 1e-6,
          "rms must equal sqrt(sum_sq/64) of the decoded frame")
      }
    }
    // PCM ramp amplitude is < 1000, so RMS is bounded by it
    assert(rows.forall(_.getDouble(3) < 1000.0), "|sample| < 1000 bounds rms")
  }

  test("image histogram: bins partition the 64 pixels and match the planted raster") {
    val rows = Multimodal.multimodalImageHistogram(spark, sfSmoke).collect()
    val perDoc = rows.groupBy(_.getLong(0))
    assert(perDoc.nonEmpty)
    perDoc.foreach { case (id, bs) =>
      assert(bs.map(_.getLong(2)).sum == 64, s"doc $id: bins must cover 8x8")
      assert(bs.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 7))
      // recompute from the closed-form raster the decode round-trips
      val expect = (for (y <- 0 until 8; x <- 0 until 8)
        yield ((id * 31 + 7 * x + 13 * y) % 256) / 32)
        .groupBy(identity).map { case (b, v) => b -> v.size.toLong }
      bs.foreach { r =>
        assert(expect(r.getLong(1)) == r.getLong(2),
          s"doc $id bin ${r.getLong(1)}: decoded histogram diverges from plant")
      }
    }
  }

  test("decode png: 8x8 raster, mean_gray equals the planted-formula recompute") {
    val rows = Multimodal.multimodalDecodePng(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 8 && r.getInt(2) == 8, s"doc $id: expected 8x8")
      val sum = (for (y <- 0 until 8; x <- 0 until 8)
        yield (id * 31 + 7 * x + 13 * y) % 256).sum
      assert(r.getDouble(3) == sum / 64.0, s"doc $id: mean_gray diverged")
    }
  }

  test("resize png: corner and mean_ds equal the planted 2x2 box-filter recompute") {
    val rows = Multimodal.multimodalResizePng(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      def px(x: Int, y: Int): Long = (id * 31 + 7 * x + 13 * y) % 256
      val ds = for (v <- 0 until 4; u <- 0 until 4) yield
        (px(2 * u, 2 * v) + px(2 * u + 1, 2 * v) +
          px(2 * u, 2 * v + 1) + px(2 * u + 1, 2 * v + 1)) / 4
      assert(r.getInt(1) == 4 && r.getInt(2) == 4, s"doc $id: expected 4x4")
      assert(r.getDouble(3) == ds.sum / 16.0, s"doc $id: mean_ds diverged")
      assert(r.getLong(4) == ds.head, s"doc $id: corner diverged")
    }
  }

  test("decode wav: 256 samples at 8000 Hz, sum and max equal the planted ramp") {
    val rows = Multimodal.multimodalDecodeWav(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val pcm = (0 until 256).map(i => (id * 7 + 13L * i) % 2000 - 1000)
      assert(r.getLong(1) == 256, s"doc $id: expected 256 samples")
      assert(r.getLong(2) == 8000, s"doc $id: expected 8000 Hz")
      assert(r.getLong(3) == pcm.sum, s"doc $id: sum_samples diverged")
      assert(r.getLong(4) == pcm.max, s"doc $id: max_sample diverged")
    }
  }

  test("framesample png: kept frames 0, 2, 4 carry the 17*f phase") {
    val rows = Multimodal.multimodalFramesamplePng(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val sum = (for (f <- Seq(0, 2, 4); y <- 0 until 8; x <- 0 until 8)
        yield (id * 31 + 7 * x + 13 * y + 17 * f) % 256).sum
      assert(r.getLong(1) == 6 && r.getLong(2) == 3,
        s"doc $id: expected 6 frames, 3 sampled")
      assert(r.getLong(3) == sum, s"doc $id: px_sum diverged")
      assert(math.abs(r.getDouble(4) - sum / 192.0) < 1e-6,
        s"doc $id: px_mean diverged")
    }
  }

  test("dedup_cluster labels are a fixpoint") {
    val labels = Dedup.dedupCluster(spark, sfOracle)
    // fixpoint: every doc's representative is itself a cluster member
    // whose representative is the same value (rep of rep = rep)
    val reps = labels.select(col("cluster_rep").as("doc_id")).distinct()
      .join(labels, "doc_id")
    assert(reps.filter(col("doc_id") =!= col("cluster_rep")).count() == 0,
      "a representative must represent itself")
    // non-trivial clusters exist (sf0.01 plants bag-of-words dups)
    assert(labels.filter(col("doc_id") =!= col("cluster_rep")).count() > 0)
  }

  // Every caller of Checkpoints.scoped, plus the CC iterative path the
  // corpus keys never reach (it needs > CcLocalMaxEdges edges): after one
  // untimed call has built the key's session memos, a second call plus
  // count() may leave at most ONE new persisted RDD, and only one the
  // result itself reads — its own checkpoint. Set difference, not a size
  // delta, so a memo or another spec's cache collected in between cannot
  // hide a leak.
  private val scopeCallers: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
    Seq("graph_pagerank", "graph_bfs_distance", "graph_kcore",
        "graph_modularity", "graph_hits", "graph_connected_components",
        "dedup_cluster", "dedup_minhash_cluster", "dedup_semantic")
      .map(k => k -> (() => SparkEntry.queries(k)(spark, sfOracle))) :+
      ("connectedComponents iterative path" -> { () =>
        import spark.implicits._
        Dedup.connectedComponents((1L to 40L).toDF("id"),
          (1L until 30L).map(i => (i, i + 1)).toDF("a", "b"),
          localMaxEdges = 0)
      })
  scopeCallers.foreach { case (name, run) =>
    test(s"checkpoint scope: $name leaves only its result's checkpoint") {
      run().count()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = run()
      out.count()
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      val read = out.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      assert(added.size <= 1 && added.subsetOf(read),
        s"$name left new persisted RDDs ${added.toSeq.sorted}; " +
        s"the result reads ${read.toSeq.sorted}")
    }
  }

  test("CC two-phase paths agree on a >1024-diameter chain (derived round bound)") {
    import spark.implicits._
    val n = 1300L
    // path graph 1-2-…-1300 plus one isolated node: diameter 1299 needs
    // 11 pointer-jump rounds — the pre-derivation fixed cap of 10
    // (coverage 2^10 = 1024 < 1299) would have returned unconverged
    // labels from the iterative path without any error
    val nodes = ((1L to n) :+ (n + 10L)).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val local = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iter = Dedup.connectedComponents(nodes, edges, localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == iter, "driver union-find and iterative CC must agree")
    assert((1L to n).forall(local(_) == 1L), "chain must collapse to min id")
    assert(local(n + 10L) == n + 10L, "isolated node labels itself")
  }

  test("dedup_exact keepers cover all docs: sum of n_copies = doc count") {
    val total = Dedup.dedupExact(spark, sfOracle)
      .agg(sum("n_copies")).head().getLong(0)
    assert(total == Tables.documents(spark, sfOracle).count())
  }

  test("incremental bloom: novel + confirmed-dup partitions the batch exactly") {
    // The bloom is only a pre-filter: no false negative may lose a true
    // duplicate, and the confirm join must absorb every false positive.
    // Cross-check against the definitionally-exact plain anti-join.
    val docs = Tables.documents(spark, sfOracle)
      .select(col("doc_id"),
        Dedup.bagHash.as("h"))
    val cutoff = docs.agg(max("doc_id")).head().getLong(0) / 2
    val batchN = docs.filter(col("doc_id") > cutoff).count()
    val exactNovel = docs.filter(col("doc_id") > cutoff)
      .join(docs.filter(col("doc_id") <= cutoff).select("h"), Seq("h"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Dedup.dedupIncrementalBloom(spark, sfOracle)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == exactNovel, "bloom-prefiltered result must equal plain anti-join")
    assert(got.size < batchN, "corpus plants cross-half dups; some batch docs must be non-novel")
  }

  test("train/val split: no duplicate cluster straddles the split boundary") {
    val split = graft.operators.Pipeline.trainValSplit(spark, sfOracle)
    // the leakage guard: every cluster maps to exactly one split label
    val leaky = split.groupBy("cluster_rep")
      .agg(countDistinct("split").as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(leaky == 0, "a duplicate cluster must never appear in both splits")
    // both sides populated, val fraction near the 1/16 bucket design
    val n = split.count().toDouble
    val nVal = split.filter(col("split") === "val").count().toDouble
    assert(nVal > 0 && nVal < n, "both splits must be non-empty")
    assert(nVal / n < 0.25, s"val fraction ${nVal / n} should be ~1/16")
    // and clusters with >1 member actually exercised the guard
    val multi = split.groupBy("cluster_rep").count().filter(col("count") > 1).count()
    assert(multi > 0, "corpus must contain multi-member duplicate clusters")
  }

  test("dedup_passage: packed-min keeper set equals window-rank semantics, no Window in plan") {
    val out = Dedup.dedupPassage(spark, sfSmoke)
    // skew-immunity pin: first-occurrence must NOT be a window (a hot
    // boilerplate passage would route every occurrence to one reducer) —
    // the keeper aggregate must be a map-side-combinable HashAggregate
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no window in passage dedup:\n${plan.take(2000)}")
    // independent reference: the same semantics AS a window rank
    val chunked = Tables.documents(spark, sfSmoke)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        ceil(size(col("w")) / 10.0).cast("bigint").as("n_chunks"),
        posexplode(expr(
          """transform(sequence(0, CAST(ceil(size(w) / 10.0) AS INT) - 1),
            |  i -> concat_ws(' ', slice(w, i * 10 + 1, 10)))""".stripMargin))
          .as(Seq("pos", "chunk")))
    val byWindow = chunked
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("chunk")
          .orderBy(col("doc_id"), col("pos"))))
      .filter(col("rn") === 1)
      .groupBy("doc_id", "n_chunks")
      .agg(count(lit(1)).as("n_kept"),
           array_join(expr("transform(array_sort(collect_list(struct(pos, chunk))), x -> x.chunk)"),
                      " ").as("text_clean"))
    val a = out.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val b = byWindow.orderBy("doc_id").collect().map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Long])
    assert(a.toSeq == b.toSeq,
      "packed-min and window-rank forms must agree exactly")
    // every passage survives exactly once corpus-wide
    val keptTotal = out.agg(sum("n_kept")).head().getLong(0)
    assert(keptTotal === chunked.select("chunk").distinct().count())
    // and the corpus genuinely contains cross-document repeated passages
    assert(keptTotal < chunked.count(), "corpus must contain duplicate passages")
  }

  test("embed_quantize_int8: codes bounded, error under the quantization bound") {
    val q = Similarity.embedQuantizeInt8(spark, sfSmoke).collect()
    assert(q.length > 0)
    q.foreach { r =>
      val scale = r.getDouble(1)
      val codes = r.getString(2).split(",").map(_.toInt)
      assert(codes.length == 64)
      assert(codes.forall(c => c >= -127 && c <= 127),
        s"vec ${r.getLong(0)}: codes must fit int8 range")
      // per-dim error ≤ scale/2 ⇒ L2 error ≤ √64 · scale/2 = 4·scale
      assert(r.getDouble(3) <= 4.0 * scale + 1e-9,
        s"vec ${r.getLong(0)}: l2_err ${r.getDouble(3)} exceeds bound ${4.0 * scale}")
    }
    // quantization must actually carry signal: codes hit the ±127 rail
    assert(q.exists(_.getString(2).split(",").map(_.toInt.abs).max == 127),
      "the max-magnitude component must quantize to exactly ±127")
  }

  test("range search: τ-radius set ⊇ every top-k hit at-or-above τ") {
    val range = Similarity.simRangeSearch(spark, sfOracle).collect()
    assert(range.nonEmpty, "τ=0.2 should catch at least one neighbor")
    assert(range.forall(_.getDouble(1) >= 0.2), "radius predicate violated")
    assert(range.map(_.getDouble(1)).sliding(2)
      .forall(p => p.length < 2 || p(0) >= p(1)), "must emit score-descending")
    assert(range.map(_.getLong(0)).distinct.length == range.length)
    // containment vs the brute-force top-k over the same query: any
    // top-k hit scoring ≥ τ must appear in the radius set with the
    // SAME rounded score (both ride the identical native dot product)
    val topk = Similarity.simCosineTopk(spark, sfOracle).collect()
      .filter(_.getDouble(1) >= 0.2)
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val inRange = range.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    topk.foreach { case (id, cos) =>
      assert(inRange.get(id).contains(cos),
        s"top-k hit $id (cos=$cos) missing or rescored in the radius set")
    }
  }

  test("phash: codec-integrity hashes, band blocking equals brute force") {
    val rows = Multimodal.multimodalPhash(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    // codec integrity: the decoded hash must equal the formula hash
    rows.take(20).foreach { r =>
      val id = r.getLong(0)
      val px = Array.tabulate(64)(i => ((id * 31 + 7 * (i % 8) + 13 * (i / 8)) % 256).toInt)
      val mean = px.map(_.toLong).sum.toDouble / 64
      var hi = 0L; var lo = 0L
      for (i <- 0 until 32) {
        if (px(i) > mean) lo |= 1L << i
        if (px(i + 32) > mean) hi |= 1L << i
      }
      assert(r.getLong(1) == hi && r.getLong(2) == lo,
        s"doc $id: decoded hash (${r.getLong(1)},${r.getLong(2)}) != formula ($hi,$lo)")
    }
    // the banded join must find EXACTLY the brute-force ≤3-bit pairs
    // (pigeonhole guarantees recall at t=3 with 4 bands)
    val hashes = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (i <- hashes.indices; j <- (i + 1) until hashes.length) {
      val d = java.lang.Long.bitCount(hashes(i)._2 ^ hashes(j)._2) +
        java.lang.Long.bitCount(hashes(i)._3 ^ hashes(j)._3)
      if (d <= 3) { expect(hashes(i)._1) += 1; expect(hashes(j)._1) += 1 }
    }
    rows.foreach { r =>
      assert(r.getLong(3) == expect(r.getLong(0)),
        s"doc ${r.getLong(0)}: n_near ${r.getLong(3)} != brute ${expect(r.getLong(0))}")
    }
  }

  test("wav resample: witnesses equal the planted-formula recompute") {
    val rows = Multimodal.multimodalWavResample(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.take(25).foreach { r =>
      val id = r.getLong(0)
      def s(i: Int): Double = ((id * 7 + 13L * i) % 2000 - 1000).toDouble
      val out = (0 until 128).map(j => (s(2 * j) + s(2 * j + 1)) / 2.0)
      assert(r.getLong(1) == 128, "2:1 resample of 256 samples must emit 128")
      assert(r.getDouble(2) == out.head, "first output sample diverged")
      assert(r.getDouble(3) == out.max, "peak diverged")
      val rms = math.sqrt(out.map(o => o * o).sum / 128)
      assert(math.abs(r.getDouble(4) - rms) < 1e-6, "rms diverged")
    }
  }

  test("pca: projection identity, captured variance ordered and bounded") {
    val rows = Similarity.embedPcaProject(spark, sfOracle).collect()
    assert(rows.nonEmpty)
    val (trace, lams) = (rows.head.getDouble(3),
      (4 to 7).map(rows.head.getDouble))
    // Rayleigh quotients of an orthonormal basis: positive, (weakly)
    // descending from the deflated iteration, capped by the total variance
    lams.foreach(l => assert(l > 0, s"non-positive captured variance $l"))
    lams.sliding(2).foreach(p =>
      assert(p(0) >= p(1) - 1e-6, s"captured variances out of order: $lams"))
    assert(lams.sum <= trace + 1e-6)
    // avg_recon = trace − Σ lam holds ALGEBRAICALLY for any orthonormal
    // basis — this catches a broken projection pass even if the
    // eigensolve stopped early
    val n = rows.map(_.getLong(1)).sum
    val pooled = rows.map(r => r.getLong(1) * r.getDouble(2)).sum / n
    assert(math.abs(pooled - (trace - lams.sum)) < 1e-4,
      s"projection identity violated: pooled $pooled vs ${trace - lams.sum}")
    rows.foreach(r => assert(r.getDouble(2) >= -1e-9, "negative recon error"))
  }

  test("hybrid search: fusion draws only from the arm lists, rrf consistent with ranks, deterministic") {
    val rows = Similarity.simHybridSearch(spark, sfSmoke).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val rd = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val rs = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(rd.nonEmpty || rs.nonEmpty, "a fused row must come from an arm")
      val expect = rd.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rs.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(5) - expect) <= 1e-6,
        s"rrf ${r.getDouble(5)} != 1/(60+r) recompute $expect")
      rd.foreach(x => assert(x >= 1 && x <= 100))
      rs.foreach(x => assert(x >= 1 && x <= 100))
    }
    // fused scores are emitted in non-increasing order (id asc on ties)
    rows.sliding(2).foreach { p =>
      if (p.length == 2) {
        assert(p(0).getDouble(5) > p(1).getDouble(5) ||
          (p(0).getDouble(5) == p(1).getDouble(5) &&
           p(0).getLong(0) < p(1).getLong(0)))
      }
    }
    val again = Similarity.simHybridSearch(spark, sfSmoke).collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq,
      "hybrid fusion must be deterministic")
  }
}
