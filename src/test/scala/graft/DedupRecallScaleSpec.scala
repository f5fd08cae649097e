package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-scale planted-pair recall floors for the near-dup dedup family
  * (r12 verdict ask #2): MinHash banding, SimHash banding, and SemDeDup
  * have the same silent-decay failure mode the r11/r12 ANN probes
  * caught in IVF/PQ — recall is the one property that can fall with
  * corpus GROWTH while every determinism gate stays green, because the
  * candidate structures crowd fixed knobs (the LSH stop-bucket cap, the
  * SimHash band-bucket cap, the √n k-means cells) as n grows.
  *
  * Method: plant K recoverable near-duplicates into the REAL corpus at
  * two collection sizes (sf0.01: 500 docs/vectors; sf0.1: 5 000 docs /
  * 2 000 vectors) with an identical construction, run the operator's
  * injectable core on base ∪ planted, and assert the fraction of
  * planted pairs recovered. The construction is scale-invariant — each
  * copy differs from its base by the same RELATIVE perturbation — so a
  * falling recall isolates knob decay, not fixture drift.
  *
  *  - MinHash: copy = base word set with ~4 % of words swapped for
  *    fresh tokens → J = (n−k)/(n+k) ≈ 0.92; 4 bands × 4 rows gives a
  *    per-pair collision probability ≈ 0.99, so sub-floor recall means
  *    pairs are being DROPPED (bucket crowding at MaxBucket), not
  *    missed by the hash family.
  *  - SimHash: copy = one word swapped; a 1-word delta flips only
  *    low-margin bits, landing within the Hamming ≤ 3 acceptance with
  *    high probability (floor set from measurement, see each test).
  *  - SemDeDup: copy = base vector with one coordinate nudged 0.02
  *    (dot ≈ 0.999 ≫ the 0.4 threshold); a miss means the copy landed
  *    in a DIFFERENT k-means cell than its base — exactly the √n-cells
  *    decay mode.
  *
  * The larger size is overridable so the same floors can be asserted
  * against the synthetic 10× corpus (50 000 docs / 20 000 vectors)
  * that tools/scale_probe.sh leaves in scratch:
  *   GRAFT_DEDUP_SF_DIR=/tmp/graft_scale_sf0.1_x10 sbt \
  *     "testOnly graft.DedupRecallScaleSpec"
  * Measured recalls are in each test's info() line and PROGRESS.jsonl.
  */
class DedupRecallScaleSpec extends SparkSpecBase {

  private val sfBench =
    sys.env.getOrElse("GRAFT_DEDUP_SF_DIR", "/root/testdata/sf0.1")

  private val K = 40

  /** K base docs (deterministic: lowest doc_ids with ≥ 24 distinct
    * words) + their perturbed copies appended past maxId. Returns the
    * planted corpus (doc_id, source, text) and the (base, copy) pairs. */
  private def plantDocs(sf: String): (DataFrame, Seq[(Long, Long)]) = {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val bases = docs
      .filter(size(array_distinct(split(col("text"), " "))) >= 24)
      .orderBy("doc_id").limit(K)
      .select(col("doc_id"), col("source"), col("text"))
      .collect()
    require(bases.length == K, s"corpus at $sf has < $K docs with ≥24 words")
    val planted = bases.zipWithIndex.map { case (r, i) =>
      val words = r.getString(2).split(" ").distinct.toSeq
      val k = math.max(1, math.round(words.size * 0.04).toInt)
      // swap the k lexicographically-smallest words for fresh tokens:
      // deterministic, and fresh tokens can never re-collide
      val dropped = words.sorted.take(k).toSet
      val copyWords = words.filterNot(dropped) ++
        (0 until k).map(j => s"plantedq${i}x$j")
      (maxId + 1 + i.toLong, r.getString(1), copyWords.mkString(" "))
    }
    val pairs = bases.zipWithIndex.map { case (r, i) =>
      (r.getLong(0), maxId + 1 + i.toLong)
    }.toSeq
    (docs.unionAll(planted.toSeq.toDF("doc_id", "source", "text")), pairs)
  }

  private def recallOfPairs(found: Set[(Long, Long)],
                            planted: Seq[(Long, Long)]): Double =
    planted.count { case (a, b) => found((a, b)) || found((b, a)) }
      .toDouble / planted.size

  private def minhashRecallAt(sf: String): Double = {
    val (docs, pairs) = plantDocs(sf)
    val found = Dedup.minhashPairs(
        docs.select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("ws")))
      .select(col("id1"), col("id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    recallOfPairs(found, pairs)
  }

  /** SimHash recall at two perturbation strengths. exact = copies with
    * the IDENTICAL word set (signature-equal, Hamming 0): any miss is a
    * candidate-structure loss — band-bucket crowding against
    * SimhashMaxBucket — which is precisely the decay mode this spec
    * exists to catch. soft = the 4 %-word-swap copies: on ~26-word docs
    * a 1-word delta routinely flips more than the Hamming-3 acceptance
    * (vote margins are ~√n and the docs are short), so this number is
    * LOW BY DESIGN — an intrinsic resolution property of 48-bit SimHash
    * on short docs, not a defect — and is asserted only as a loose
    * regression canary. */
  private def simhashRecallAt(sf: String): (Double, Double) = {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val bases = docs
      .filter(size(array_distinct(split(col("text"), " "))) >= 24)
      .orderBy("doc_id").limit(K).collect()
    // exact copies: same word set, reversed order (same source — the
    // operator blocks on it)
    val exactCopies = bases.zipWithIndex.map { case (r, i) =>
      (maxId + 1 + i.toLong, r.getString(1),
       r.getString(2).split(" ").distinct.reverse.mkString(" "))
    }
    val exactPairs = bases.zipWithIndex.map { case (r, i) =>
      (r.getLong(0), maxId + 1 + i.toLong)
    }.toSeq
    val exactFound = Dedup.simhashPairsOf(
        docs.unionAll(exactCopies.toSeq.toDF("doc_id", "source", "text")))
      .select(col("id1"), col("id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (softDocs, softPairs) = plantDocs(sf)
    val softFound = Dedup.simhashPairsOf(softDocs)
      .select(col("id1"), col("id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (recallOfPairs(exactFound, exactPairs),
     recallOfPairs(softFound, softPairs))
  }

  private def semdedupRecallAt(sf: String): Double = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val bases = e.orderBy("vec_id").limit(K).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val planted = bases.zipWithIndex.map { case ((_, v), i) =>
      val c = v.clone(); c(i % c.length) = c(i % c.length) + 0.02f
      (maxId + 1 + i.toLong, c.toSeq)
    }.toSeq
    val pairs = bases.zipWithIndex.map { case ((id, _), i) =>
      (id, maxId + 1 + i.toLong)
    }.toSeq
    val union = e.unionAll(planted.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")))
    val reps = Similarity.semDedup(union,
        Similarity.trainCodebook(union))
      .select(col("vec_id"), col("rep_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.count { case (a, b) => reps(a) == reps(b) }.toDouble / pairs.size
  }

  test("band count decouples from rows-per-band and holds the design point") {
    // r13 tied b = r, and 32×32's catch probability at J = 0.9 was only
    // 0.66 — the measured 0.95 → 0.85 recall slide from 5k to 50k docs.
    // bandsFor picks the smallest b with 1−(1−0.9^r)^b ≥ 0.95 (floored
    // at r so no historical layout loses bands).
    assert(Dedup.bandsFor(4) === 4)
    assert(Dedup.bandsFor(8) === 8)
    assert(Dedup.bandsFor(16) === 16)
    assert(Dedup.bandsFor(24) === 37)
    assert(Dedup.bandsFor(32) === 86)
    for (r <- Seq(4, 8, 16, 24, 32)) {
      val b = Dedup.bandsFor(r)
      val catchP = 1 - math.pow(1 - math.pow(0.9, r), b)
      assert(catchP >= 0.95, s"catch probability $catchP at r=$r, b=$b")
      assert(b * r <= 4096, s"signature length ${b * r} exceeds the " +
        "graft_minhash16 component bound")
    }
  }

  test("minhash planted-pair recall holds 0.85/0.9 at BOTH collection sizes") {
    val r1 = minhashRecallAt(sfOracle)
    val r2 = minhashRecallAt(sfBench)
    info(s"minhash recall: sf0.01 = $r1, bench($sfBench) = $r2")
    assert(r1 >= 0.85, s"minhash recall $r1 under 0.85 at 500 docs")
    // 0.9 at the larger sizes since the r14 band decoupling (bandsFor):
    // measured 0.95 at 5k and 50k docs, 0.85 before it at 50k — the
    // probed-layout sizes are exactly where the floor must not slide
    assert(r2 >= 0.9, s"minhash recall $r2 under 0.9 at the larger corpus " +
      "— banding pairs are being dropped (stop-bucket crowding?)")
  }

  test("simhash identical-copy recall holds 0.95 at BOTH collection sizes") {
    val (e1, s1) = simhashRecallAt(sfOracle)
    val (e2, s2) = simhashRecallAt(sfBench)
    info(s"simhash exact-copy recall: sf0.01 = $e1, bench($sfBench) = $e2")
    info(s"simhash 1-word-swap recall (resolution canary): sf0.01 = $s1, " +
      s"bench($sfBench) = $s2")
    assert(e1 >= 0.95, s"simhash exact-copy recall $e1 under 0.95 at 500 " +
      "docs — Hamming-0 pairs are being dropped (band-bucket crowding?)")
    assert(e2 >= 0.95, s"simhash exact-copy recall $e2 under 0.95 at the " +
      "larger corpus — band buckets crossing SimhashMaxBucket")
    // Resolution canary, asserted per the r14 verdict ask #6: 1-word
    // swaps are BELOW 48-bit SimHash's resolution on short docs (a
    // documented non-goal — dedupSimhash's scaladoc routes that class
    // to the MinHash family), but the floor catches silent signature
    // decay: measured 0.275 across rounds, a collapse toward 0 means
    // the signature broke, not just resolution.
    assert(s1 >= 0.2 && s2 >= 0.2,
      s"1-word-swap recall ($s1, $s2) collapsed below the 0.2 canary " +
        "floor — the SimHash signature itself regressed (resolution on " +
        "short docs is a non-goal, but it was 0.275 when pinned)")
  }

  test("semdedup planted-duplicate recall holds 0.85 at BOTH collection sizes") {
    val r1 = semdedupRecallAt(sfOracle)
    val r2 = semdedupRecallAt(sfBench)
    info(s"semdedup recall: sf0.01 = $r1, bench($sfBench) = $r2")
    assert(r1 >= 0.85, s"semdedup recall $r1 under 0.85 at 500 vectors")
    assert(r2 >= 0.85, s"semdedup recall $r2 under 0.85 at the larger " +
      "collection — planted copies landing outside their base's k-means cell")
  }
}
