package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based algebraic laws (SURVEY.md §5.2) over scalacheck-
  * generated inputs. The scalatest-scalacheck bridge isn't on the
  * offline classpath, so generators are driven directly with fixed
  * seeds — deterministic across runs, 5 samples per law (each law costs
  * several Spark jobs). */
class PropertiesSpec extends SparkSpecBase {

  private def forSamples[A](gen: Gen[A], n: Int = 5)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      f(gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"generator failed for seed $i")))
    }

  private def forSamples2[A](gen: Gen[A])(f: (A, A) => Unit): Unit =
    (1 to 5).foreach { i =>
      val a = gen.apply(Gen.Parameters.default, Seed(i.toLong * 2)).get
      val b = gen.apply(Gen.Parameters.default, Seed(i.toLong * 2 + 1)).get
      f(a, b)
    }

  private val rowsGen: Gen[List[(Long, String)]] = Gen.listOfN(60,
    Gen.zip(Gen.choose(0L, 9L), Gen.oneOf("a", "b", "c", "d")))

  test("semi ⊆ inner keys; anti = left ∖ semi (generated relations)") {
    forSamples2(rowsGen) { (l, r) =>
      import spark.implicits._
      val left = l.toDF("k", "v")
      val right = r.toDF("k", "w")
      val semi = left.join(right, Seq("k"), "left_semi")
      val anti = left.join(right, Seq("k"), "left_anti")
      val innerKeys = left.join(right, Seq("k")).select("k", "v").distinct()
      assert(semi.exceptAll(semi.intersectAll(left)).isEmpty)
      assert(semi.count() + anti.count() == left.count())
      assert(semi.select("k").distinct().exceptAll(innerKeys.select("k").distinct()).isEmpty)
    }
  }

  test("union distinct == distinct(union all) (generated)") {
    forSamples2(rowsGen) { (l, r) =>
      import spark.implicits._
      val a = l.toDF("k", "v")
      val b = r.toDF("k", "v")
      val viaAll = a.unionByName(b).distinct()
      val viaSet = a.union(b).distinct()
      assert(viaAll.exceptAll(viaSet).isEmpty && viaSet.exceptAll(viaAll).isEmpty)
    }
  }

  test("rollup row count = Σ per-prefix distinct groupings + 1 (generated)") {
    forSamples(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("k", "v")
      val n2 = df.select("k", "v").distinct().count()
      val n1 = df.select("k").distinct().count()
      val got = df.rollup("k", "v").agg(count(lit(1))).count()
      assert(got == n2 + n1 + 1)
    }
  }

  test("running sum over any ordering ends at the group total (generated)") {
    forSamples(rowsGen) { rows =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (k, v, i.toLong) }.toDF("k", "v", "ord")
      val w = Window.partitionBy("k").orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last = df.withColumn("rs", sum(lit(1)).over(w))
        .groupBy("k").agg(max("rs").as("last_rs"), count(lit(1)).as("n"))
      assert(last.filter(col("last_rs") =!= col("n")).count() == 0)
    }
  }

  test("minhash estimate tracks exact Jaccard on generated word sets") {
    val wordsGen = Gen.chooseNum(0, 39).map(i => s"w$i")
    val setGen = Gen.listOfN(25, wordsGen).map(_.distinct)
    forSamples2(setGen) { (s1, s2) =>
      if (s1.nonEmpty && s2.nonEmpty) {
        import spark.implicits._
        val docs = Seq((1L, s1), (2L, s2)).toDF("doc_id", "ws")
        val est = Dedup.minhashPairs(docs).collect()
          .headOption.map(_.getDouble(2))
        val inter = s1.toSet.intersect(s2.toSet).size.toDouble
        val exact = inter / (s1.toSet ++ s2.toSet).size
        est.foreach(e => assert(math.abs(e - exact) <= 0.45,
          s"est $e vs exact $exact"))
        // high-similarity pairs must be found by LSH (P(miss) = (1-J^4)^4)
        if (exact >= 0.95) assert(est.isDefined, s"J=$exact pair missed")
      }
    }
  }

  test("graft_shingles ≡ HOF chain on generated word arrays (incl. empties)") {
    graft.functions.GraftExtensions.register(spark)
    // words include empty strings and 1-char tokens — the concat_ws edge
    // space the corpus never exercises
    val wordsGen: Gen[List[String]] = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "bb", "", "ccc", "d e", "ff")))
    forSamples(wordsGen, n = 8) { ws =>
      import spark.implicits._
      val df = Seq(Tuple1(ws)).toDF("w")
      for (width <- Seq(1, 2, 5)) {
        val native = df.select(expr(s"graft_shingles(w, $width)")).head()
          .getSeq[Long](0)
        if (ws.length < width) {
          // the HOF chain CRASHES here (sequence(1, n) runs descending
          // through 0 and slice rejects start 0) — the native form's
          // empty-array contract is the robustness win, not just speed
          assert(native.isEmpty, s"width $width over $ws must be empty")
        } else {
          val hof = df.select(expr(
            s"""transform(sequence(1, size(w) - $width + 1),
               |  i -> xxhash64(concat_ws(' ', slice(w, i, $width))))"""
              .stripMargin)).head().getSeq[Long](0)
          assert(native == hof,
            s"width $width over $ws: native $native vs hof $hof")
        }
      }
    }
  }

  test("valueBucket is monotone over generated doubles (the prefix-decomposition load-bearing law)") {
    // statsKsTest / statsMannWhitney / aggWeightedMedian decompose a
    // global running sum into per-bucket prefixes + bucket offsets;
    // that equals the global order IFF ordering by (bucket, value)
    // equals ordering by value, i.e. the bucket key is monotone —
    // including across sign changes, zeros, and magnitude jumps.
    import spark.implicits._
    val doubles = Gen.listOfN(40, Gen.oneOf(
      Gen.choose(-1e6, 1e6), Gen.choose(-1.0, 1.0),
      Gen.oneOf(0.0, -0.0, 1e-9, -1e-9, 1e8, -1e8)))
    forSamples(doubles) { vs =>
      val sorted = vs.sorted
      val buckets = sorted.toDF("v")
        .select(graft.operators.Stats.valueBucket(col("v")).as("b"))
        .collect().map(r => r.getLong(0))
      sorted.zip(buckets).sliding(2).foreach {
        case Seq((v1, b1), (v2, b2)) =>
          assert(b1 <= b2, s"bucket not monotone: $v1→$b1 but $v2→$b2")
        case _ => ()
      }
    }
  }

  test("in-plan chunk column equals the scalar gridChunksFor twin across the knob range") {
    // simKnnJoin/dedupEmbedCosine/dedupContainment derive their grid
    // chunk count as a COLUMN from a broadcast stats scalar; a silent
    // divergence from the scalar formula would re-key the grid and drop
    // pairs. Evaluate the production column on planted max_block values
    // and pin it to the documented scalar.
    import spark.implicits._
    val blocks = Seq(0L, 1L, 100L, 4095L, 4096L, 4097L, 4096L * 100,
      4096L * 100 + 1, 1L << 30, Long.MaxValue / 2)
    val got = blocks.toDF("max_block")
      .select(col("max_block"),
        graft.operators.Similarity.chunksCol.as("chunks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    blocks.foreach { b =>
      assert(got(b) == graft.operators.Similarity.gridChunksFor(b).toLong,
        s"column chunks ${got(b)} != scalar for max_block=$b")
    }
  }
}
