package graft

/** The measurement mains' shared kit: the stage ledger read after one
  * exact drain of the listener bus, the key-name check every main runs
  * before it builds a session (and ScaleProbe's size-ratio check), and
  * the one failed-key line. */
class ProbeSpec extends SparkSpecBase {

  test("one drain, no sleep: the ledger holds both stages of a two-stage job") {
    val ledger = new Probe.Ledger(spark)
    val sc = spark.sparkContext
    // the stages take the call site as their name, so the ledger's rows
    // for this job are told apart from any other suite's
    sc.setCallSite("probe kit groupBy")
    try spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k")
      .groupBy("k").count().collect()
    finally sc.clearCallSite()
    // one read, which drains the bus: no sleep
    val mine = ledger.stages.filter(_.name == "probe kit groupBy")
    sc.removeSparkListener(ledger)
    assert(mine.size == 2, s"expected the map and the reduce stage: $mine")
    val Seq(mapStage, reduceStage) = mine.sortBy(_.id)
    assert(mapStage.shuffleWrite > 0, s"the map stage writes the shuffle: $mapStage")
    assert(reduceStage.shuffleRead > 0, s"the reduce stage reads it: $reduceStage")
    assert(ledger.peakExecutionMemory > 0, "the hash aggregate reserves memory")
  }

  test("the key check names every unknown key before a session is needed") {
    val err = intercept[IllegalArgumentException](
      SparkEntry.requireKeys(Seq("agg_groupby", "agg_grupby", "nope"), "PlanAudit"))
    assert(err.getMessage.endsWith("PlanAudit names unknown queries: agg_grupby, nope"),
      err.getMessage)
    SparkEntry.requireKeys(Seq("agg_groupby", "dedup_exact"), "PlanAudit")
  }

  test("ScaleProbe rejects a size ratio its exponents cannot divide by") {
    Seq(1.0, 0.0, -10.0, Double.NaN, Double.PositiveInfinity).foreach { r =>
      val err = intercept[IllegalArgumentException](ScaleProbe.requireRatio(r))
      assert(err.getMessage.endsWith(s"not 1: $r"), err.getMessage)
    }
    Seq(10.0, 0.1).foreach(ScaleProbe.requireRatio)
  }

  test("a failed key's line is its exception class and first message line") {
    assert(SparkEntry.failure(new IllegalStateException("first\nsecond")) ==
      "java.lang.IllegalStateException: first")
    assert(SparkEntry.failure(new RuntimeException) == "java.lang.RuntimeException: ")
  }
}
