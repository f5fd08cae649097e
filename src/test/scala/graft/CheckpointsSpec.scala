package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** `Checkpoints.scoped` frees what its body checkpointed on the paths
  * the kernel specs never take: a body that throws, and an early
  * `drop` of one frame. */
class CheckpointsSpec extends SparkSpecBase {

  private def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd
    }.toSeq

  private def persisted(df: DataFrame): Boolean =
    rddsOf(df).nonEmpty && rddsOf(df).forall(_.getStorageLevel != StorageLevel.NONE)

  test("a body that checkpoints and then throws leaves none of its RDDs persisted") {
    var taken = Seq.empty[DataFrame]
    val err = intercept[IllegalStateException] {
      Checkpoints.scoped { cp =>
        val eager = cp(spark.range(100).toDF("id"))
        val lazily = cp.lazily(eager.selectExpr("id * 2 AS id"))
        taken = Seq(eager, lazily)
        assert(taken.forall(persisted), "checkpoints are persisted inside the body")
        throw new IllegalStateException("kernel failed")
      }
    }
    assert(err.getMessage == "kernel failed")
    assert(taken.size == 2)
    val ids = taken.flatMap(rddsOf).map(_.id).toSet
    assert(taken.flatMap(rddsOf).forall(_.getStorageLevel == StorageLevel.NONE))
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(ids).isEmpty)
  }

  test("drop frees only that frame's blocks; the returned frame's survive the scope") {
    var dropped: DataFrame = null
    var other: DataFrame = null
    val out = Checkpoints.scoped { cp =>
      dropped = cp(spark.range(100).toDF("id"))
      other = cp(spark.range(50).toDF("id"))
      val kept = cp(other.selectExpr("id + 1 AS id"))
      cp.drop(dropped)
      assert(!persisted(dropped), "the dropped frame is freed at once")
      assert(persisted(other) && persisted(kept), "drop touches no other frame")
      kept
    }
    assert(!persisted(other), "the scope frees what the result does not read")
    assert(persisted(out), "the returned frame's checkpoint survives")
    assert(out.count() == 50)
    rddsOf(out).foreach(_.unpersist(false))
  }
}
