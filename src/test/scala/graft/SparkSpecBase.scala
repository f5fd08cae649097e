package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark's
  * getOrCreate makes this safe across suites and saves ~8 s per suite). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfSmoke = "/root/testdata/sf0.001"
  val sfOracle = "/root/testdata/sf0.01"
}

object SparkSpecBase {
  // fixed at 4 cores so partition-count-sensitive assertions do not
  // vary with the host the suite runs on
  lazy val session: SparkSession = GraftSession.local(4)
}
