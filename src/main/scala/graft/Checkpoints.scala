package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage cuts for the iterative kernels (pagerank, BFS, k-core,
  * modularity, HITS, connected components, codebook training), which
  * run on one long-lived session for the whole key board: every
  * checkpoint a kernel takes must be released when the kernel is done,
  * or its blocks stay pinned for the rest of the board. */
object Checkpoints {

  /** The checkpoints one kernel invocation took. Each is recorded as the
    * exact RDD behind the checkpointed frame's `LogicalRDD` leaf — never
    * a diff of the session-wide persisted-RDD registry, which would also
    * sweep caches a concurrent query on the shared session created in
    * the meantime. */
  final class Scope private[Checkpoints] () {
    private val tracked = scala.collection.mutable.LinkedHashMap[Int, RDD[_]]()

    /** Eager localCheckpoint: materializes now, in its own job. */
    def apply(df: DataFrame): DataFrame = track(df.localCheckpoint(true))

    /** Lazy localCheckpoint: truncates the plan to a `LogicalRDD` leaf at
      * once (bounding the logical tree of self-referencing iterative
      * plans) but materializes inside whichever action first reads it,
      * shared by object identity across every reference. Its blocks are
      * registered immediately, so it is tracked before any job runs. */
    def lazily(df: DataFrame): DataFrame = track(df.localCheckpoint(false))

    /** Frees this scope's checkpoints behind `df` now, before the scope
      * ends; frames the scope did not create are left alone. */
    def drop(df: DataFrame): Unit =
      rdds(df).flatMap(r => tracked.remove(r.id)).foreach(_.unpersist(false))

    private def track(c: DataFrame): DataFrame = {
      rdds(c).foreach(r => tracked(r.id) = r)
      c
    }

    private[Checkpoints] def releaseAllExcept(keep: Set[Int]): Unit =
      tracked.foreach { case (id, r) => if (!keep(id)) r.unpersist(false) }
  }

  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd
    }.toSeq

  /** Runs one kernel invocation with a fresh [[Scope]]. On return, every
    * checkpoint the body took is freed except those the returned frame
    * reads; if the body throws, all of them are freed. The body must not
    * `return` from an enclosing method: a non-local return is thrown
    * through here and would count as a failure. */
  def scoped(body: Scope => DataFrame): DataFrame = {
    val cp = new Scope
    val out =
      try body(cp)
      catch { case t: Throwable => cp.releaseAllExcept(Set.empty); throw t }
    cp.releaseAllExcept(rdds(out).map(_.id).toSet)
    out
  }

  /** Collects a small frame (bounded by construction at the call site)
    * into a local relation: later plans read the rows instead of
    * re-running the frame's lineage, and nothing stays persisted. */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
}
