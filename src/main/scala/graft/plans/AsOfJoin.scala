package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** A NATIVE as-of join — the whole-operator Catalyst extension tier:
  * when composing built-ins can't express an operator's physical
  * shape, Spark's sanctioned path is a custom `LogicalPlan` node, a
  * `Rule[LogicalPlan]` that plants it, a `SparkStrategy` that plans
  * it, and a `SparkPlan` that executes it. This file is that full
  * stack for `ASOF JOIN` (the union-and-window formulation in
  * AdvancedJoins.joinAsof stays the composed-ops baseline; this is
  * the engine-grade equivalent with ONE fewer data pass: no union
  * materialization, no null-carrier columns — a sorted per-partition
  * merge directly on the two inputs).
  *
  * Flow: `graft_asof_marker(lk, rk, lt, rt)` (an Unevaluable boolean
  * carrier, registered like every graft SQL function) rides an inner
  * join's condition through analysis; `AsOfJoinRule` (injected via
  * `experimental.extraOptimizations` / `GraftExtensions`) rewrites
  * that join into the custom `AsOfJoinPlan` node; `AsOfJoinStrategy`
  * (via `experimental.extraStrategies`) plans it as `AsOfJoinExec`.
  *
  * Scale shape: the exec declares ClusteredDistribution on the keys
  * and (key, time) sort order for both children, so EnsureRequirements
  * provisions exactly the SortMergeJoin layout — one hash shuffle per
  * side, in-partition sort, then a streaming merge whose state is ONE
  * held row per key (never a buffered time range). AQE coalesces the
  * two shuffles as one group, the same guarantee SortMergeJoinExec
  * relies on; `zipPartitions` asserts the co-partitioning.
  */
object AsOfJoin {
  /** Register marker function (with the rest of
    * `GraftExtensions.functions`) + optimizer rule + strategy on a live
    * session (the harness builds sessions without extension configs,
    * so operators self-register). Idempotent. */
  def ensureRegistered(s: SparkSession): Unit = synchronized {
    graft.functions.GraftExtensions.register(s)
    if (!s.experimental.extraOptimizations.contains(AsOfJoinRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ AsOfJoinRule
    if (!s.experimental.extraStrategies.contains(AsOfJoinStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}

/** Boolean carrier for as-of semantics inside a join condition. Never
  * evaluated: `AsOfJoinRule` must rewrite the enclosing join before
  * planning (Unevaluable fails loudly at codegen if registration was
  * skipped). References both sides, so no pushdown rule can split it
  * off the join. */
case class AsOfCondition(leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression)
    extends Expression with Unevaluable {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def children: Seq[Expression] =
    Seq(leftKey, rightKey, leftTime, rightTime)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AsOfCondition =
    AsOfCondition(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}

/** Logical as-of join: left rows each pick the LATEST right row with
  * the same key and rightTime ≤ leftTime (backward as-of, left-outer
  * row multiplicity: every left row appears exactly once). */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Rewrites `Join(Inner, cond)` whose condition CONTAINS the
  * AsOfCondition marker — bare, or as one conjunct of an And (earlier
  * optimizer rules like PushPredicateThroughJoin may fold a residual
  * predicate into the join condition; matching only the bare marker
  * would let the Unevaluable reach codegen). The marker becomes the
  * custom logical node. Residual conjuncts are routed by which side
  * they reference — the routing IS the documented semantics:
  *
  *  - RIGHT-only conjuncts → a Filter on the RIGHT CHILD, i.e.
  *    pre-match: the as-of picks the latest right row that SATISFIES
  *    the predicate — the semantics every ASOF-join implementation
  *    gives ON predicates. (Optimizer pushdown never leaves a
  *    single-side conjunct in an inner join's condition — it pushes it
  *    into the child — so a right-only conjunct reaching this rule was
  *    written in the ON clause and means pre-match.)
  *  - LEFT-only conjuncts → a Filter on the LEFT CHILD. Equivalent to
  *    filtering above (each left row appears exactly once and its
  *    match is independent of other left rows), and cheaper: rows drop
  *    before the shuffle.
  *  - BOTH-side conjuncts → a Filter ABOVE the as-of join. These can
  *    only arrive here as optimizer-pushed post-join predicates
  *    (single-side predicates are pushed into children, two-side ones
  *    parked in the condition), so "above" restores their original,
  *    post-match position. A USER-written two-side ON conjunct cannot
  *    be distinguished from a pushed filter and would get post-match
  *    semantics — callers needing a two-side pre-match predicate must
  *    apply it to the inputs, not the ON clause.
  *
  * Nullability: AsOfJoinPlan widens right-side output to nullable
  * (as-of is left-outer-shaped). A non-nullable right schema (typed
  * Datasets, `Seq(...).toDF` with primitive fields) is rewrapped via a
  * Project of `KnownNullable` aliases that KEEP the original exprIds,
  * so parents resolved against the carrier join bind to attributes of
  * consistent identity but honest nullability — instead of refusing
  * the plan outright. */
object AsOfJoinRule extends Rule[LogicalPlan] {
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Join(l, r, Inner, Some(cond), _)
        if conjuncts(cond).exists(_.isInstanceOf[AsOfCondition]) =>
      val (markers, residual) =
        conjuncts(cond).partition(_.isInstanceOf[AsOfCondition])
      require(markers.length == 1,
        "exactly one graft_asof_marker per join condition")
      val m = markers.head.asInstanceOf[AsOfCondition]
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
      val (rightOnly, rest) =
        residual.partition(_.references.subsetOf(r.outputSet))
      val (leftOnly, bothSides) =
        rest.partition(_.references.subsetOf(l.outputSet))
      val lf = leftOnly.reduceOption(And).map(Filter(_, l)).getOrElse(l)
      val rf = rightOnly.reduceOption(And).map(Filter(_, r)).getOrElse(r)
      val rNullable =
        if (rf.output.forall(_.nullable)) rf
        else Project(rf.output.map { a =>
          if (a.nullable) a
          else Alias(KnownNullable(a), a.name)(
            exprId = a.exprId, qualifier = a.qualifier)
        }, rf)
      val asof = AsOfJoinPlan(lf, rNullable,
        m.leftKey, m.rightKey, m.leftTime, m.rightTime)
      bothSides.reduceOption(And).map(Filter(_, asof)).getOrElse(asof)
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: SortMergeJoin's layout (hash-clustered on the
  * key, sorted by (key, time) within partitions), then a single-pass
  * merge holding one right row per key. Null keys/times must be
  * filtered upstream (the operator wrapper does) — as-of over a null
  * instant is meaningless and null-ordering would be engine-arbitrary.
  */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val nRight = right.output.size
    val leftOut = left.output
    val rightOut = right.output
    val lKeyE = leftKey; val rKeyE = rightKey
    val lTimeE = leftTime; val rTimeE = rightTime
    val allOut = output
    val lRdd = left.execute(); val rRdd = right.execute()
    require(lRdd.getNumPartitions == rRdd.getNumPartitions,
      s"as-of children must be co-partitioned " +
        s"(${lRdd.getNumPartitions} vs ${rRdd.getNumPartitions})")
    lRdd.zipPartitions(rRdd) { (lIt, rIt) =>
      val lk = BindReferences.bindReference(lKeyE, leftOut)
      val lt = BindReferences.bindReference(lTimeE, leftOut)
      val rk = BindReferences.bindReference(rKeyE, rightOut)
      val rt = BindReferences.bindReference(rTimeE, rightOut)
      val resultProj = UnsafeProjection.create(allOut, allOut)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val rBuf = rIt.buffered
      // one held (key, row) — the latest right row at or before the
      // current left instant; sort order makes later ties win, matching
      // the window formulation's last()
      var heldKey: Any = null
      var heldRow: InternalRow = null
      lIt.map { l =>
        val lkv = lk.eval(l)
        val ltv = lt.eval(l)
        var advance = true
        while (advance && rBuf.hasNext) {
          val rkv = rk.eval(rBuf.head)
          val c = keyOrd.compare(rkv.asInstanceOf[AnyRef],
            lkv.asInstanceOf[AnyRef])
          if (c < 0 || (c == 0 &&
              timeOrd.compare(rt.eval(rBuf.head).asInstanceOf[AnyRef],
                ltv.asInstanceOf[AnyRef]) <= 0)) {
            val r = rBuf.next()
            if (c == 0) {
              heldKey = InternalRow.copyValue(rkv)
              heldRow = r.copy()
            }
          } else advance = false
        }
        val matched = heldRow != null &&
          keyOrd.compare(heldKey.asInstanceOf[AnyRef],
            lkv.asInstanceOf[AnyRef]) == 0
        resultProj(joined(l, if (matched) heldRow else nullRight))
      }
    }
  }
}
