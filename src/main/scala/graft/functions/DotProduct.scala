package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.SparkSessionExtensions
import graft.plans.{AsOfCondition, AsOfJoinRule, AsOfJoinStrategy}

/** Native Catalyst expression: dot product of two float arrays as a
  * double, with whole-stage codegen (SURVEY.md §2.11 expr_custom_catalyst;
  * §4.3 "fuse cosine into one codegen'd expression").
  *
  * Why: the declarative formulation `aggregate(zip_with(a, b, (x,y) ->
  * double(x)*y), 0D, (acc,v) -> acc+v)` is semantically identical but
  * higher-order lambdas are interpreted — per element Spark allocates and
  * boxes through the lambda variables. This expression compiles to a
  * tight primitive loop inside WholeStageCodegen. Summation order is the
  * same left-to-right IEEE double fold, so results are bit-identical to
  * the HOF version (and to the DuckDB oracle's list_sum/list_transform).
  *
  * Semantics: null if either array is null; element nulls are not
  * expected (embeddings are dense) and read as 0-adjacent garbage would
  * be wrong, so element nulls poison the result to null like zip_with;
  * length mismatch uses the shorter prefix.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getFloat(i).toDouble * y.getFloat(i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $sum += ((double) $a.getFloat($i)) * $b.getFloat($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** The idiomatic hook for deployments that control session construction:
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Injects every
  * function in [[GraftExtensions.functions]] plus the native as-of join's
  * Join→AsOfJoinPlan optimizer rewrite and AsOfJoinPlan→AsOfJoinExec
  * strategy (plans/AsOfJoin.scala). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => AsOfJoinRule)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** The one list of graft's native SQL functions, one entry each: SQL
    * name, accepted arities, builder. The extension injects it and
    * [[register]] registers it, so the two cannot drift. Literal
    * arguments go through [[intLiteral]]; range checks stay with each
    * expression's `checkInputDataTypes` or its entry. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq(
      fn("graft_dot", 2) { case Seq(l, r) => DotProduct(l, r) },
      fn("graft_dot_i8", 2) { case Seq(l, r) => DotProductI8(l, r) },
      fn("graft_simhash48", 1) { case Seq(hs) => SimHash48(hs) },
      fn("graft_minhash16", 1, 2) {
        case Seq(ws) => MinHashSig16(ws)
        case Seq(ws, n) => MinHashSig16(ws, intLiteral("graft_minhash16", "n", n))
      },
      fn("graft_sorted_intersect_size", 2) {
        case Seq(l, r) => SortedIntersectSize(l, r)
      },
      fn("graft_bpe_count", 1) { case Seq(t) => BpeTokenCount(t) },
      fn("graft_bpe_tokens", 1) { case Seq(t) => BpeTokenize(t) },
      fn("graft_lsh_buckets", 3) { case Seq(emb, t, p) =>
        LshBuckets(emb, intLiteral("graft_lsh_buckets", "nTables", t),
          intLiteral("graft_lsh_buckets", "nPlanes", p))
      },
      fn("graft_shingles", 2) { case Seq(ws, n) =>
        ShingleHash64(ws, intLiteral("graft_shingles", "n", n))
      },
      fn("graft_nfc", 1) { case Seq(str) => NfcNormalize(str) },
      fn("graft_unaccent", 1) { case Seq(str) => StripAccents(str) },
      fn("graft_topk", 3) { case Seq(item, mArg, kArg) =>
        val m = intLiteral("graft_topk", "m", mArg)
        val k = intLiteral("graft_topk", "k", kArg)
        if (!(m > 0 && k > 0 && k <= m)) throw new IllegalArgumentException(
          s"graft_topk needs 0 < k <= m, got m=$m, k=$k")
        MisraGriesTopK(item, m, k)
      },
      fn("graft_tdigest", 2) { case Seq(v, dArg) =>
        val d = intLiteral("graft_tdigest", "delta", dArg)
        if (d < 10) throw new IllegalArgumentException(
          s"graft_tdigest needs delta >= 10, got delta=$d")
        TDigestQuantiles(v, d)
      },
      // the as-of marker condition; it needs the rule and strategy too,
      // which the extension injects and `register` appends
      fn("graft_asof_marker", 4) {
        case Seq(lk, rk, lt, rt) => AsOfCondition(lk, rk, lt, rt)
      })

  /** One registry entry. The builder checks the arity before building;
    * the ExpressionInfo names the class `build` returns (what `DESCRIBE
    * FUNCTION` shows), taken from its type, never from an instance. */
  private def fn[E <: Expression: ClassTag](name: String, arities: Int*)(
      build: Seq[Expression] => E)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) = {
    val builder: FunctionBuilder = args => {
      if (!arities.contains(args.length)) throw new IllegalArgumentException(
        s"$name takes ${arities.mkString(" or ")} argument(s), got ${args.length}")
      build(args)
    }
    (new FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name), builder)
  }

  /** A literal argument that shapes the expression (a signature length,
    * a table count, a sketch size): foldable, int or bigint, non-null,
    * and within Int range. */
  private def intLiteral(name: String, what: String, e: Expression): Int = {
    val v =
      if (e.foldable && (e.dataType == IntegerType || e.dataType == LongType)) e.eval()
      else null
    v match {
      case n: Int => n
      case n: Long if n.isValidInt => n.toInt
      case _ => throw new IllegalArgumentException(
        s"$name $what must be an integer literal, got ${e.sql}")
    }
  }

  /** Install graft's whole native tier on a live session: every entry
    * of [[functions]], then `AsOfJoinRule` on
    * `experimental.extraOptimizations` and `AsOfJoinStrategy` on
    * `experimental.extraStrategies`, each appended only if absent. The
    * live twin of the extension, for sessions built without
    * `spark.sql.extensions`. Called from the two places a session
    * enters graft: `GraftSession.local` at build, and every
    * `SparkEntry.queries` entry on the session it is given (the bench
    * harness builds its own bare session). Idempotent and silent: the
    * registry warns only when a name's stored (info, builder) pair
    * changes, and [[functions]] is a val built once. */
  def register(s: SparkSession): Unit = synchronized {
    functions.foreach { case (ident, info, builder) =>
      s.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    if (!s.experimental.extraOptimizations.contains(AsOfJoinRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ AsOfJoinRule
    if (!s.experimental.extraStrategies.contains(AsOfJoinStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}
