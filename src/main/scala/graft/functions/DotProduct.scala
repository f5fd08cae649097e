package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

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

object DotProduct {
  private[functions] val ident = new FunctionIdentifier("graft_dot")
  private[functions] val info = new ExpressionInfo(classOf[DotProduct].getName, "graft_dot")
  private[functions] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 2, "graft_dot takes exactly 2 arguments")
    DotProduct(exprs.head, exprs(1))
  }
}

/** The idiomatic hook for deployments that control session construction:
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Injects every
  * function in [[GraftExtensions.functions]] plus the native as-of join's
  * Join→AsOfJoinPlan optimizer rewrite and AsOfJoinPlan→AsOfJoinExec
  * strategy (plans/AsOfJoin.scala). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** The one list of graft's native SQL functions: the extension
    * injects it and [[register]] registers it, so the two cannot drift. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (DotProduct.ident, DotProduct.info, DotProduct.builder),
      (DotProductI8.ident, DotProductI8.info, DotProductI8.builder),
      (SimHash48.ident, SimHash48.info, SimHash48.builder),
      (MinHashSig16.ident, MinHashSig16.info, MinHashSig16.builder),
      (SortedIntersectSize.ident, SortedIntersectSize.info,
        SortedIntersectSize.builder),
      (BpeTokenCount.ident, BpeTokenCount.info, BpeTokenCount.builder),
      (BpeTokenCount.identTok, BpeTokenCount.infoTok, BpeTokenCount.builderTok),
      (LshBuckets.ident, LshBuckets.info, LshBuckets.builder),
      (ShingleHash64.ident, ShingleHash64.info, ShingleHash64.builder),
      (UnicodeNorm.identNfc, UnicodeNorm.infoNfc, UnicodeNorm.builderNfc),
      (UnicodeNorm.identUnaccent, UnicodeNorm.infoUnaccent,
        UnicodeNorm.builderUnaccent),
      (MisraGriesTopK.ident, MisraGriesTopK.info, MisraGriesTopK.builder),
      (TDigestQuantiles.ident, TDigestQuantiles.info, TDigestQuantiles.builder),
      // the as-of marker condition; it needs the rule and strategy too
      // (`AsOfJoin.ensureRegistered`)
      (graft.plans.AsOfJoin.ident, graft.plans.AsOfJoin.info,
        graft.plans.AsOfJoin.builder))

  /** Register every function on a live session (the harness builds its
    * SparkSession without extension configs, so operators
    * self-register). Idempotent and silent: the registry warns only when
    * a name's stored (info, builder) pair changes, and these are vals. */
  def register(s: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      s.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
