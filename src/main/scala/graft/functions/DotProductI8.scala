package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType}

/** Native Catalyst expression: dot product of two int8 (tinyint) arrays
  * as a long, with whole-stage codegen — the quantized twin of
  * [[DotProduct]] (graft_dot).
  *
  * Why a separate expression: the quantized-prescreen similarity path
  * (Similarity.dedupEmbedCosine's large-block dispatch) ships int8
  * vectors through the fragment-replicate grid shuffle — 4× fewer bytes
  * than float — and scores candidates with integer arithmetic; a
  * declarative `aggregate(zip_with(...))` form would interpret a lambda
  * per element. Integer products of 8-bit values summed over ≤ 2^48
  * elements can never overflow the long accumulator, so the result is
  * EXACT — which is what makes the prescreen bound lossless.
  *
  * Semantics mirror graft_dot: null if either array is null; element
  * nulls poison the result to null; length mismatch uses the shorter
  * prefix.
  */
case class DotProductI8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot_i8 requires two array<tinyint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_i8"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getByte(i).toLong * y.getByte(i)
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
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $sum += ((long) $a.getByte($i)) * $b.getByte($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductI8 =
    copy(left = newLeft, right = newRight)
}
