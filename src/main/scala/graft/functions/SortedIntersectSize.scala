package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native |A ∩ B| over two SORTED, DISTINCT long arrays via a linear
  * merge — the hot inner loop of set-similarity joins. The generic
  * `array_intersect` builds a hash set per call and materializes the
  * intersection array just to take its size; this walks both arrays once
  * with two cursors, allocates nothing, and runs inside whole-stage
  * codegen.
  *
  * PRECONDITION: both inputs sorted ascending with distinct elements
  * (callers sort once per row before the pair join — n log n per row
  * once vs n per pair, the classic amortization). Null arrays → null;
  * null elements must not occur (hash outputs never are).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      // array<int> form (r15): the containment prefix path dictionary-
      // encodes tokens to dense 4-byte ids so its verify shuffles move
      // half the array bytes; the merge loop is element-type-generic
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_intersect_size requires two array<bigint> or two " +
          s"array<int>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_size"

  private def isInt: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val intElems = isInt
    var i = 0; var j = 0; var n = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val xv = if (intElems) x.getInt(i).toLong else x.getLong(i)
      val yv = if (intElems) y.getInt(j).toLong else y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val get = if (isInt) "getInt" else "getLong"
      s"""
         |int $i = 0; int $j = 0; long $n = 0L;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.$get($i); long $yv = $b.$get($j);
         |  if ($xv == $yv) { $n++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}
