package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** n-component MinHash signature over a word array in one pass
  * (default n = 16, the historical layout every estimate is built on;
  * `graft_minhash16(ws, n)` with an integer literal n gives the longer
  * signatures density-adaptive banding needs — see Dedup.bandingFor; n
  * follows the one literal rule of [[GraftExtensions.functions]]).
  *
  * Bit-identical to the declarative
  * `transform(sequence(0,n-1), s -> array_min(transform(ws, w -> xxhash64(w, s))))`
  * — Spark's `xxhash64(w, s)` chains: h0 = xxh64(bytes of w, seed 42),
  * then folds s with hashInt. That structure means each word's string
  * hash can be computed ONCE and reused for all n components
  * (n cheap int-folds), where the HOF form re-hashes the string n
  * times through interpreted lambdas. Component s is the same value at
  * ANY n, so a prefix of a longer signature equals the shorter one.
  *
  * CodegenFallback: the per-row work is one tight JVM loop; what matters
  * is escaping the per-element lambda interpretation, not inlining into
  * generated Java.
  */
case class MinHashSig16(child: Expression, nComp: Int = 16)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      if (nComp >= 1 && nComp <= 4096) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_minhash16 component count must be in [1, 4096], got $nComp")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash16 requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash16"

  override def nullSafeEval(input: Any): Any = {
    val ws = input.asInstanceOf[ArrayData]
    val mins = Array.fill(nComp)(Long.MaxValue)
    var i = 0
    while (i < ws.numElements()) {
      if (!ws.isNullAt(i)) {
        val h0 = XxHash64Function.hash(ws.getUTF8String(i), StringType, 42L)
        var s = 0
        while (s < nComp) {
          val v = XXH64.hashInt(s, h0)
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig16 =
    copy(child = newChild)
}
