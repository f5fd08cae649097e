package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Static kernel for graft_lsh_buckets — kept outside the case class so
  * generated code can call it through the object's static forwarder. */
object LshHash {
  /** Multi-table random-hyperplane signatures: element t is table t's
    * nPlanes-bit bucket, bit j = sign(v · h_tj). Hyperplane components
    * are deterministic pseudo-randoms in [-2, 2]:
    * (xxh64(dim+1, xxh64(plane, xxh64(table, 42))) % 2001) / 1000 —
    * the same family shape as the interpreted HOF formulation this
    * replaced, re-seeded per table. Null elements poison to null
    * (embeddings are dense; see DotProduct). */
  def buckets(emb: ArrayData, nTables: Int, nPlanes: Int): ArrayData = {
    val dim = emb.numElements()
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var j = 0
      while (j < nPlanes) {
        val hj = XXH64.hashLong(j.toLong, XXH64.hashLong(t.toLong, 42L))
        var acc = 0.0
        var i = 0
        while (i < dim) {
          if (emb.isNullAt(i)) return null
          acc += emb.getFloat(i).toDouble *
            ((XXH64.hashLong((i + 1).toLong, hj) % 2001L).toDouble / 1000.0)
          i += 1
        }
        if (acc >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_lsh_buckets(embedding, nTables, nPlanes)` → array<bigint> of
  * length nTables: per-table LSH bucket signatures, one tight codegen'd
  * primitive loop instead of the interpreted three-deep HOF pyramid
  * (transform ∘ aggregate ∘ zip_with) it replaced — that pyramid boxed
  * ~nTables·nPlanes·dim lambda steps per row and dominated sim_ann_lsh's
  * runtime. Table/plane counts shape the loop, so each must be an
  * integer literal: foldable int or bigint, non-null, within Int range
  * (the one literal rule of [[GraftExtensions.functions]]). */
case class LshBuckets(child: Expression, nTables: Int, nPlanes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if nTables >= 1 && nPlanes >= 1 && nPlanes <= 63 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets needs 1 <= nTables and 1 <= nPlanes <= 63, " +
        s"got ($nTables, $nPlanes)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets requires array<float>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lsh_buckets"

  override def nullSafeEval(input: Any): Any =
    LshHash.buckets(input.asInstanceOf[ArrayData], nTables, nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, emb => s"""
      |${ev.value} = graft.functions.LshHash.buckets($emb, $nTables, $nPlanes);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}
