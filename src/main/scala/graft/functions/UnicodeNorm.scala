package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for Unicode text canonicalization — the
  * first normalization pass of any multilingual corpus pipeline (the
  * same text must dedup/fingerprint identically whether a source shipped
  * it precomposed (NFC) or decomposed (NFD), and accent-insensitive
  * matching needs the combining marks gone).
  *
  * `graft_nfc(s)`     — Unicode NFC canonical composition.
  * `graft_unaccent(s)` — NFD decomposition with all combining marks
  *                       (category Mn) removed, then NFC recomposition
  *                       of what remains: 'café' → 'cafe', 'Å' → 'A'.
  *
  * Both are UnaryExpression with codegen that calls the static helpers
  * below — per-row cost is one JDK Normalizer pass (ICU-grade tables in
  * the JDK), and the expressions stay inside WholeStageCodegen with a
  * fast ASCII pre-check that skips normalization entirely for pure-ASCII
  * rows (the overwhelmingly common case in web corpora).
  *
  * Cross-engine note: DuckDB's `nfc_normalize`/`strip_accents` implement
  * the same Unicode algorithms (utf8proc), so both surfaces are
  * oracle-pairable; NFC is stable across Unicode versions for assigned
  * code points.
  */
object UnicodeNorm {
  /** ASCII fast path: normalization is identity on pure ASCII. */
  def nfc(s: UTF8String): UTF8String = {
    if (s == null) return null
    val str = s.toString
    if (isAscii(str)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  def unaccent(s: UTF8String): UTF8String = {
    if (s == null) return null
    val str = s.toString
    if (isAscii(str)) s
    else {
      val nfd = Normalizer.normalize(str, Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(nfd.length)
      var i = 0
      while (i < nfd.length) {
        val c = nfd.charAt(i)
        if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
        i += 1
      }
      UTF8String.fromString(
        Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
    }
  }

  private def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80) return false
      i += 1
    }
    true
  }
}

case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nfc requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"
  override protected def nullSafeEval(input: Any): Any =
    UnicodeNorm.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeNorm.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

case class StripAccents(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_unaccent requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_unaccent"
  override protected def nullSafeEval(input: Any): Any =
    UnicodeNorm.unaccent(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeNorm.unaccent($c)")
  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(child = newChild)
}
