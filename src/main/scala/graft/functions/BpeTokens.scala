package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Subword (BPE-merge-style) tokenizer: a fixed unit inventory applied by
  * greedy longest-match (maximal munch) within each whitespace word — the
  * WordPiece/SentencePiece-greedy decode rule. Single characters always
  * match (the byte-fallback convention), so every word tokenizes and the
  * concatenation of a word's tokens reconstructs the word exactly.
  *
  * Purpose: training-data pipelines budget sequences in SUBWORD tokens,
  * not whitespace words — whitespace counts understate non-English and
  * long-word text by 1.3-2x. The unit inventory here is a miniature
  * merge table (frequent English character bigrams plus merged stems of
  * the corpus vocabulary) standing in for a real tokenizer's learned
  * merges; swapping in a production vocab is a one-array change, the
  * Spark-side mechanics (broadcast-free static trie, codegen'd per-row
  * scan) stay identical.
  *
  * Determinism: pure function of the input string and the static vocab —
  * no hashing, no session state; identical across executors and engines.
  */
object BpeTokenizer {

  /** Merge-unit inventory, longest-match-priority irrelevant (greedy
    * tries longer spans first). Frequent English bigrams/affixes plus
    * whole-word merges for the corpus's query-workload vocabulary. */
  val Units: Array[String] = Array(
    // whole-word merges (most frequent corpus words)
    "customer", "filter", "stream", "window", "vector", "table", "value",
    "query", "spark", "batch", "merge", "group", "order", "small",
    "join", "hash", "scan", "sort", "data", "fast", "slow", "line",
    "part", "key", "row", "big", "agg", "dup", "the",
    // common affixes / trigrams
    "ing", "ion", "ent", "and", "tion", "ble",
    // frequent English bigrams
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti",
    "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to",
    "nt", "ng", "se", "ha", "as", "ou", "io", "le", "ve", "co", "me",
    "de", "hi", "ri", "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch",
    "ll", "be", "ma", "si", "om", "ur")

  private val maxLen: Int = Units.iterator.map(_.length).max
  private val set: java.util.HashSet[String] = {
    val h = new java.util.HashSet[String](Units.length * 2)
    Units.foreach(h.add)
    h
  }

  /** Greedy longest-match token count over the whole text (whitespace
    * delimits words; matches never cross a word boundary). */
  def count(t: UTF8String): Long = {
    val s = t.toString
    var n = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      if (Character.isWhitespace(s.charAt(i))) i += 1
      else {
        var end = i
        while (end < len && !Character.isWhitespace(s.charAt(end))) end += 1
        while (i < end) {
          n += 1
          i += matchLen(s, i, end)
        }
      }
    }
    n
  }

  /** Token strings (same walk as count) — the spec surface. */
  def tokenize(t: UTF8String): ArrayData = {
    val s = t.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    val len = s.length
    while (i < len) {
      if (Character.isWhitespace(s.charAt(i))) i += 1
      else {
        var end = i
        while (end < len && !Character.isWhitespace(s.charAt(end))) end += 1
        while (i < end) {
          val m = matchLen(s, i, end)
          out += UTF8String.fromString(s.substring(i, i + m))
          i += m
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Longest unit in [i, end) starting at i; 1 = char fallback. */
  private def matchLen(s: String, i: Int, end: Int): Int = {
    var l = math.min(maxLen, end - i)
    while (l >= 2) {
      if (set.contains(s.substring(i, i + l))) return l
      l -= 1
    }
    1
  }
}

/** `graft_bpe_count(text)` → bigint: subword token count (see
  * BpeTokenizer). Native + codegen so sequence-packing budgets stay
  * inside whole-stage codegen. */
case class BpeTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_count requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_count"

  override def nullSafeEval(input: Any): Any =
    BpeTokenizer.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.BpeTokenizer.count($t);")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** `graft_bpe_tokens(text)` → array<string>: the token strings
  * themselves — the inspectable twin of graft_bpe_count (specs pin
  * hand-tokenized fixtures and the lossless-reconstruction property). */
case class BpeTokenize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_tokens requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_tokens"

  override def nullSafeEval(input: Any): Any =
    BpeTokenizer.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.BpeTokenizer.tokenize($t);")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenize =
    copy(child = newChild)
}
