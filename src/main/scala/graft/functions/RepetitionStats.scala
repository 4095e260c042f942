package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Within-document repetition statistics over lowercased whitespace
  * tokens, one pass: `struct(n_tokens, top_word_frac, dup_word_frac,
  * top_bigram_frac)` — the Gopher-rule family of quality signals
  * (fraction of the doc taken by its most frequent word, by words
  * occurring at least twice, and by its most frequent adjacent bigram).
  *
  * A declarative twin (the reference NativeEquivalenceSpec pins it to)
  * counts each distinct token by filtering the token array — O(distinct
  * × n) per document through generic HOF evaluation, quadratic on
  * low-redundancy text. Here counts come from one hash-map pass over
  * the same token stream (the exact tokenizer of [[WordNgramHashes]]),
  * so a 10k-token document costs 10k map operations, not 10^8
  * comparisons — the difference between a quality scan that finishes
  * and a straggler at 100 TB.
  *
  * Fractions are exact integer counts divided as doubles (one IEEE op,
  * bit-identical to the declarative form and to a SQL
  * unnest-GROUP-BY oracle); rounding stays OUTSIDE, at the call site,
  * so both paths round the same raw value. A blank document yields
  * (0, 0.0, 0.0, 0.0); fewer than 2 tokens yields top_bigram_frac 0.0;
  * NULL text yields a NULL struct (both paths).
  *
  * CodegenFallback: the per-row interpreted dispatch is noise next to
  * the per-token map operations inside each row.
  */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"graft_repetition expects string, got $t")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("top_word_frac", DoubleType, nullable = false),
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_repetition"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    // the exact tokenizer of WordNgramHashes / Dedup.tokens
    val toks = v.asInstanceOf[UTF8String].toLowerCase.trim()
      .toString.split("\\s+", -1).filter(_.nonEmpty)
    val n = toks.length
    if (n == 0)
      return new GenericInternalRow(Array[Any](0L, 0.0, 0.0, 0.0))
    val wc = new java.util.HashMap[String, Int](n * 2)
    var i = 0
    while (i < n) {
      wc.merge(toks(i), 1, (a, b) => a + b)
      i += 1
    }
    var topW = 0
    var dup = 0
    val it = wc.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > topW) topW = c
      if (c >= 2) dup += c
    }
    var topB = 0
    if (n >= 2) {
      val bc = new java.util.HashMap[String, Int](n * 2)
      i = 0
      while (i < n - 1) {
        val c = bc.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
        if (c > topB) topB = c
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](
      n.toLong,
      topW.toDouble / n,
      dup.toDouble / n,
      if (n >= 2) topB.toDouble / (n - 1) else 0.0))
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}
