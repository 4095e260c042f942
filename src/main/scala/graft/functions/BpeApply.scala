package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Merge-order BPE application as ONE imperative pass with a per-word
  * memo — the native form of `TextAnalysis.bpeApplyRanked`'s declarative
  * replace chain. The declarative twin pays `nMerges` full string
  * rebuilds per token INSTANCE (measured 180 s at docs×100: ~27M
  * instances × 12 replaces through generic string expressions); here
  * each DISTINCT word per task is encoded once — symbols splice in a
  * mutable array, no `<sym>` wrapping ever materializes — and repeats
  * hit a hash map (Zipf: the head of the distribution is nearly all
  * instances).
  *
  * Semantics pinned to the trainer's literal-splice rule exactly
  * (spec-pinned bit-equal to the declarative twin): words are the
  * non-empty `\s+`-separated tokens of the text in order; a word starts
  * as its codepoint sequence (matching `split(w, "")`, which keeps
  * surrogate pairs whole); each merge `(l, r)`, in rank order, rewrites
  * the symbol sequence by one left-to-right non-overlapping scan —
  * merge at i when `(sym[i], sym[i+1]) == (l, r)`, continue from i+2 —
  * which is exactly what `replace(s, "<l><r>", "<lr>")` does on the
  * wrapped form (symbols contain no angle brackets, so pattern matches
  * are always pair-aligned). Output: the final symbol strings,
  * word-major in token order. NULL text → NULL.
  *
  * The memo is per expression instance (one per task after plan
  * deserialization, the MessageDigest precedent) and capped: past
  * `MemoCap` distinct words new words are encoded without caching, so
  * memory stays bounded on adversarial vocabularies. It is a
  * ConcurrentHashMap, not for the per-task path (which is
  * single-threaded) but so a driver-side eval of a SHARED expression
  * instance (e.g. constant folding, or a reused Column) can never
  * corrupt the table — encode results for equal keys are identical, so
  * a racing double-encode is benign.
  */
case class BpeApplyRanked(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  require(merges.forall { case (l, r) =>
    l.nonEmpty && r.nonEmpty &&
      !l.contains("<") && !l.contains(">") && !r.contains("<") && !r.contains(">") },
    "graft_bpe_ranked: merge symbols must be non-empty and contain no < or > (the train contract)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"graft_bpe_ranked expects string, got $t")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bpe_ranked"

  private val MemoCap = 1 << 20

  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[UTF8String]]()
  @transient private lazy val mergeArr: Array[(String, String)] = merges.toArray

  private def encodeWord(w: String): Array[UTF8String] = {
    // codepoint split (surrogate pairs stay whole, like split(w, ""))
    var syms = new Array[String](w.codePointCount(0, w.length))
    var i = 0
    var k = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      syms(k) = w.substring(i, i + n)
      k += 1
      i += n
    }
    var len = syms.length
    var m = 0
    while (m < mergeArr.length) {
      val (l, r) = mergeArr(m)
      var src = 0
      var dst = 0
      while (src < len) {
        if (src + 1 < len && syms(src) == l && syms(src + 1) == r) {
          syms(dst) = l + r
          src += 2
        } else {
          syms(dst) = syms(src)
          src += 1
        }
        dst += 1
      }
      len = dst
      m += 1
    }
    val out = new Array[UTF8String](len)
    var j = 0
    while (j < len) { out(j) = UTF8String.fromString(syms(j)); j += 1 }
    out
  }

  private def lookup(w: String): Array[UTF8String] = {
    val hit = memo.get(w)
    if (hit != null) hit
    else {
      val enc = encodeWord(w)
      if (memo.size < MemoCap) memo.put(w, enc)
      enc
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].toString
      .split("\\s+", -1).filter(_.nonEmpty)
    val parts = new Array[Array[UTF8String]](words.length)
    var total = 0
    var i = 0
    while (i < words.length) {
      parts(i) = lookup(words(i))
      total += parts(i).length
      i += 1
    }
    val out = new Array[Any](total)
    var o = 0
    i = 0
    while (i < words.length) {
      val p = parts(i)
      var j = 0
      while (j < p.length) { out(o) = p(j); o += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyRanked =
    copy(child = newChild)
}
