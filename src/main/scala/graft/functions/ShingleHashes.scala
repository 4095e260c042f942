package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct character-n-gram MD5-prefix hashes of a string, in first-
  * occurrence order — the one-pass native form of
  * `array_distinct(transform(array_distinct(shingles(text, n)), g ->
  * conv(substring(md5(g), 1, 8), 16, 10)))` (see `Dedup.distinctNgramHashes`).
  *
  * The declarative chain allocates, per shingle, a substring, a 32-char
  * hex string, and a conv parse, through generic HOF evaluation — the
  * dominant cost of every MinHash query. Here each shingle is hashed
  * directly from its UTF-8 byte slice: codepoint boundaries are UTF-8
  * byte positions not in 0x80..0xBF, so the slice equals the UTF-8
  * encoding of the codepoint-level substring that Spark's and DuckDB's
  * `substring` produce, and the MD5 values are bit-identical to both
  * engines' `md5()` of that substring. The value is the digest's first
  * 4 bytes big-endian unsigned = `conv(substring(hex, 1, 8), 16, 10)`.
  *
  * A text shorter than n yields itself as the single shingle, matching
  * `substr(1, n)` semantics of the declarative form. Dedup is on the
  * hash value, matching the outer `array_distinct` exactly (the inner
  * shingle-level distinct is subsumed: equal shingles hash equal).
  *
  * CodegenFallback: the per-row interpreted dispatch is noise next to
  * the hundreds-to-thousands of MD5 calls inside each row.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"graft_shingle_hashes: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"graft_shingle_hashes expects string, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingle_hashes"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  /** NULL text → `[null]`, NOT null: the declarative chain's `greatest`
    * ignores the null length (one shingle position survives) and the null
    * propagates through substr/md5 into a single null element. Exactness
    * against that chain (and the SQL oracles mirroring it) requires
    * reproducing this, so null handling is done here, not via
    * nullSafeEval.
    */
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array[Any](null))
    else hashAll(v.asInstanceOf[UTF8String])
  }

  private def hashAll(input: UTF8String): GenericArrayData = {
    val bytes = input.getBytes
    // codepoint start offsets (UTF-8 continuation bytes are 0x80..0xBF)
    val starts = new Array[Int](bytes.length + 1)
    var cp = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(cp) = i; cp += 1 }
      i += 1
    }
    starts(cp) = bytes.length
    val positions = math.max(cp - n + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](positions)
    var p = 0
    while (p < positions) {
      val from = if (p < cp) starts(p) else bytes.length
      val until = if (p + n < cp) starts(p + n) else bytes.length
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      if (seen.add(h)) out += h
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `conv(substring(md5(s), 1, 8), 16, 10)` as one digest call — no hex
  * string, no base-16 parse. Scalar twin of [[ShingleHashes]] for the
  * word-n-gram paths where tokenization stays declarative.
  */
case class Md5Prefix32(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"graft_md5_32 expects string, got $t")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_32"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    md.reset()
    val d = md.digest(input.asInstanceOf[UTF8String].getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix32 =
    copy(child = newChild)
}

/** Distinct word-n-gram MD5-prefix hashes — the one-pass native form of
  * `Dedup.wordNgramHashes`: lowercase, trim, split on `\s+`, drop empty
  * tokens, hash each n-token window joined with one space; fewer than n
  * tokens (or null/empty text) yields the whole token list as the single
  * gram (the empty string when no tokens — null text hashes like empty,
  * because the declarative chain's `concat_ws` swallows the null slice).
  *
  * Tokenization delegates to the SAME UTF8String.toLowerCase/trim and
  * Java-regex split the declarative `lower`/`trim`/`split` resolve to,
  * so results are bit-identical including non-ASCII case mapping.
  */
case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"graft_word_ngram_hashes: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"graft_word_ngram_hashes expects string, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_word_ngram_hashes"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val toks: Array[String] =
      if (v == null) Array.empty[String]
      else v.asInstanceOf[UTF8String].toLowerCase.trim()
        .toString.split("\\s+", -1).filter(_.nonEmpty)
    val positions = math.max(toks.length - (n - 1), 1)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](positions)
    var p = 0
    while (p < positions) {
      val gram = toks.slice(p, math.min(p + n, toks.length)).mkString(" ")
      md.reset()
      val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      if (seen.add(h)) out += h
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)
}

/** POSITION-ORDERED (non-distinct) word-n-gram MD5-prefix hashes —
  * element `p` is the hash of the gram STARTING at token position `p`,
  * so `posexplode` recovers `(position, gram_hash)` for span-locating
  * operators (`Dedup.dupSpans`): where [[WordNgramHashes]] answers
  * "which grams does this doc contain", this answers "what gram starts
  * at each position". Tokenization, hashing, and the fewer-than-n /
  * empty / null conventions are exactly [[WordNgramHashes]]'s (fewer
  * than n tokens → the whole token list as the single position-0 gram;
  * no tokens → the empty-string gram once); `array_distinct` of this
  * output equals [[WordNgramHashes]] by construction.
  */
case class WordNgramHashSeq(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"graft_word_ngram_hash_seq: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"graft_word_ngram_hash_seq expects string, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_word_ngram_hash_seq"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val toks: Array[String] =
      if (v == null) Array.empty[String]
      else v.asInstanceOf[UTF8String].toLowerCase.trim()
        .toString.split("\\s+", -1).filter(_.nonEmpty)
    val positions = math.max(toks.length - (n - 1), 1)
    val out = new Array[Any](positions)
    var p = 0
    while (p < positions) {
      val gram = toks.slice(p, math.min(p + n, toks.length)).mkString(" ")
      md.reset()
      val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(p) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashSeq =
    copy(child = newChild)
}

/** NON-distinct word-n-gram bucket ids for every n in `ns`, concatenated
  * in `ns` order — the one-pass native form of the DSIR feature stream
  * (`Pipeline.gramBuckets`): every gram INSTANCE votes in a count model,
  * so unlike [[WordNgramHashes]] nothing is deduplicated. Each instance
  * is `graft_md5_32(gram) % buckets` (md5-prefix values are in
  * [0, 2^32), so `%` never goes negative). Tokenization and the
  * fewer-than-n / empty / null conventions match [[WordNgramHashes]]
  * exactly: fewer than n tokens yield the whole token list as the single
  * gram; no tokens (or null text, which `concat_ws` swallows in the
  * declarative chain) yield the empty-string gram once per n.
  *
  * The declarative twin pays an interpreted lambda + a UTF8String
  * concat + a digest per INSTANCE through generic HOF evaluation — at
  * ~100 instances per document that dominated the whole DSIR scan; here
  * the text is tokenized once and each gram is digested straight from
  * the token array.
  */
case class GramBuckets(child: Expression, ns: Seq[Int], buckets: Int)
    extends UnaryExpression with CodegenFallback {

  require(ns.nonEmpty && ns.forall(_ >= 1),
    s"graft_gram_buckets: ns must be non-empty positive, got $ns")
  require(buckets >= 1, s"graft_gram_buckets: buckets must be >= 1, got $buckets")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"graft_gram_buckets expects string, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_gram_buckets"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val toks: Array[String] =
      if (v == null) Array.empty[String]
      else v.asInstanceOf[UTF8String].toLowerCase.trim()
        .toString.split("\\s+", -1).filter(_.nonEmpty)
    val total = ns.map(n => math.max(toks.length - (n - 1), 1)).sum
    val out = new Array[Any](total)
    var o = 0
    ns.foreach { n =>
      val positions = math.max(toks.length - (n - 1), 1)
      var p = 0
      while (p < positions) {
        val gram = toks.slice(p, math.min(p + n, toks.length)).mkString(" ")
        md.reset()
        val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        out(o) = h % buckets
        o += 1
        p += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): GramBuckets =
    copy(child = newChild)
}

/** `struct(size(array_intersect(a, b)) AS inter, size(array_union(a, b))
  * AS uni)` in ONE pass over both arrays — the exact-Jaccard re-rank of
  * every candidate pair pays two generic set constructions per pair
  * through the declarative form; with hundreds of thousands of candidate
  * pairs (a near-dup mega-cluster makes all its C(k,2) pairs candidates,
  * which is correct — they ARE near-dups) this is the dominant cost.
  * Distinct semantics match array_intersect/array_union exactly,
  * including null elements (present in both → counted once).
  */
case class SetOverlap(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_set_overlap expects (array<long>, array<long>), got ($l, $r)")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("inter", LongType, nullable = false),
    StructField("uni", LongType, nullable = false)))
  override def prettyName: String = "graft_set_overlap"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val setA = new java.util.HashSet[Any]()
    var i = 0
    while (i < aa.numElements()) {
      setA.add(if (aa.isNullAt(i)) null else aa.getLong(i)); i += 1
    }
    val seenB = new java.util.HashSet[Any]()
    var inter = 0L
    var extraB = 0L
    i = 0
    while (i < bb.numElements()) {
      val e: Any = if (bb.isNullAt(i)) null else bb.getLong(i)
      if (seenB.add(e)) { if (setA.contains(e)) inter += 1 else extraB += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(inter, setA.size.toLong + extraB)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SetOverlap =
    copy(left = newLeft, right = newRight)
}

/** Linear-model tick logit in ONE text pass — the fused closed form of
  * `aggregate(graft_gram_buckets(text, ns, buckets), intercept,
  * (acc, b) => acc + element_at(ticks, b + 1))`, which is the pinned
  * [[graft.llm.Classifier]] scoring contract. The HOF fold pays an
  * interpreted lambda frame plus a generic array probe per gram
  * INSTANCE (a document has hundreds); here each gram digests straight
  * off the token array into a primitive `long[]` table lookup.
  *
  * Tokenization and the fewer-than-n / empty / null conventions are
  * [[GramBuckets]]'s exactly (null text folds the empty-string gram
  * once per n — `nullable = false`, never a null logit), and the result
  * is spec-pinned bit-equal to the HOF twin over generated text with
  * random tick tables (NativeEquivalenceSpec).
  */
case class GramTickSum(child: Expression, ns: Seq[Int], buckets: Int,
                       interceptTicks: Long, coefTicks: Array[Long])
    extends UnaryExpression with CodegenFallback {

  require(ns.nonEmpty && ns.forall(_ >= 1),
    s"graft_gram_tick_sum: ns must be non-empty positive, got $ns")
  require(buckets >= 1, s"graft_gram_tick_sum: buckets must be >= 1, got $buckets")
  require(coefTicks.length == buckets,
    s"graft_gram_tick_sum: ticks length ${coefTicks.length} != buckets $buckets")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"graft_gram_tick_sum expects string, got $t")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_gram_tick_sum"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val toks: Array[String] =
      if (v == null) Array.empty[String]
      else v.asInstanceOf[UTF8String].toLowerCase.trim()
        .toString.split("\\s+", -1).filter(_.nonEmpty)
    var acc = interceptTicks
    ns.foreach { n =>
      val positions = math.max(toks.length - (n - 1), 1)
      var p = 0
      while (p < positions) {
        val gram = toks.slice(p, math.min(p + n, toks.length)).mkString(" ")
        md.reset()
        val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        acc += coefTicks((h % buckets).toInt)
        p += 1
      }
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): GramTickSum =
    copy(child = newChild)
}
