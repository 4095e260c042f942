package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ArrayDotProduct, AsciiRollingHash, BpeApplyRanked, BpeCount, CharSetCount, ChunkHashes, GramBuckets, GramCounts, GramTickSum, HashEmbed, HtmlExtract, LangBest, LangScores, Md5Prefix32, MinhashSigs, PiiScan, WordSetCount, PqSubCode, RepetitionStats, SetOverlap, SgResidualStddev, ShingleHashes, SubwordEncode, TermHits, WordNgramHashSeq, WordNgramHashes, WsTokenCount}
import graft.llm.TextAnalysis
import org.apache.spark.sql.types.DataTypes
import org.apache.spark.unsafe.types.UTF8String

/** SQL names for graft's native Catalyst expressions, so they are
  * callable from SQL text and `functions.call_function`. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`. graft's
  * own operators do not need it: they build the expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // Foldable numeric children arrive as java.lang Numbers from Column
  // call sites, but a raw-SQL decimal literal (e.g.
  // `graft_html_extract(h, 3, 0.33)`) evaluates to Catalyst `Decimal`,
  // which is NOT a java.lang.Number — normalize both forms so SQL
  // callers get the function instead of a ClassCastException.
  private def litDouble(e: Expression): Double = e.eval() match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: java.lang.Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got $other")
  }
  private def litLong(e: Expression): Long = e.eval() match {
    case d: org.apache.spark.sql.types.Decimal =>
      val bd = d.toBigDecimal
      if (!bd.isValidLong) throw new IllegalArgumentException(
        s"integer literal out of Long range: $bd")
      bd.longValue
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got $other")
  }
  // Range-checked: a raw-SQL `graft_shingle_hashes(text, 3000000000)`
  // must fail analysis, not bind a silently-truncated negative constant.
  private def litInt(e: Expression): Int =
    try Math.toIntExact(litLong(e))
    catch {
      case _: ArithmeticException => throw new IllegalArgumentException(
        s"integer literal out of Int range: ${e.eval()}")
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_html_extract"),
      new ExpressionInfo(classOf[HtmlExtract].getName, null, "graft_html_extract",
        "graft_html_extract(html, minWords, maxLinkDensity) - single-pass pinned " +
          "HTML->text extraction (boilerplate removal)", ""),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"graft_html_extract requires exactly 3 arguments, got ${children.size}")
        require(children(1).foldable && children(2).foldable,
          "graft_html_extract: minWords and maxLinkDensity must be literals")
        HtmlExtract(children(0),
          litInt(children(1)),
          litDouble(children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lang_scores"),
      new ExpressionInfo(classOf[LangScores].getName, null, "graft_lang_scores",
        "graft_lang_scores(text, wordLists) - fused per-language stopword-hit counts", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_lang_scores requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_lang_scores: word lists must be literal")
        val arr = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val langs = (0 until arr.numElements()).map { k =>
          arr.getArray(k).toArray[UTF8String](DataTypes.StringType).toSeq.map(_.toString)
        }
        LangScores(children(0), langs)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lang_best"),
      new ExpressionInfo(classOf[LangBest].getName, null, "graft_lang_best",
        "graft_lang_best(text, wordLists) - struct(scores, best): fused stopword " +
          "counts plus the language-ID argmax (first-listed tie-break, -1 = none)", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_lang_best requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_lang_best: word lists must be literal")
        val arr = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val langs = (0 until arr.numElements()).map { k =>
          arr.getArray(k).toArray[UTF8String](DataTypes.StringType).toSeq.map(_.toString)
        }
        LangBest(children(0), langs)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_charset_count"),
      new ExpressionInfo(classOf[CharSetCount].getName, null, "graft_charset_count",
        "graft_charset_count(text, chars) - count of characters from a literal ASCII set", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_charset_count requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_charset_count: chars must be a literal")
        CharSetCount(children(0), children(1).eval().toString)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_count"),
      new ExpressionInfo(classOf[WordSetCount].getName, null, "graft_word_count",
        "graft_word_count(text, words) - count of boundary-delimited literal-word matches", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_word_count requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_word_count: words must be a literal")
        WordSetCount(children(0),
          children(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toArray[UTF8String](DataTypes.StringType).toSeq.map(_.toString))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_ws_count"),
      new ExpressionInfo(classOf[WsTokenCount].getName, null, "graft_ws_count",
        "graft_ws_count(text) - whitespace token count (the pinned trim+split semantics)", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_ws_count requires exactly 1 argument, got ${children.size}")
        WsTokenCount(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_count"),
      new ExpressionInfo(classOf[BpeCount].getName, null, "graft_bpe_count",
        "graft_bpe_count(text) - BpePattern pre-tokenizer segment count, one scan", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_bpe_count requires exactly 1 argument, got ${children.size}")
        BpeCount(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pii_scan"),
      new ExpressionInfo(classOf[PiiScan].getName, null, "graft_pii_scan",
        "graft_pii_scan(text) - PII counts + sequentially-redacted text in one " +
          "native scan family", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_pii_scan requires exactly 1 argument, got ${children.size}")
        PiiScan(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, null, "graft_dot",
        "graft_dot(a, b) - codegen'd dot product of two double arrays", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_dot requires exactly 2 arguments, got ${children.size}")
        ArrayDotProduct(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[AsciiRollingHash].getName, null, "graft_fingerprint",
        "graft_fingerprint(text) - codegen'd rolling hash of the ASCII projection", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_fingerprint requires exactly 1 argument, got ${children.size}")
        AsciiRollingHash(children(0), TextAnalysis.FpMod)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, null, "graft_shingle_hashes",
        "graft_shingle_hashes(text, n) - distinct char-n-gram md5-prefix hashes, one pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_shingle_hashes requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_shingle_hashes: n must be a literal")
        ShingleHashes(children(0),
          litInt(children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, null, "graft_minhash_sigs",
        "graft_minhash_sigs(hashes, k) - all k MinHash signature values over a " +
          "shingle-hash array in one pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_minhash_sigs requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_minhash_sigs: k must be a literal")
        MinhashSigs(children(0), litInt(children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_32"),
      new ExpressionInfo(classOf[Md5Prefix32].getName, null, "graft_md5_32",
        "graft_md5_32(s) - first 4 md5 bytes as unsigned long, no hex round trip", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_md5_32 requires exactly 1 argument, got ${children.size}")
        Md5Prefix32(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_ngram_hashes"),
      new ExpressionInfo(classOf[WordNgramHashes].getName, null, "graft_word_ngram_hashes",
        "graft_word_ngram_hashes(text, n) - distinct word-n-gram md5-prefix hashes, one pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_word_ngram_hashes requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_word_ngram_hashes: n must be a literal")
        WordNgramHashes(children(0),
          litInt(children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_ngram_hash_seq"),
      new ExpressionInfo(classOf[WordNgramHashSeq].getName, null, "graft_word_ngram_hash_seq",
        "graft_word_ngram_hash_seq(text, n) - position-ordered word-n-gram " +
          "md5-prefix hashes (element p = gram starting at token p), one pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_word_ngram_hash_seq requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_word_ngram_hash_seq: n must be a literal")
        WordNgramHashSeq(children(0), litInt(children(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_buckets"),
      new ExpressionInfo(classOf[GramBuckets].getName, null, "graft_gram_buckets",
        "graft_gram_buckets(text, ns, buckets) - non-distinct word-n-gram bucket ids " +
          "for every n in the comma-separated literal ns, one pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"graft_gram_buckets requires exactly 3 arguments, got ${children.size}")
        require(children(1).foldable && children(2).foldable,
          "graft_gram_buckets: ns and buckets must be literals")
        val ns = children(1).eval().toString.split(",").toIndexedSeq.map(_.trim.toInt)
        GramBuckets(children(0), ns,
          litInt(children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hash_embed"),
      new ExpressionInfo(classOf[HashEmbed].getName, null, "graft_hash_embed",
        "graft_hash_embed(text, ns, dim) - hashing-trick document embedding: " +
          "dense int[dim] of signed gram-instance votes, one pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"graft_hash_embed requires exactly 3 arguments, got ${children.size}")
        require(children(1).foldable && children(2).foldable,
          "graft_hash_embed: ns and dim must be literals")
        val ns = children(1).eval().toString.split(",").toIndexedSeq.map(_.trim.toInt)
        HashEmbed(children(0), ns,
          litInt(children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_tick_sum"),
      new ExpressionInfo(classOf[GramTickSum].getName, null, "graft_gram_tick_sum",
        "graft_gram_tick_sum(text, ns, buckets, intercept, ticks) - linear-model " +
          "tick logit: intercept + sum over gram instances of ticks[bucket]", ""),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          s"graft_gram_tick_sum requires exactly 5 arguments, got ${children.size}")
        require(children.drop(1).forall(_.foldable),
          "graft_gram_tick_sum: ns, buckets, intercept and ticks must be literals")
        val ns = children(1).eval().toString.split(",").toIndexedSeq.map(_.trim.toInt)
        val ticks = children(4).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
        GramTickSum(children(0), ns,
          litInt(children(2)),
          litLong(children(3)), ticks)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_code"),
      new ExpressionInfo(classOf[PqSubCode].getName, null, "graft_pq_code",
        "graft_pq_code(v, book, offset) - index of the nearest PQ codeword " +
          "(squared-L2 ticks, low-index ties) for the subspace slice at offset", ""),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"graft_pq_code requires exactly 3 arguments, got ${children.size}")
        require(children(1).foldable && children(2).foldable,
          "graft_pq_code: book and offset must be literals")
        val bookData = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val book = bookData
          .toObjectArray(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))
          .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toDoubleArray())
        PqSubCode(children(0), book,
          litInt(children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_term_hits"),
      new ExpressionInfo(classOf[TermHits].getName, null, "graft_term_hits",
        "graft_term_hits(text, terms) - struct(dl, tf[]) token count and " +
          "per-literal-term frequencies in one pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_term_hits requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_term_hits: terms must be a literal")
        val arr = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val terms = arr.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        TermHits(children(0), terms.toSeq)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_counts"),
      new ExpressionInfo(classOf[GramCounts].getName, null, "graft_gram_counts",
        "graft_gram_counts(text) - per-document unigram + adjacent-bigram counts " +
          "as array<struct<g, c>> in one hash-map pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_gram_counts requires exactly 1 argument, got ${children.size}")
        GramCounts(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_set_overlap"),
      new ExpressionInfo(classOf[SetOverlap].getName, null, "graft_set_overlap",
        "graft_set_overlap(a, b) - struct(inter, uni) distinct-set sizes in one pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_set_overlap requires exactly 2 arguments, got ${children.size}")
        SetOverlap(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_repetition"),
      new ExpressionInfo(classOf[RepetitionStats].getName, null, "graft_repetition",
        "graft_repetition(text) - struct(n_tokens, top_word_frac, dup_word_frac, " +
          "top_bigram_frac) repetition stats in one hash-map pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_repetition requires exactly 1 argument, got ${children.size}")
        RepetitionStats(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sg_eps"),
      new ExpressionInfo(classOf[SgResidualStddev].getName, null, "graft_sg_eps",
        "graft_sg_eps(values, w, deg, deriv) - per-record stddev_pop of the " +
          "SG_w minus SG_{2w+1}(SG_w) residual over a t-sorted sample array", ""),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          s"graft_sg_eps requires exactly 4 arguments, got ${children.size}")
        require(children.drop(1).forall(_.foldable),
          "graft_sg_eps: w, deg and deriv must be literals")
        def intArg(i: Int) = litInt(children(i))
        SgResidualStddev(children(0), intArg(1), intArg(2), intArg(3))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_ranked"),
      new ExpressionInfo(classOf[BpeApplyRanked].getName, null, "graft_bpe_ranked",
        "graft_bpe_ranked(text, merges) - merge-order BPE application " +
          "(array of [left, right] literal pairs, applied by rank), one " +
          "memoized pass per distinct word", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_bpe_ranked requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_bpe_ranked: merges must be literal")
        val arr = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val merges = (0 until arr.numElements()).map { k =>
          val pair = arr.getArray(k).toArray[UTF8String](DataTypes.StringType)
          require(pair.length == 2, "graft_bpe_ranked: each merge is [left, right]")
          (pair(0).toString, pair(1).toString)
        }
        BpeApplyRanked(children(0), merges)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_chunks"),
      new ExpressionInfo(classOf[ChunkHashes].getName, null, "graft_chunks",
        "graft_chunks(text, chunkTokens, stride) - sliding-window chunk " +
          "descriptors struct(start_tok, n_tokens, chunk_hash), one tokenize pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"graft_chunks requires exactly 3 arguments, got ${children.size}")
        require(children(1).foldable && children(2).foldable,
          "graft_chunks: chunkTokens and stride must be literals")
        ChunkHashes(children(0), litInt(children(1)), litInt(children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_subword_encode"),
      new ExpressionInfo(classOf[SubwordEncode].getName, null, "graft_subword_encode",
        "graft_subword_encode(text, vocab) - greedy longest-match subword ids " +
          "(-1 = unknown char) against a literal vocab, one trie pass", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_subword_encode requires exactly 2 arguments, got ${children.size}")
        require(children(1).foldable, "graft_subword_encode: vocab must be a literal")
        val arr = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val vocab = arr.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        SubwordEncode(children(0), vocab.toSeq)
      }))
  }
}
