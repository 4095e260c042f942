package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.{AsciiRollingHash, BpeApplyRanked, BpeCount, CharSetCount, GramBuckets,
  GramCounts, LangBest, LangScores, PiiScan, RepetitionStats, SubwordEncode, WordSetCount,
  WsTokenCount}

/** Text-analysis operators for large-scale training-data pipelines, built
  * entirely from codegen'd `org.apache.spark.sql.functions` (no UDFs): at
  * 100 TB these run inside whole-stage codegen with full column pruning —
  * a scan of `documents` reading only (`doc_id`, `text`).
  *
  * Operators: token counting, quality scoring, language ID (stopword
  * n-gram heuristic), and polynomial-rolling-hash fingerprinting.
  */
object TextAnalysis {

  val FpMod = 1000000007L // fingerprint modulus (fits 31*mod+cp in a long)

  /** Whitespace token count; empty/blank text counts 0. The native
    * one-scan [[graft.functions.WsTokenCount]] (spec-pinned equal to
    * the trim+split form).
    */
  def tokenCount(text: Column): Column = column(WsTokenCount(expression(text)))

  /** Count of regex matches (codegen'd). */
  def matchCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** GPT-2-style pre-tokenizer pattern (simplified to constructs both
    * Java regex and RE2 interpret identically): contractions, optional
    * leading-space letter runs, digit runs, symbol runs. No whitespace
    * arm — the regex scanner skips unmatched whitespace between tokens,
    * so counting matches counts tokens.
    */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"

  /** BPE-ish token count: non-overlapping matches of [[BpePattern]] —
    * approximates a byte-pair pre-tokenizer's segment count without a
    * vocabulary (e.g. `don't stop` → `don`, `'t`, ` stop` = 3).
    */
  def bpeTokenCount(text: Column): Column = column(BpeCount(expression(text)))

  /** REAL vocab-driven subword ids — greedy longest-match against a
    * literal `vocab` (the WordPiece inference rule; −1 = unknown
    * character): see [[graft.functions.SubwordEncode]] for the pinned
    * semantics. One native trie pass per row (spec-pinned equal to an
    * HOF fold over character positions, NativeEquivalenceSpec). Token
    * BUDGETS for packing/chunking come from `size(subwordIds(...))` —
    * vocabulary-real counts, not the [[BpePattern]] regex approximation.
    */
  def subwordIds(text: Column, vocab: Seq[String]): Column =
    column(SubwordEncode(expression(text), vocab))

  /** BPE vocab TRAINING — the classic merge loop (Sennrich et al. 2016,
    * public knowledge), distributed the way the algorithm itself is
    * structured: the corpus collapses in ONE pass to the word-frequency
    * table (tiny relative to rows — corpus-vocabulary-sized even at
    * 100 TB; cached via `scope` on the distributed fallback path), and
    * every merge round runs over
    * that table only: count adjacent symbol pairs weighted by word
    * frequency, take the argmax, splice the winner into every word.
    * Returns the learned merge table `(rank, left, right, pair_count)`
    * — feed `left+right` concatenations (plus the base characters) to
    * [[subwordIds]] for encode.
    *
    * Pinned determinism (the cross-engine contract):
    *  - words = ASCII-whitespace tokens of the text, as-is (lowercase
    *    upstream if desired);
    *  - symbols start as single CHARACTERS and are represented
    *    `<sym>`-wrapped and concatenated (`"ab"` → `"<a><b>"`) — merges
    *    rewrite by literal `replace(s, "<a><b>", "<ab>")`, whose
    *    matches are character-DISJOINT by construction, so every
    *    engine's left-to-right non-overlapping replace agrees (the
    *    shared-boundary ambiguity of space-separated forms never
    *    arises). Words must not contain `<` or `>`;
    *  - pair count = adjacent index pairs (overlapping occurrences both
    *    count, the reference convention) × word frequency;
    *  - tie-break = lexicographically smallest pattern string
    *    `"<l><r>"` at equal count, compared as a plain string in both
    *    engines;
    *  - a round with no remaining pair stops early.
    *
    * Execution: the corpus pass is distributed (one scan to the cached
    * word-frequency table); the merge ROUNDS run driver-locally when
    * the vocabulary fits `maxDriverWords` — the table is
    * corpus-vocabulary-sized by its own construction, and paying
    * `nMerges` sequential Spark jobs of scheduler latency to argmax a
    * driver-memory-sized table was pure apparatus (measured: ~all of
    * the row's 7.4 s at docs×100 was the 12 job round-trips, not
    * work). The tie-break compares UTF-8 BYTES, exactly the binary
    * string order the distributed `orderBy` and an independent
    * engine's binary collation use. Above the cap the rounds fall back
    * to the distributed per-round aggregation (one aggregation + one
    * 1-row collect each — never a corpus-sized shuffle), so a
    * pathological vocabulary degrades to slow, not to OOM.
    */
  def trainBpeMerges(docs: DataFrame, textCol: String, nMerges: Int,
                     scope: graft.core.CacheScope =
                       graft.core.CacheScope.session,
                     maxDriverWords: Int = 2000000): DataFrame = {
    require(nMerges > 0 && nMerges <= 1000, "trainBpeMerges: nMerges in [1, 1000]")
    val spark = docs.sparkSession
    import spark.implicits._
    val wrapped = concat_ws("",
      transform(split(col("w"), ""), c => concat(lit("<"), c, lit(">"))))
    // uncached here: the driver path consumes this exactly once (the
    // capped collect IS its materialization); only the distributed
    // fallback — which re-reads it every round — pays the cache
    val wfPlain =
      docs.select(explode(filter(split(col(textCol), "\\s+"), w => length(w) > 0)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(col("freq"), wrapped.as("s"))
    // adjacent pair patterns of the current symbol string: strip the
    // outer brackets, split on `><`, window pairs back into patterns
    def pairPatterns(s: Column): Column = {
      val syms = split(regexp_replace(s, "^<|>$", ""), "><")
      filter(
        zip_with(syms, concat(slice(syms, lit(2), greatest(size(syms) - 1, lit(1))),
            array(lit(null).cast("string"))), (a, b) =>
          when(b.isNotNull, concat(lit("<"), a, lit("><"), b, lit(">")))),
        p => p.isNotNull)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]

    // capped collect: limit(cap+1) bounds the driver transfer BEFORE we
    // know the count — one row over the cap = distributed fallback
    val head = wfPlain.limit(maxDriverWords + 1).collect()
    if (head.length <= maxDriverWords) {
      // driver-local rounds over the collected (freq, s) table — same
      // pinned pair count / argmax / byte-order tie-break / literal
      // left-to-right replace as the distributed twin (spec-pinned equal)
      var words = head.map(r => (r.getLong(0), r.getString(1)))
      def byteLt(a: String, b: String): Boolean = {
        val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
        var i = 0
        while (i < x.length && i < y.length) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        x.length < y.length
      }
      var rank = 1
      var done = false
      while (rank <= nMerges && !done) {
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        words.foreach { case (freq, s) =>
          val syms = s.stripPrefix("<").stripSuffix(">").split("><", -1)
          var i = 0
          while (i < syms.length - 1) {
            val pat = s"<${syms(i)}><${syms(i + 1)}>"
            counts.update(pat, counts.getOrElse(pat, 0L) + freq)
            i += 1
          }
        }
        // a one-symbol word contributes no pairs but its single symbol
        // still splits to itself, so guard on genuinely empty counts
        val live = counts.filter(_._2 > 0)
        if (live.isEmpty) done = true
        else {
          val (pat, cnt) = live.reduce { (a, b) =>
            if (a._2 > b._2 || (a._2 == b._2 && byteLt(a._1, b._1))) a else b
          }
          val Array(l, r) = pat.stripPrefix("<").stripSuffix(">").split("><", 2)
          merges += ((rank, l, r, cnt))
          words = words.map { case (freq, s) => (freq, s.replace(pat, s"<$l$r>")) }
          rank += 1
        }
      }
      return merges.toSeq.toDF("rank", "left", "right", "pair_count")
        .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
          col("pair_count"))
    }

    var wf = scope.cache(wfPlain)
    var done = false
    var rank = 1
    while (rank <= nMerges && !done) {
      val top = wf
        .select(explode(pairPatterns(col("s"))).as("pat"), col("freq"))
        .groupBy("pat").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pat").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val pat = top.head.getString(0)
        val cnt = top.head.getLong(1)
        val inner = pat.stripPrefix("<").stripSuffix(">") // "l><r"
        val Array(l, r) = inner.split("><", 2)
        merges += ((rank, l, r, cnt))
        wf = wf.select(col("freq"),
          call_function("replace", col("s"), lit(pat),
            lit(s"<$l$r>")).as("s"))
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        col("pair_count"))
  }

  /** Merge-order BPE ENCODE — apply a [[trainBpeMerges]] merge table to
    * text by merge RANK (the Sennrich apply loop), closing the
    * train→encode loop with the trained artifact's OWN semantics:
    * [[subwordIds]]' greedy longest-match is the WordPiece inference
    * rule and diverges from rank-order application on real corpora
    * (e.g. merges [(b,c) then (a,b)] on "abc": greedy over the merged
    * vocab takes "ab"+"c"; rank order takes "a"+"bc" — spec-pinned).
    * Returns the final symbol strings per document, word-major in
    * token order (`array<string>`; map to ids against a vocab table
    * downstream — the symbols ARE the artifact).
    *
    * Application rule pinned to the TRAINER's own rewrite: each word
    * becomes the `<sym>`-wrapped character string and every merge, in
    * rank order, splices as the literal left-to-right replacement
    * `replace(s, "<l><r>", "<lr>")` — exactly the operation
    * [[trainBpeMerges]] runs on its word table each round, so encoding
    * a training word reproduces the splitting the trainer ended with,
    * and matches are character-disjoint so every engine's replace
    * agrees (the train contract's determinism argument, verbatim).
    *
    * Execution: merges are LITERALS (the metadata-sized trained
    * artifact, the frozen-centroid doctrine) of one native pass,
    * [[graft.functions.BpeApplyRanked]]: each distinct word per task is
    * encoded once by imperative splices — a pure zero-shuffle projection
    * at any corpus size, spec-pinned bit-equal to the chain of literal
    * `replace` calls (which paid nMerges string rebuilds per token
    * INSTANCE: measured 180 s at docs×100, native ~its tokenize cost).
    * Empty `merges` runs zero splices: each word comes back split into
    * its characters.
    */
  def bpeApplyRanked(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeApplyRanked(expression(text), merges))

  /** Per-language stopword lists for the language-ID heuristic. Order is
    * the deterministic tie-break order.
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "nicht", "mit", "auf"),
    "es" -> Seq("el", "los", "de", "y", "un", "es", "que", "en", "una", "por"),
  )

  /** Count of boundary-delimited `words` in `lowered` — the native
    * literal-word scan, equal to `matchCount` of `\b(w1|w2|…)\b`.
    */
  private def stopwordCount(lowered: Column, words: Seq[String]): Column =
    column(WordSetCount(expression(lowered), words))

  /** Count of characters from a plain ASCII set — the native
    * set-membership scan, equal to `matchCount` of `[<chars>]`.
    */
  private def charSetCount(text: Column, chars: String): Column =
    column(CharSetCount(expression(text), chars))

  /** Per-language stopword-hit counts over lowercased text. */
  def langScores(text: Column): Seq[(String, Column)] =
    langScoresLowered(lower(text))

  /** ALL language scores as ONE array column (order = [[LangStopwords]]
    * order) — the fused single-scan native expression (alias the result
    * ONCE in its own projection, then `element_at` — the CSE rule).
    */
  def langScoresArray(lowered: Column): Column =
    column(LangScores(expression(lowered), LangStopwords.map(_._2)))

  /** [[langScores]] over a PRE-LOWERED column — alias `lower(text)`
    * once in its own projection when scoring several languages: the
    * lowercase pass is a full string copy, and CollapseProject keeps a
    * non-cheap alias used by all four scans from being inlined
    * four times (the SubwordEncode CSE rule).
    */
  def langScoresLowered(lowered: Column): Seq[(String, Column)] =
    LangStopwords.map { case (lang, words) =>
      lang -> stopwordCount(lowered, words)
    }

  /** The WHOLE language-ID row from one fused scan —
    * `struct(scores, best)` via [[graft.functions.LangBest]], so the
    * argmax rides the counting pass instead of a greatest/when-chain
    * projection (spec-pinned equal to [[langScoresArray]] +
    * [[langIdFromScores]]). Alias ONCE in its own projection, then read
    * `.getField("scores")`/`.getField("best")`; map `best` (−1 = "und")
    * to names with [[langNameFromBest]].
    */
  def langBestStruct(lowered: Column): Column =
    column(LangBest(expression(lowered), LangStopwords.map(_._2)))

  /** Map [[langBestStruct]]'s `best` index to the language name
    * ("und" for −1).
    */
  def langNameFromBest(best: Column): Column =
    LangStopwords.zipWithIndex.foldRight(lit("und"): Column) {
      case (((lang, _), i), acc) => when(best === i, lit(lang)).otherwise(acc)
    }

  /** Language ID: argmax of [[langScores]] with first-listed tie-break;
    * "und" when every score is zero.
    */
  def langId(text: Column): Column = langIdFromScores(langScores(text))

  /** The argmax half over already-computed score COLUMNS — pass
    * attribute references to score columns aliased in a previous
    * projection so each language scan evaluates ONCE for scores AND
    * argmax (inlining `langId(text)` next to `langScores(text)`
    * evaluates every scan twice).
    */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(best > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }

  /** Quality signals: character/token counts, mean token length,
    * punctuation / digit / stopword ratios, and a blended 0..1 score.
    * All ratios are 0 when the text is blank.
    */
  /** C4's LINE-level cleaning rules (Raffel et al. 2020 §2.2, public
    * knowledge) — the stage BELOW document granularity that
    * [[graft.llm.Pipeline.cleanCorpus]]'s doc-level funnel does not
    * cover: real extracted pages mix keepable prose lines with menu
    * stubs and script leftovers, and C4 keeps the prose. Pinned rules
    * (each a pure function both engines replay):
    *  - a LINE survives iff its trimmed form ends in terminal
    *    punctuation (`.` `!` `?` `"`), carries at least `minWords`
    *    whitespace tokens, and does not contain `javascript`
    *    (lowercased substring — the C4 rule verbatim);
    *  - the DOCUMENT is flagged for dropping (`drop_doc`) when it
    *    contains `lorem ipsum` (lowercased) or a `{` anywhere — the
    *    placeholder-text and source-code rules; flagging is returned,
    *    not applied, so callers compose it with their own filter stage.
    *
    * Returns `(n_lines, n_kept, drop_doc, clean_text)` where
    * `clean_text` re-joins surviving lines with `\n` in page order.
    * Scale shape: one pure HOF projection — zero shuffle at any corpus
    * size, fused into whatever scan feeds it.
    */
  def c4LineCols(text: Column, minWords: Int = 3): Seq[(String, Column)] = {
    require(minWords >= 0, "c4LineCols: minWords must be >= 0")
    val lines = split(text, "\n")
    def keep(l: Column): Column = {
      val t = trim(l)
      t.rlike("[.!?\"]$") && tokenCount(l) >= minWords &&
        !lower(l).contains("javascript")
    }
    val kept = filter(lines, keep(_))
    Seq(
      "n_lines" -> size(lines).cast("long"),
      "n_kept" -> size(kept).cast("long"),
      "drop_doc" -> (lower(text).contains("lorem ipsum") || text.contains("{")),
      "clean_text" -> array_join(kept, "\n"))
  }

  def qualityCols(text: Column): Seq[(String, Column)] = {
    val nChars  = length(text).cast("long")
    val nTokens = tokenCount(text)
    val safeTok = when(nTokens === 0, lit(1L)).otherwise(nTokens)
    val safeChr = when(nChars === 0, lit(1L)).otherwise(nChars)
    // non-ws codepoint count: length minus the ASCII \s chars (each one
    // codepoint) — no regex strip, no string copy
    val nonWs = nChars - charSetCount(text, " \t\n\u000B\f\r")
    val meanTokLen = nonWs.cast("double") / safeTok
    val punct = charSetCount(text, ".,;:!?").cast("double") / safeChr
    val digit = charSetCount(text, "0123456789").cast("double") / safeChr
    val stop  = stopwordCount(lower(text), LangStopwords.head._2).cast("double") / safeTok
    val lenScore = least(nChars.cast("double") / lit(200.0), lit(1.0))
    val score = lenScore * 0.4 +
      least(stop * 5.0, lit(1.0)) * 0.3 +
      (lit(1.0) - least(punct * 10.0, lit(1.0))) * 0.15 +
      (lit(1.0) - least(digit * 10.0, lit(1.0))) * 0.15
    Seq(
      "n_chars"      -> nChars,
      "n_tokens"     -> nTokens,
      "mean_tok_len" -> round(meanTokLen, 6),
      "punct_ratio"  -> round(punct, 6),
      "digit_ratio"  -> round(digit, 6),
      "stop_ratio"   -> round(stop, 6),
      "quality"      -> round(score, 6),
    )
  }

  /** Polynomial rolling-hash fingerprint over the document's *ASCII
    * projection* (non-ASCII codepoints are stripped first):
    * `h = fold(ascii_chars, 0)((a, c) => (a * 31 + c) mod FpMod)`.
    *
    * Restricting to ASCII makes the hash engine-independent: Spark splits
    * strings into UTF-16 code units while SQL engines (the DuckDB oracle)
    * split into code points, so surrogate-pair characters would otherwise
    * fingerprint differently. Within ASCII, char == code unit == code
    * point == UTF-8 byte.
    *
    * The native codegen'd [[graft.functions.AsciiRollingHash]]: one pass
    * over the UTF-8 bytes, no per-character substring allocation.
    */
  def fingerprint(text: Column): Column = column(AsciiRollingHash(expression(text), FpMod))

  /** Within-document repetition statistics (the Gopher-rule quality
    * family: Rae et al. 2021 filter documents whose most frequent word,
    * duplicate words, or most frequent n-gram take too large a
    * fraction): `struct(n_tokens, top_word_frac, dup_word_frac,
    * top_bigram_frac)` over lowercased whitespace tokens: one hash-map
    * pass per row ([[graft.functions.RepetitionStats]]). An HOF
    * formulation would re-filter the token array per distinct token —
    * O(distinct × n) per document, quadratic on low-redundancy text.
    * Fractions are unrounded here; round at the call site.
    */
  def repetitionStruct(text: Column): Column = column(RepetitionStats(expression(text)))

  /** Per-document repetition DataFrame: `idCol, n_tokens,
    * top_word_frac, dup_word_frac, top_bigram_frac` (fractions rounded
    * to 6). Two projections on purpose: the struct materializes once
    * per row in the inner one, and Catalyst's CollapseProject keeps it
    * that way (a single projection would re-evaluate the non-cheap
    * struct expression once per extracted field).
    */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol), repetitionStruct(col(textCol)).as("_r"))
      .select(col(idCol),
        col("_r.n_tokens").as("n_tokens"),
        round(col("_r.top_word_frac"), 6).as("top_word_frac"),
        round(col("_r.dup_word_frac"), 6).as("dup_word_frac"),
        round(col("_r.top_bigram_frac"), 6).as("top_bigram_frac"))

  /** Top-`k` corpus vocabulary by token frequency, deterministically
    * tie-broken by token — the vocabulary-construction half of
    * CCNet-style corpus-relative filtering (Wenzek et al. 2020 score
    * documents against a corpus-level language model; the vocabulary
    * cap is what keeps the model metadata-sized). One token-key
    * aggregation (map-side combined to distinct-tokens-per-partition)
    * followed by a distributed top-k — never a global sort of the
    * corpus.
    */
  def vocabulary(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, "vocabulary: k must be positive")
    docs.select(explode(graft.llm.Dedup.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(k)
  }

  /** Corpus-relative commonness per document: `in_vocab_frac` (share of
    * token positions covered by the vocabulary) and `mean_vocab_freq`
    * (mean corpus frequency of the covered positions) — a log-free
    * surprisal proxy: documents of rare or out-of-vocabulary words
    * score low, boilerplate scores high. Kept to exact integer counts
    * plus one double division per output so the DuckDB oracle
    * hash-matches (an ln-based perplexity would hang the gate on libm
    * last-ulp differences between engines).
    *
    * Scale shape: `vocab` is top-k = metadata-sized BY CONSTRUCTION, so
    * it broadcasts; the corpus explodes once against the broadcast and
    * re-aggregates per doc id — map-side combined (doc_id, long) pairs,
    * the only shuffle. Empty documents score (0.0, 0.0) via
    * `explode_outer`.
    */
  def commonness(docs: DataFrame, vocab: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val toks = docs.select(col(idCol),
      explode_outer(graft.llm.Dedup.tokens(col(textCol))).as("token"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(idCol).agg(
        count(col("token")).as("_n"),
        count(col("freq")).as("_nv"),
        coalesce(sum("freq"), lit(0L)).as("_s"))
      .select(col(idCol),
        round(when(col("_n") === 0, 0.0)
          .otherwise(col("_nv").cast("double") / col("_n")), 6).as("in_vocab_frac"),
        round(when(col("_nv") === 0, 0.0)
          .otherwise(col("_s").cast("double") / col("_nv")), 6).as("mean_vocab_freq"))
  }

  /** Hashed bigram language-model scoring (the CCNet/KenLM quality
    * idea re-expressed over hashed n-gram buckets): train unigram and
    * bigram bucket counts on `model` (default: the corpus itself), then
    * score every document's mean per-transition negative log-likelihood
    * under the smoothed conditional
    * `p(w_i|w_{i-1}) = (c_big + α) / (c_uni + α·bigBuckets)`. Low
    * `mean_nll` = text whose transitions the corpus has seen (fluent
    * boilerplate scores low, gibberish high) — the standard
    * perplexity-style quality filter, deliberately left in nats without
    * the final `exp` (exp's libm rounding differs across engines; the
    * monotone surface filters identically). Returns
    * `(idCol, n_pairs, mean_nll)` with `mean_nll` NULL for docs with
    * fewer than two tokens.
    *
    * Determinism contract (the [[graft.llm.Pipeline.importanceWeights]]
    * recipe): both `ln`s are quantized to exact 1e-6 BIGINT ticks at
    * BUCKET granularity, so the data-sized per-document sum is pure
    * integer arithmetic; the mean divides two exact integers at the
    * end. An unseen bigram bucket scores `ln(α)` ticks computed
    * JVM-side — exactly 0 for the default α=1, which keeps the graded
    * surface libm-free (unseen CONTEXT buckets cannot occur when the
    * model is the corpus itself).
    *
    * Scale shape: two training aggregations (map-side combined,
    * metadata-sized outputs ≤ uniBuckets/bigBuckets rows) broadcast to
    * one scoring scan — three scans total, nothing data-sized shuffles
    * except the per-doc integer sum. Gram hashing is the native
    * one-pass [[graft.functions.GramBuckets]].
    */
  def bigramNll(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                model: Option[DataFrame] = None,
                uniBuckets: Int = 2048, bigBuckets: Int = 8192,
                alpha: Double = 1.0): DataFrame = {
    require(uniBuckets > 0 && bigBuckets > 0, "bigramNll: bucket counts must be positive")
    require(alpha > 0, "bigramNll: alpha must be positive (a zero bucket has no finite log)")
    import org.apache.spark.sql.functions.broadcast
    def gramB(text: Column, n: Int, buckets: Int): Column =
      column(GramBuckets(expression(text), Seq(n), buckets))
    val train = model.getOrElse(docs)
    val qu = train.select(explode(gramB(col(textCol), 1, uniBuckets)).as("_bu"))
      .groupBy("_bu").agg(count(lit(1)).as("_cu"))
      .select(col("_bu"),
        floor(log(col("_cu") + alpha * bigBuckets) * 1e6 + 0.5).cast("long").as("_tu"))
    val qb = train.select(explode(gramB(col(textCol), 2, bigBuckets)).as("_bb"))
      .groupBy("_bb").agg(count(lit(1)).as("_cb"))
      .select(col("_bb"),
        floor(log(col("_cb") + alpha) * 1e6 + 0.5).cast("long").as("_tb"))
    val defU = math.floor(math.log(alpha * bigBuckets) * 1e6 + 0.5).toLong
    val defB = math.floor(math.log(alpha) * 1e6 + 0.5).toLong
    // Transition i pairs context bucket uni[i] with bigram bucket big[i],
    // i ∈ [1, n_tokens−1]; explode_outer keeps <2-token docs as one
    // null-pair row so they survive to the output with n_pairs = 0.
    val scored = docs
      .select(col(idCol), gramB(col(textCol), 1, uniBuckets).as("_ua"),
        gramB(col(textCol), 2, bigBuckets).as("_ba"))
      .withColumn("_np", greatest(size(col("_ua")) - 1, lit(0)))
      .select(col(idCol), explode_outer(
        zip_with(slice(col("_ua"), lit(1), col("_np")),
          slice(col("_ba"), lit(1), col("_np")),
          (u, b) => struct(u.as("bu"), b.as("bb")))).as("_p"))
      .select(col(idCol), col("_p.bu").as("_bu"), col("_p.bb").as("_bb"))
    scored
      .join(broadcast(qu), Seq("_bu"), "left")
      .join(broadcast(qb), Seq("_bb"), "left")
      .groupBy(idCol)
      .agg(count(col("_bu")).as("n_pairs"),
        sum(when(col("_bu").isNotNull,
          coalesce(col("_tu"), lit(defU)) - coalesce(col("_tb"), lit(defB)))).as("_st"))
      .select(col(idCol), col("n_pairs"),
        ((col("_st") / 1e6) / col("n_pairs")).as("mean_nll"))
  }

  /** Corpus collocations by pointwise mutual information: the top-k
    * adjacent token pairs whose co-occurrence beats independence,
    * `pmi = ln(p(w1 w2) / (p(w1)·p(w2)))` with each probability the
    * count/total multinomial — the classic vocabulary-level analytic a
    * tokenizer/phrase-mining pass runs before training. `minCount`
    * guards the classic PMI pathology (a pair seen once between two
    * hapaxes scores arbitrarily high).
    *
    * Determinism contract: counts stay exact BIGINTs through every
    * aggregation; the single ln per OUTPUT ROW evaluates one pinned
    * expression shape — `(c_ab·Nu·Nu) / (Nb·c_a·c_b)` cast to double
    * once on each side's leading factor, left-associated — and rounds
    * to 6; the top-k orders by the ROUNDED value with `(w1, w2)`
    * tiebreak, so the selected set never depends on sub-1e-6 libm
    * drift.
    *
    * Scale shape: ONE corpus scan — both count tables come from a single
    * tagged aggregation (a bigram is emitted as `"w1 w2"`, unambiguous
    * because tokens cannot contain whitespace). The scan is
    * [[graft.functions.GramCounts]] — a per-document hash-map pass that
    * pre-aggregates in-doc repeats, so the explode emits distinct grams
    * per doc, not instances (the original two-scan instance-explode
    * formulation measured 10.9 s at 500k docs; this one 6.3 s). The
    * combined count table is vocabulary-sized (map-side combined; at
    * 100 TB of text the vocab is millions of rows, the corpus trillions
    * of instances) and CACHED for its four references (two totals + two
    * join sides). The PMI joins key on words (vocab-sized shuffles),
    * totals broadcast as one-row tables, and the top-k plans as
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    */
  def collocations(docs: DataFrame, textCol: String = "text",
                   minCount: Long = 5, k: Int = 50,
                   scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame = {
    require(minCount >= 1, "collocations: minCount must be >= 1")
    require(k >= 1, "collocations: k must be >= 1")
    import org.apache.spark.sql.functions.broadcast
    val counts = scope.cache(
      docs.select(explode(column(GramCounts(expression(col(textCol))))).as("_e"))
        .groupBy(col("_e.g").as("_g")).agg(sum(col("_e.c")).as("_c")))
    val uni = counts.filter(!col("_g").contains(" "))
    val cb = counts.filter(col("_g").contains(" "))
      .select(split(col("_g"), " ").getItem(0).as("w1"),
        split(col("_g"), " ").getItem(1).as("w2"), col("_c").as("n_ab"))
    val nu = uni.agg(sum("_c").as("_nu"))
    val nb = cb.agg(sum("n_ab").as("_nb"))
    cb.filter(col("n_ab") >= minCount)
      .join(uni.select(col("_g").as("w1"), col("_c").as("_ca")), "w1")
      .join(uni.select(col("_g").as("w2"), col("_c").as("_cb")), "w2")
      .crossJoin(broadcast(nu))
      .crossJoin(broadcast(nb))
      .withColumn("pmi", round(log(
        (col("n_ab").cast("double") * col("_nu") * col("_nu")) /
          (col("_nb").cast("double") * col("_ca") * col("_cb"))), 6))
      .select(col("w1"), col("w2"), col("n_ab"), col("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(k)
  }

  /** PII patterns for detection/redaction before training-data release.
    * Every construct (char classes, bounded repetition, `\b`) means the
    * same thing to Java regex (Spark) and RE2 (DuckDB/ripgrep), so the
    * oracle replays the exact match set; no lookarounds or backrefs.
    * Phone is intentionally strict (`+CC NNN NNN NNN` international
    * form) — a loose phone regex is the classic false-positive machine
    * on numeric tables, and precision matters more than recall when the
    * action is destructive redaction.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9]{1,3} [0-9]{3} [0-9]{3} [0-9]{3}", "<PHONE>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
  )

  /** Per-kind PII match counts (codegen'd `regexp_count` projections) —
    * the declarative form of [[piiAnalysis]]'s counts.
    */
  def piiCols(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (kind, pat, _) => s"n_$kind" -> matchCount(text, pat) }

  /** Text with every PII match replaced by its placeholder, applied in
    * [[PiiPatterns]] order (email first: an IP-shaped string inside an
    * email domain is redacted as part of the email, never double-hit).
    * Pure per-row projection — zero shuffle at any corpus size: the
    * native single scan [[graft.functions.PiiScan]] (one struct field
    * read = one evaluation), spec-pinned equal to the sequential
    * `regexp_replace` chain.
    */
  def redactPii(text: Column): Column =
    column(PiiScan(expression(text))).getField("redacted")

  /** The combined PII table over a corpus: `(idCol, n_email, n_phone,
    * n_ip, red_fp)` — counts over the original text, fingerprint of the
    * sequentially-redacted text. ONE [[graft.functions.PiiScan]] struct
    * aliased in its own projection (the SubwordEncode CSE rule — four
    * getFields of an inlined non-cheap expression would evaluate the
    * scan four times), then the fingerprint over the redacted field.
    */
  def piiAnalysis(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), column(PiiScan(expression(col(textCol)))).as("_pii"))
      .select(col(idCol),
        col("_pii.n_email").as("n_email"),
        col("_pii.n_phone").as("n_phone"),
        col("_pii.n_ip").as("n_ip"),
        fingerprint(col("_pii.redacted")).as("red_fp"))

  /** The full analysis DataFrame over a `documents`-shaped table. Runs
    * in any session, with or without `spark.sql.extensions`: the native
    * expressions are built directly, not looked up by name.
    */
  def analyze(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val quality = qualityCols(t)
    docs.select(
      (col(idCol) +: quality.map { case (n, c) => c.as(n) }) ++
        Seq(langId(t).as("lang_id"), fingerprint(t).as("fingerprint")): _*
    )
  }
}
