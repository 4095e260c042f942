package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.Dedup

/** Property-style pinning of the native expressions against their
  * declarative twins over generated inputs — the null/multibyte/short
  * corner cases in DedupSpec plus the space between them. Inputs come
  * from seeded scalacheck generators (scalatestplus is not in the
  * offline cache), so failures reproduce exactly.
  */
class NativeEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  // strings mixing ASCII, whitespace runs, 2-byte latin, CJK, non-BMP
  // emoji (surrogate pairs), and the odd LONE surrogate — every UTF-8
  // width class plus malformed input
  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", "  ", "\t", "\n"),
    1 -> Gen.oneOf("é", "ü", "ß", "ñ"),
    1 -> Gen.oneOf("水", "火", "Ж"),
    1 -> Gen.oneOf("😀", "🎉", "𝔘"),
    1 -> Gen.const("\ud83d"), // lone high surrogate (malformed)
  )).map(_.mkString)

  private def sampled[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private def declMd5(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  test("graft_shingle_hashes == declarative chain on generated strings") {
    val df = (sampled(genText, 300, 7L) :+ null).toDF("text")
    val bad = df.select(col("text"),
        Dedup.distinctNgramHashes(col("text"), 5).as("nat"),
        array_distinct(transform(graft.llm.ReferenceTwins.charShingles(col("text"), 5),
          g => declMd5(g))).as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_word_ngram_hashes == declarative chain on generated strings") {
    def decl(c: org.apache.spark.sql.Column, n: Int) = {
      val toks = Dedup.tokens(c)
      array_distinct(transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => declMd5(concat_ws(" ", slice(toks, i, lit(n))))))
    }
    val df = (sampled(genText, 300, 11L) :+ null).toDF("text")
    val bad = df.select(col("text"),
        call_function("graft_word_ngram_hashes", col("text"), lit(3)).as("nat"),
        decl(col("text"), 3).as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_repetition == HOF twin, bit-identical doubles, on generated strings") {
    val df = (sampled(genText, 300, 17L) :+ null).toDF("text")
    val bad = df.select(col("text"),
        call_function("graft_repetition", col("text")).as("nat"),
        graft.llm.ReferenceTwins.repetitionHof(col("text")).as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_gram_buckets == declarative chain on generated strings") {
    def decl(c: org.apache.spark.sql.Column, ns: Seq[Int], buckets: Int) = {
      val toks = Dedup.tokens(c)
      ns.map { n =>
        transform(
          sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
          i => declMd5(concat_ws(" ", slice(toks, i, lit(n)))) % buckets)
      }.reduce(concat(_, _))
    }
    val df = (sampled(genText, 300, 23L) :+ null).toDF("text")
    val bad = df.select(col("text"),
        call_function("graft_gram_buckets", col("text"), lit("1,2"), lit(512)).as("nat"),
        decl(col("text"), Seq(1, 2), 512).as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_gram_tick_sum == HOF fold over graft_gram_buckets with a random " +
    "tick table on generated strings") {
    val rnd = new scala.util.Random(99L)
    val ticks = Array.fill(512)(rnd.nextLong() % 2000000L)
    val intercept = 314159L
    val ticksArr = array(ticks.map(lit): _*)
    val hof = aggregate(
      call_function("graft_gram_buckets", col("text"), lit("1,2"), lit(512)),
      lit(intercept),
      (acc, b) => acc + element_at(ticksArr, (b + 1).cast("int")))
    val df = (sampled(genText, 300, 43L) :+ null).toDF("text")
    val bad = df.select(col("text"),
        call_function("graft_gram_tick_sum", col("text"), lit("1,2"), lit(512),
          lit(intercept), lit(ticks)).as("nat"),
        hof.as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_hash_embed == HOF scatter twin on generated strings (signed " +
    "bucket votes, quotient-parity sign)") {
    import graft.llm.Embeddings
    val dim = 16
    // the declarative twin: per-row scatter fold over raw gram-instance
    // hashes (bucket AND sign both derive from the same 32-bit prefix);
    // h < 2^32 so the double quotient is exact
    val toks = Dedup.tokens(col("text"))
    val hs = Seq(1, 2).map { n =>
      transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => declMd5(concat_ws(" ", slice(toks, i, lit(n)))))
    }.reduce(concat(_, _))
    val hof = transform(sequence(lit(0), lit(dim - 1)), i =>
      aggregate(hs, lit(0), (acc, h) =>
        acc + when((h % dim).cast("int") === i,
          when(floor(h / dim).cast("long") % 2 === 0, 1).otherwise(-1))
          .otherwise(0)))
    val df = (sampled(genText, 300, 57L) :+ null).toDF("text")
    val bad = df.select(col("text"),
        Embeddings.hashEmbed(col("text"), Seq(1, 2), dim).as("nat"),
        hof.as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_gram_counts == declarative per-doc instance counts on generated strings") {
    val df = (sampled(genText, 300, 31L) :+ null).toDF("text")
    val toks = Dedup.tokens(col("text"))
    val bgs = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val all = concat(toks, bgs)
    val decl = transform(array_distinct(all), g =>
      struct(g.as("g"), size(filter(all, x => x === g)).cast("long").as("c")))
    val bad = df.select(col("text"),
        array_sort(call_function("graft_gram_counts", col("text"))).as("nat"),
        array_sort(decl).as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_pq_code == HOF argmin twin, bit-identical ticks, on generated vectors") {
    // vectors with adversarial magnitudes (ties at the tick boundary are
    // what the HALF_UP pin protects); book from the same generator
    val genVal = Gen.frequency(
      5 -> Gen.chooseNum(-3.0, 3.0),
      2 -> Gen.chooseNum(-3000.0, 3000.0),
      1 -> Gen.oneOf(0.0, 0.5e-6, 1.0e-6, -0.5e-6))
    val dim = 16
    val m = 4 // 4 subspaces x 4 dims
    val d = dim / m
    val genVec = Gen.listOfN(dim, genVal).map(_.toArray)
    val vecs = sampled(genVec, 300, 77L)
    val book: Array[Array[Double]] =
      sampled(Gen.listOfN(d, genVal).map(_.toArray), 8, 99L).toArray
    val df = vecs.map(v => Tuple1(v.toSeq)).toDF("v")
    (0 until m).foreach { j =>
      // HOF twin inlined (Similarity.subDistTicksArr + a (ticks, index) argmin)
      val sv = slice(col("v"), j * d + 1, d)
      val cwLit = array(book.map(cw =>
        array(cw.map(lit): _*)): _*)
      val ticks = transform(cwLit, c =>
        round(aggregate(zip_with(sv, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t) * lit(1e6)).cast("long"))
      val scored = zip_with(ticks, sequence(lit(0), lit(book.length - 1)),
        (t, i) => struct(t.as("d"), i.as("c")))
      val hof = element_at(array_sort(scored), 1).getField("c")
      val bad = df.select(
          call_function("graft_pq_code", col("v"),
            typedLit(book.map(_.toSeq).toSeq), lit(j * d)).as("nat"),
          hof.as("dec"))
        .filter(not(col("nat") <=> col("dec")))
      assert(bad.count() === 0L,
        s"subspace $j: " + bad.collect().take(3).mkString("\n"))
    }
  }

  test("graft_term_hits == tokenize/size/count twin on generated strings") {
    val df = (sampled(genText, 300, 41L) ++
      Seq(null, "", "   ", "the THE The\tthe\n", "hash join hash")).toDF("text")
    val terms = Seq("the", "hash", "join", "é水", "😀")
    val toks = Dedup.tokens(col("text"))
    val declDl = size(toks).cast("long")
    val declTf = transform(typedLit(terms), t =>
      size(filter(toks, x => x === t)).cast("long"))
    val bad = df.select(
        call_function("graft_term_hits", col("text"), typedLit(terms)).as("nat"),
        when(col("text").isNull, lit(null))
          .otherwise(struct(declDl.as("dl"), declTf.as("tf"))).as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_subword_encode == HOF fold twin on generated strings (greedy longest " +
    "match, codepoint-wide unknowns)") {
    val df = (sampled(genText, 250, 97L) ++
      Seq(null, "", "   ", "the theatre thesis", "abcabcx qq", "水水é😀 a水b"))
      .toDF("text")
    // overlapping prefixes exercise the longest-match rule; multibyte
    // entries exercise byte-trie vs char-substring agreement
    val vocab = Seq("a", "b", "c", "ab", "abc", "th", "the", "q", "1", "水", "é")
    val native = call_function("graft_subword_encode", col("text"),
      array(vocab.map(lit): _*))
    // the HOF twin, inlined against the same vocab: per word, fold
    // positions 1..len carrying (cursor, ids); vocab sorted length-desc
    // so the FIRST filter survivor is the longest match
    val ordered = vocab.zipWithIndex.sortBy { case (w, i) => (-w.length, i) }
    val vlit = array(ordered.map { case (w, i) =>
      struct(lit(w).as("w"), lit(i).as("id"))
    }: _*)
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val perWord = transform(words, w =>
      aggregate(
        sequence(lit(1), length(w)),
        struct(lit(1).as("cur"), array().cast("array<int>").as("ids")),
        (st, pos) => {
          val hit = try_element_at(filter(vlit,
            v => pos === st.getField("cur") &&
              substring(w, pos, length(v.getField("w"))) === v.getField("w")), lit(1))
          when(pos < st.getField("cur"), st)
            .when(hit.isNotNull,
              struct((pos + length(hit.getField("w"))).as("cur"),
                concat(st.getField("ids"), array(hit.getField("id"))).as("ids")))
            .otherwise(
              struct((pos + 1).as("cur"),
                concat(st.getField("ids"), array(lit(-1))).as("ids")))
        },
        st => st.getField("ids")))
    val decl = when(col("text").isNotNull, flatten(perWord))
    val bad = df.select(native.as("nat"), decl.as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
    // hand-checked greediness: "theatre" = the + a + -1(t) + -1(r) + -1(e)... with
    // this vocab: t-h-e matches "the"(6); then "atre": a(0), -1(t), -1(r), -1(e)
    val one = Seq("theatre abc ab").toDF("text")
      .select(native.as("ids")).collect().head.getSeq[Int](0)
    assert(one === Seq(6, 0, -1, -1, -1, 4, 3))
  }

  // markup-rich strings: block tags, anchors (all casings/quotings),
  // containers (closed and unclosed), entities (incl. double-encoded),
  // almost-tags, stray brackets, multibyte text — the edge surface the
  // imperative scanner must agree with the regex pipeline on
  private val genHtml: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.const(" "),
    2 -> Gen.oneOf("<p>", "</p>", "<div class='x'>", "</div>", "<br/>", "<h1>",
      "</h1>", "<li>", "<td x=1>", "<TABLE>", "<pre>"),
    2 -> Gen.oneOf("<a href='/x'>", "<a>", "</a>", "<A HREF=\"/y\">", "link"),
    1 -> Gen.oneOf("<script>var x=1;</script>", "<style>p{}</style>",
      "<head><title>t</title></head>", "<!-- c -->", "<script>unclosed",
      "<header x>", "<SCRIPT a>y</script>"),
    1 -> Gen.oneOf("&amp;", "&lt;", "&nbsp;", "&amp;lt;", "&#39;", "&gt;"),
    1 -> Gen.oneOf("<", ">", "</", "<ph>", "<abbr>", "<h7>", "<h1-x>", "<a/>",
      "<aside>", "< p>", "<p", "\t", "\n"),
    1 -> Gen.oneOf("水", "😀", "é"),
  )).map(_.mkString)

  // fragments that stress every backtracking edge of the three PII
  // patterns: runs longer than the quantifier bounds, boundary digits,
  // dots in wrong places, '+' inside email locals, overlapping spans
  private val genPii: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.const(" "),
    2 -> Gen.oneOf("user@example.com", "a@b.cd", "x@y.z", "a.b@c-d.ef",
      "@nope", "no@tld", "x@.ab", "x@a.", "a@b@c.de", "u%+-@d9.ab9",
      "@@", "a@b.c"),
    2 -> Gen.oneOf("+33 555 123 214", "+1 234 567 890", "+1234 555 666 777",
      "+12 34 567 890", "+33 555 123 2145", "+33  555 123 214", "+ 33", "+"),
    2 -> Gen.oneOf("10.0.3.44", "1.2.3.4", "1234.5.6.7", "1.2.3.4567",
      "1.2.3.45.6", "10.0.3.44x", "a1.2.3.4", ".1.2.3.4", "1.2.3", "..."),
    1 -> Gen.oneOf(".", "-", "_", "%", "+", "@", "水", "😀"),
  )).map(_.mkString)

  test("graft_pii_scan == declarative regex counts + sequential redaction " +
    "chain on generated adversarial text") {
    import graft.llm.TextAnalysis
    val df = (sampled(genPii, 300, 61L) ++ Seq(null, "",
      "+123 456 789 012@abc.de", // email swallows the phone's tail
      "x@1.2.3.4.de 1.2.3.4"))   // ip inside a redacted email domain
      .toDF("text")
    val Seq(email, phone, ip) = TextAnalysis.PiiPatterns.map(_._2)
    val declRed = TextAnalysis.PiiPatterns.foldLeft(col("text")) {
      case (t, (_, pat, rep)) => regexp_replace(t, pat, rep)
    }
    val nat = call_function("graft_pii_scan", col("text"))
    val bad = df.select(col("text"), nat.as("n"),
        when(col("text").isNotNull, struct(
          regexp_count(col("text"), lit(email)).cast("long").as("n_email"),
          regexp_count(col("text"), lit(phone)).cast("long").as("n_phone"),
          regexp_count(col("text"), lit(ip)).cast("long").as("n_ip"),
          declRed.as("redacted"))).as("d"))
      .filter(not(col("n") <=> col("d")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_bpe_count == regexp_count(BpePattern) on generated text " +
    "(contractions, optional-space runs, non-ASCII merging)") {
    import graft.llm.TextAnalysis
    val genBpe: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf(" ", "  ", "\t", "\n"),
      2 -> Gen.oneOf("don't", "we're", "I'll", "it's", "I'd", "you've", "I'm",
        "'x", "''", "'", "'re", "'l"),
      2 -> Gen.oneOf(",", ".", "?!", "--", "a1", "1a", " 5", " .", "+"),
      1 -> Gen.oneOf("水", "😀", "é", "\ud83d", "a水b"),
    )).map(_.mkString)
    val df = (sampled(genBpe, 300, 71L) ++ Seq(null, "", "   ",
      "don't stop", "'s't're've'm'll'd")).toDF("text")
    val bad = df.select(col("text"),
        call_function("graft_bpe_count", col("text")).as("nat"),
        regexp_count(col("text"), lit(TextAnalysis.BpePattern)).cast("long").as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(5).mkString("\n"))
  }

  test("graft_ws_count == trim+split token count on generated whitespace-heavy " +
    "text (leading/trailing empty-segment quirks included)") {
    val df = (sampled(genText, 300, 83L) ++ Seq(null, "", " ", "\t", "  \t  ",
      "\ta b", "a \t", " a ", "a\u000Bb", "\n\n")).toDF("text")
    val decl = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    val bad = df.select(col("text"),
        call_function("graft_ws_count", col("text")).as("nat"), decl.as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(5).mkString("\n"))
  }

  test("graft_charset_count and graft_word_count == their regex twins on " +
    "generated text (boundary quirks, alternation order, overlap-adjacent words)") {
    import graft.llm.TextAnalysis
    val genWordy: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.oneOf("the", "a", "and", "that", "it", "for", "theand", "athe",
        "x", "q7", "_the", "the_", "thé"),
      3 -> Gen.oneOf(" ", ",", ".", "-", "!", "?", ";", ":"),
      1 -> Gen.oneOf("水the水", "😀a😀", "éandé", "1the2"),
    )).map(_.mkString(""))
    val words = TextAnalysis.LangStopwords.head._2
    val df = (sampled(genWordy, 300, 89L) ++ Seq(null, "", "the", "thethe",
      "the,the", "a a a", "\ud835\udd18the", "\ud835\udd18 the", "😀the")).toDF("text")
    val pat = words.mkString("\\b(", "|", ")\\b")
    val bad = df.select(col("text"),
        call_function("graft_word_count", lower(col("text")),
          array(words.map(lit): _*)).as("nw"),
        regexp_count(lower(col("text")), lit(pat)).cast("long").as("dw"),
        call_function("graft_charset_count", col("text"), lit(".,;:!?")).as("np"),
        regexp_count(col("text"), lit("[.,;:!?]")).cast("long").as("dp"),
        call_function("graft_charset_count", col("text"), lit("0123456789")).as("nd"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("dd"))
      .filter(not(col("nw") <=> col("dw")) || not(col("np") <=> col("dp")) ||
        not(col("nd") <=> col("dd")))
    assert(bad.count() === 0L, bad.collect().take(5).mkString("\n"))
  }

  test("graft_lang_scores == per-language regexp counts on generated text " +
    "(fused scan, per-language cursors)") {
    import graft.llm.TextAnalysis
    val genWordy2: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.oneOf("the", "la", "der", "el", "und", "de", "los", "for",
        "that", "es", "est", "ist", "in", "en"),
      3 -> Gen.oneOf(" ", ",", ".", "-", "水", "é"),
    )).map(_.mkString(""))
    val df = (sampled(genWordy2, 300, 101L) ++
      Seq(null, "", "the la der el", "dela derde")).toDF("text")
    val arrays = call_function("graft_lang_scores", lower(col("text")),
      array(TextAnalysis.LangStopwords.map { case (_, ws) =>
        array(ws.map(lit): _*) }: _*))
    val decl = array(TextAnalysis.LangStopwords.map { case (_, ws) =>
      regexp_count(lower(col("text")),
        lit(ws.mkString("\\b(", "|", ")\\b"))).cast("long") }: _*)
    // null text: native yields a null ARRAY, the declarative an array of
    // nulls — element_at makes them indistinguishable downstream, so the
    // comparison normalizes (the query-level results are pinned by the
    // text_langid oracle)
    val bad = df.select(col("text"), arrays.as("nat"),
        when(col("text").isNotNull, decl).as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(5).mkString("\n"))
  }

  test("graft_lang_best == graft_lang_scores + the declarative argmax " +
    "(fused language-ID, first-listed tie-break, -1 when all zero)") {
    import graft.llm.TextAnalysis
    val genWordy3: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.oneOf("the", "la", "der", "el", "und", "de", "los", "for",
        "that", "es", "est", "ist", "in", "en"),
      3 -> Gen.oneOf(" ", ",", ".", "-", "水", "é"),
    )).map(_.mkString(""))
    val df = (sampled(genWordy3, 300, 103L) ++
      Seq(null, "", "the la der el", "zzz qqq")).toDF("text")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    // the graded construction: fused struct, field reads, name mapping
    val fused = df
      .select(col("text"), TextAnalysis.langBestStruct(lower(col("text"))).as("_lb"))
      .select(col("text"), col("_lb.scores").as("scores"),
        TextAnalysis.langNameFromBest(col("_lb.best")).as("lang_id"))
    // the pre-fusion twin: scores array + greatest/when-chain argmax
    val scoreRefs = langs.zipWithIndex.map { case (l, k) =>
      l -> element_at(col("_ls"), k + 1) }
    val twin = df
      .select(col("text"), TextAnalysis.langScoresArray(lower(col("text"))).as("_ls"))
      .select(col("text"), col("_ls").as("scores"),
        TextAnalysis.langIdFromScores(scoreRefs).as("lang_id"))
    assert(fused.exceptAll(twin).count() === 0L)
    assert(twin.exceptAll(fused).count() === 0L)
  }

  test("graft_html_extract == declarative regex pipeline on generated markup " +
    "(multiple thresholds)") {
    val df = (sampled(genHtml, 300, 53L) ++ Seq(null, "", "   ",
      "plain words only here", "<p>a b c</p><nav><a href='/'>x</a></nav>"))
      .toDF("h")
    for ((mw, mld) <- Seq((3, 0.33), (0, 1.0), (1, 0.0), (2, 0.5))) {
      val nat = call_function("graft_html_extract", col("h"), lit(mw), lit(mld))
      val dec = graft.llm.ReferenceTwins.extractTextDeclarative(col("h"), mw, mld)
      val bad = df.select(col("h"), nat.as("nat"), dec.as("dec"))
        .filter(not(col("nat") <=> col("dec")))
      assert(bad.count() === 0L,
        s"(minWords=$mw, mld=$mld):\n" + bad.collect().take(3).mkString("\n"))
    }
  }

  test("trainBpeMerges: hand-checked merge sequence, frequency-weighted, stops when dry") {
    // wf: "aba" x2, "ab" x1 → round 1: (a,b) = 2+1 = 3 beats (b,a) = 2;
    // round 2: (ab,a) = 2; round 3: nothing left → early stop
    val docs = Seq("aba aba", "ab").toDF("text")
    val out = graft.llm.TextAnalysis.trainBpeMerges(docs, "text", nMerges = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, "a", "b", 3L), (2L, "ab", "a", 2L)))
    // tie-break: "xy" x1 + "yx" x1 → (x,y) and (y,x) both 1; "<x><y>" wins
    val tie = graft.llm.TextAnalysis.trainBpeMerges(
      Seq("xy yx").toDF("text"), "text", 1).collect().head
    assert((tie.getString(1), tie.getString(2)) === (("x", "y")))
  }

  test("trainBpeMerges: driver-local rounds == distributed rounds (maxDriverWords=0 " +
    "forces the fallback) on a multi-round corpus with ties") {
    val docs = Seq("the theme there", "then the them", "ab ab ba theme")
      .toDF("text")
    def run(cap: Int) = graft.llm.TextAnalysis.trainBpeMerges(
        docs, "text", nMerges = 8, maxDriverWords = cap)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(run(2000000) === run(0))
  }

  test("graft_chunks: Pipeline.chunk native path == declarative slice/rehash twin " +
    "on generated strings") {
    val df = (sampled(genText, 300, 41L) :+ null).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // the declarative twin, verbatim from the withText branch's plan
    def decl(chunkTokens: Int, stride: Int) = {
      val nChunks = floor((greatest(col("_n") - chunkTokens, lit(0)) + (stride - 1))
        / lit(stride.toDouble)) + 1
      val piece = slice(col("_ts"), col("chunk_id") * stride + 1, lit(chunkTokens))
      df.select(col("doc_id"), Dedup.tokens(col("text")).as("_ts"))
        .withColumn("_n", size(col("_ts")))
        .filter(col("_n") > 0)
        .withColumn("chunk_id", explode(sequence(lit(0L), nChunks.cast("long") - 1)))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          (col("chunk_id") * stride).cast("long").as("start_tok"),
          size(piece).cast("long").as("n_tokens"),
          declMd5(concat_ws(" ", piece)).as("chunk_hash"))
    }
    for ((ct, st) <- Seq((4, 3), (4, 4), (1, 1), (7, 2))) {
      val nat = graft.llm.Pipeline.chunk(df, "doc_id", "text", ct, st)
      assert(nat.queryExecution.analyzed.toString.contains("graft_chunks"),
        "chunk without text must plan the native expression")
      assert(nat.exceptAll(decl(ct, st)).count() === 0L)
      assert(decl(ct, st).exceptAll(nat).count() === 0L)
    }
  }

  test("graft_bpe_ranked == declarative replace-chain twin on generated strings " +
    "(memoized imperative splice vs literal wrapped replaces)") {
    // merges chosen to chain (later merges consume earlier outputs) and
    // to hit the overlapping-occurrence rule ("aa" case)
    val merges = Seq(("a", "a"), ("aa", "a"), ("b", "c"), ("a", "b"),
      ("é", "ü"), ("水", "火"))
    val genWordy: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("a", "b", "c", "aa", "abc", "aaa", "aaaa", "bc"),
      2 -> Gen.oneOf(" ", "  ", "\t"),
      1 -> Gen.oneOf("é", "ü", "水", "火", "éü", "😀"),
    )).map(_.mkString)
    val df = (sampled(genWordy, 300, 53L) ++ sampled(genText, 100, 59L) :+ null)
      .toDF("text")
    def decl(text: org.apache.spark.sql.Column) = {
      val words = filter(split(text, "\\s+"), w => length(w) > 0)
      flatten(transform(words, w => {
        val wrapped = concat_ws("",
          transform(split(w, ""), c => concat(lit("<"), c, lit(">"))))
        val merged = merges.foldLeft(wrapped) { case (s, (l, r)) =>
          call_function("replace", s, lit(s"<$l><$r>"), lit(s"<$l$r>"))
        }
        split(regexp_replace(merged, "^<|>$", ""), "><")
      }))
    }
    val bad = df.select(col("text"),
        call_function("graft_bpe_ranked", col("text"),
          array(merges.map { case (l, r) => array(lit(l), lit(r)) }: _*)).as("nat"),
        when(col("text").isNotNull, decl(col("text"))).as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(5).mkString("\n"))
  }

  test("graft_minhash_sigs == per-permutation array_min(transform) chain, " +
    "consumed the way minhashSignature consumes it (element_at per k)") {
    val K = 12
    // md5-32-range hashes plus null elements; whole-array edge rows:
    // empty, all-null elements, null array
    val genArr: Gen[Seq[Option[Long]]] =
      Gen.listOf(Gen.option(Gen.chooseNum(0L, 4294967295L)))
    val rows: Seq[Option[Seq[Option[Long]]]] =
      sampled(genArr, 300, 17L).map(Some(_)) ++
        Seq(Some(Seq.empty), Some(Seq(None, None)), None)
    val df = rows.toDF("sh")
    val nat = struct((0 until K).map(k =>
      element_at(call_function("graft_minhash_sigs", col("sh"), lit(K)), k + 1)
        .as(s"s_$k")): _*)
    val dec = struct((0 until K).map { k =>
      val (a, b) = Dedup.minhashCoeff(k)
      array_min(transform(col("sh"), h => (h * a + b) % Dedup.MinhashP)).as(s"s_$k")
    }: _*)
    val bad = df.select(col("sh"), nat.as("nat"), dec.as("dec"))
      .filter(not(col("nat") <=> col("dec")))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }

  test("graft_set_overlap == array_intersect/array_union sizes on generated arrays") {
    val genArr = Gen.listOf(Gen.chooseNum(0L, 30L)) // small domain → real overlaps
    val pairs = sampled(Gen.zip(genArr, genArr), 300, 13L)
    val df = pairs.toDF("a", "b")
    val bad = df.select(
        call_function("graft_set_overlap", col("a"), col("b")).as("o"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("i"),
        size(array_union(col("a"), col("b"))).cast("long").as("u"))
      .filter(col("o.inter") =!= col("i") || col("o.uni") =!= col("u"))
    assert(bad.count() === 0L, bad.collect().take(3).mkString("\n"))
  }
}
