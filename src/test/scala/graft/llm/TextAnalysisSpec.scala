package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq("x").toDF("d").select(c).collect().head.get(0).asInstanceOf[T]

  private def onText[T](text: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): T =
    Seq(text).toDF("text").select(f(col("text"))).collect().head.get(0).asInstanceOf[T]

  test("tokenCount: whitespace tokens, blank counts 0") {
    assert(onText[Long]("one two  three", TextAnalysis.tokenCount) === 3L)
    assert(onText[Long]("   ", TextAnalysis.tokenCount) === 0L)
    assert(onText[Long]("", TextAnalysis.tokenCount) === 0L)
    assert(onText[Long]("word", TextAnalysis.tokenCount) === 1L)
  }

  test("bpeTokenCount segments like a vocabularyless BPE pre-tokenizer") {
    assert(onText[Long]("don't stop", TextAnalysis.bpeTokenCount) === 3L) // don | 't | _stop
    assert(onText[Long]("abc 123 !?", TextAnalysis.bpeTokenCount) === 3L)
    assert(onText[Long]("", TextAnalysis.bpeTokenCount) === 0L)
    assert(onText[Long]("   ", TextAnalysis.bpeTokenCount) === 0L)
  }

  test("langId picks the language with most stopword hits, 'und' when none") {
    assert(onText[String]("the cat and the dog is in the house", TextAnalysis.langId) === "en")
    assert(onText[String]("le chat et la maison est pour une fois", TextAnalysis.langId) === "fr")
    assert(onText[String]("xyzzy qwerty 12345", TextAnalysis.langId) === "und")
  }

  test("fingerprint is the polynomial rolling hash of ASCII chars") {
    def ref(s: String): Long =
      s.filter(_ < 128).foldLeft(0L)((a, c) => (a * 31 + c) % TextAnalysis.FpMod)
    assert(onText[Long]("hello world", TextAnalysis.fingerprint) === ref("hello world"))
    assert(onText[Long]("", TextAnalysis.fingerprint) === 0L)
    // non-ASCII (incl. a surrogate-pair emoji) is stripped before hashing,
    // so the result equals the plain-ASCII fingerprint on any engine.
    assert(onText[Long]("héllo 😀wörld", TextAnalysis.fingerprint) === ref("hllo wrld"))
    // the native byte-level expression and the HOF codepoint fallback agree
    for (t <- Seq("hello world", "héllo 😀wörld", "", "a1!"))
      assert(onText[Long](t, TextAnalysis.fingerprint) ===
        onText[Long](t, ReferenceTwins.fingerprintHof))
  }

  test("repetition: fractions match hand counts, edge cases are zeros") {
    def rep(t: String): (Long, Double, Double, Double) = {
      val r = Seq(t).toDF("text")
      val row = TextAnalysis.repetition(r.withColumn("doc_id", lit(0L))).collect().head
      (row.getLong(1), row.getDouble(2), row.getDouble(3), row.getDouble(4))
    }
    // "a a b": top word a=2/3; dup positions 2/3; bigrams {a a, a b} top 1/2
    assert(rep("a a b") === ((3L, 0.666667, 0.666667, 0.5)))
    // all-same tokens saturate every fraction
    assert(rep("t t t t") === ((4L, 1.0, 1.0, 1.0)))
    // single token: no duplicates, no bigrams
    assert(rep("x") === ((1L, 1.0, 0.0, 0.0)))
    // blank: all zeros
    assert(rep("   ") === ((0L, 0.0, 0.0, 0.0)))
    assert(rep("") === ((0L, 0.0, 0.0, 0.0)))
    // mixed case folds: "A a" is a duplicate pair
    assert(rep("A a") === ((2L, 1.0, 1.0, 1.0)))
  }

  test("vocabulary + commonness: deterministic top-k ties, exact fractions") {
    val docs = Seq(
      (0L, "a a b c"), // corpus freqs: a:3 b:3 c:1 z:1
      (1L, "a b b z"),
      (2L, "")
    ).toDF("doc_id", "text")
    val vocab2 = TextAnalysis.vocabulary(docs, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(vocab2 === Map("a" -> 3L, "b" -> 3L))
    // the k=3 boundary tie (c:1 vs z:1) breaks by token, deterministically
    val v3 = TextAnalysis.vocabulary(docs, "text", 3).collect().map(_.getString(0)).toSet
    assert(v3 === Set("a", "b", "c"))
    val out = TextAnalysis.commonness(docs, TextAnalysis.vocabulary(docs, "text", 2))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // doc 0 (a a b c): 3 of 4 positions in vocab; mean freq (3+3+3)/3 = 3
    assert(out(0L) === ((0.75, 3.0)))
    assert(out(1L) === ((0.75, 3.0)))
    assert(out(2L) === ((0.0, 0.0)), "empty doc scores zeros, not a dropped row")
  }

  test("quality score is in [0,1] and favors longer stopword-rich text") {
    def q(t: String): Double = {
      val cols = TextAnalysis.qualityCols(col("text")).toMap
      onText[java.lang.Double](t, _ => cols("quality")).doubleValue()
    }
    val good = q("the quick brown fox jumps over the lazy dog and runs to the hills " * 4)
    val bad = q("??!!;;;; 12345 678")
    assert(good > bad)
    assert(good <= 1.0 && bad >= 0.0)
  }

  test("piiCols counts emails, phones, and IPs; redactPii replaces them") {
    val docs = Seq(
      (1L, "write to jane.doe+x@mail.example.org or call +33 555 010 214"),
      (2L, "server at 192.168.0.1 and 10.0.0.2"),
      (3L, "no pii here, just v1.2 of the doc"),   // version != IPv4 (needs 4 octets)
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id") +:
        TextAnalysis.piiCols(col("text")).map { case (n, c) => c.as(n) } :+
        TextAnalysis.redactPii(col("text")).as("red"): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) === ((1L, 1L, 0L,
      "write to <EMAIL> or call <PHONE>")))
    assert(out(2L) === ((0L, 0L, 2L, "server at <IP> and <IP>")))
    assert(out(3L) === ((0L, 0L, 0L, "no pii here, just v1.2 of the doc")))
  }

  test("redactPii order: an IP-shaped e-mail domain redacts as one EMAIL") {
    val docs = Seq((1L, "x@10.0.0.com ok")).toDF("doc_id", "text")
    val red = docs.select(TextAnalysis.redactPii(col("text"))).head().getString(0)
    assert(red === "<EMAIL> ok")
  }

  test("bigramNll scores transitions under the corpus bigram model (hand-checked)") {
    // corpus: d1=[a,b,a] d2=[a,b] d3=[c]; unigram counts a=3 b=2 c=1,
    // bigram counts "a b"=2 "b a"=1 "c"=1 (the <2-token convention gram)
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(docs).orderBy("doc_id").collect()
    def q(x: Double): Double = math.floor(math.log(x) * 1e6 + 0.5)
    val tuA = q(3 + 8192.0); val tuB = q(2 + 8192.0)
    val tbAB = q(2 + 1.0); val tbBA = q(1 + 1.0)
    val d1 = ((tuA - tbAB) + (tuB - tbBA)) / 1e6 / 2
    val d2 = (tuA - tbAB) / 1e6 / 1
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(out(0).getLong(1) === 2L && out(0).getDouble(2) === d1)
    assert(out(1).getLong(1) === 1L && out(1).getDouble(2) === d2)
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(2))
  }

  test("bigramNll: corpus-frequent transitions score lower than novel ones") {
    val fluent = (1L to 20L).map(i => (i, "the quick fox jumps"))
    val docs = (fluent :+ (99L, "zeta qoph vav waw")).toDF("doc_id", "text")
    val nll = TextAnalysis.bigramNll(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(nll(1L) < nll(99L))
  }

  test("collocations: the bound pair beats independence, counts exact") {
    // "new york" always adjacent; "the", "a" scattered independently
    val docs = (1L to 6L).map(i => (i, s"the new york a t$i the a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, "text", minCount = 2, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val top = out.head
    assert((top._1, top._2, top._3) === (("new", "york", 6L)))
    assert(out.forall(_._4 >= out.last._4), "descending pmi order")
  }

  test("collocations: minCount filters hapax pairs") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta gamma delta gamma delta"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, "text", minCount = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!out.contains(("alpha", "beta")))
    assert(out.contains(("gamma", "delta")))
  }

  test("bigramNll is partitioning-independent") {
    val docs = Seq((1L, "a b c a b"), (2L, "b c"), (3L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramNll(docs).collect().toSet ===
      TextAnalysis.bigramNll(docs.repartition(5)).collect().toSet)
  }

  test("c4LineCols: terminal punctuation, word floor, javascript rule, doc flags") {
    val page = "Menu Home About\n" +            // no terminal punct -> drop
      "A real sentence with enough words.\n" +  // keep
      "Too short!\n" +                          // 2 words -> drop
      "Please enable JavaScript to continue.\n" + // substring -> drop
      "Does a quoted line survive?\"\n" +       // ends in " -> keep
      "   \n" +                                 // blank -> drop
      "Ends with a question mark?"              // keep
    val out = Seq((1L, page)).toDF("doc_id", "text")
      .select(TextAnalysis.c4LineCols(col("text")).map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Boolean, String)].head()
    assert(out === ((7L, 3L, false,
      "A real sentence with enough words.\n" +
      "Does a quoted line survive?\"\n" +
      "Ends with a question mark?")))
    def flags(t: String): Boolean =
      Seq((1L, t)).toDF("doc_id", "text")
        .select(TextAnalysis.c4LineCols(col("text")).toMap.apply("drop_doc")).as[Boolean].head()
    assert(flags("fine text here.") === false)
    assert(flags("some Lorem Ipsum filler.") === true)
    assert(flags("code { nope }") === true)
  }

  private def ranked(text: String, merges: Seq[(String, String)]): Seq[String] =
    Seq(text).toDF("text")
      .select(TextAnalysis.bpeApplyRanked(col("text"), merges))
      .as[Seq[String]].head()

  test("bpeApplyRanked: hand-checked rank-order application") {
    // merge 1 joins (l,o), merge 2 joins (lo,w) via the new symbol,
    // merge 3 joins (e,r): "lower" -> [low, e, r] -> [low, er]
    val m = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    assert(ranked("lower slow", m) === Seq("low", "er", "s", "low"))
    // overlapping occurrences: left-to-right disjoint replace, exactly
    // the trainer's rewrite — "aaa" under (a,a) -> [aa, a]
    assert(ranked("aaa", Seq(("a", "a"))) === Seq("aa", "a"))
    // then (aa,a) completes the word on the next rank
    assert(ranked("aaa", Seq(("a", "a"), ("aa", "a"))) === Seq("aaa"))
    // no merges / empty text edges
    assert(ranked("ab", Nil) === Seq("a", "b"))
    assert(ranked("", m) === Seq.empty)
  }

  test("bpeApplyRanked diverges from greedy longest-match on the same artifact") {
    // merges: rank 1 = (b,c), rank 2 = (a,b). Rank order consumes b into
    // "bc" first -> [a, bc]; greedy longest-match over the merged vocab
    // {a,b,c,bc,ab} takes the leftmost longest prefix -> [ab, c].
    val merges = Seq(("b", "c"), ("a", "b"))
    assert(ranked("abc", merges) === Seq("a", "bc"))
    val vocab = Seq("a", "b", "c", "bc", "ab")
    val greedy = Seq("abc").toDF("text")
      .select(TextAnalysis.subwordIds(col("text"), vocab)).as[Seq[Int]].head()
      .map(vocab(_))
    assert(greedy === Seq("ab", "c"))
  }

  test("bpeApplyRanked reproduces the trainer's own final splitting of training words") {
    val docs = Seq.fill(4)("fast faster fastest").map(Tuple1(_)).toDF("text")
    val mergeRows = TextAnalysis.trainBpeMerges(docs, "text", nMerges = 6)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // every training word re-encodes to symbols that concatenate back to
    // the word, and repeated words encode identically
    val syms = ranked("fast faster fastest", mergeRows)
    assert(syms.mkString === "fastfasterfastest")
    val symsTwice = ranked("faster faster", mergeRows)
    assert(symsTwice.take(symsTwice.length / 2) === symsTwice.drop(symsTwice.length / 2))
    // with enough merges the most frequent word collapses to one symbol
    assert(syms.contains("fast"))
  }
}
