package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative (regex/HOF) formulations of operators that run as native
  * expressions in `main` — the semantics references the specs pin the
  * native expressions against, bit for bit.
  */
object ReferenceTwins {

  /** [[Similarity.dot]]: left-fold dot product. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** [[TextAnalysis.fingerprint]]: the rolling hash over the ASCII
    * projection, one character per array element.
    */
  def fingerprintHof(text: Column): Column = {
    val asciiOnly = regexp_replace(text, "[^\\x00-\\x7F]", "")
    aggregate(
      transform(filter(split(asciiOnly, ""), c => c =!= ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, cp) => (acc * 31L + cp) % TextAnalysis.FpMod,
    )
  }

  /** [[TextAnalysis.repetitionStruct]]: counts each distinct token by
    * re-filtering the token array — O(distinct × n) per document.
    */
  def repetitionHof(text: Column): Column = {
    val toks = Dedup.tokens(text)
    val n = size(toks)
    val cnts = transform(array_distinct(toks), t => size(filter(toks, x => x === t)))
    val topW = when(n === 0, lit(0.0)).otherwise(array_max(cnts).cast("double") / n)
    val dupW = when(n === 0, lit(0.0)).otherwise(
      aggregate(cnts, lit(0), (a, c) => a + when(c >= 2, c).otherwise(lit(0)))
        .cast("double") / n)
    val bgs = transform(sequence(lit(1), n - 1), i => concat_ws(" ", slice(toks, i, lit(2))))
    val topB = when(n < 2, lit(0.0)).otherwise(
      array_max(transform(array_distinct(bgs), g => size(filter(bgs, x => x === g))))
        .cast("double") / (n - 1))
    when(text.isNotNull, struct(
      n.cast("long").as("n_tokens"),
      topW.as("top_word_frac"),
      dupW.as("dup_word_frac"),
      topB.as("top_bigram_frac")))
  }

  /** [[Html.extractText]]: the pinned regex/HOF pipeline — the kept
    * blocks of [[Html.blockDiagnostics]], joined with `\n`.
    */
  def extractTextDeclarative(html: Column, minWords: Int, maxLinkDensity: Double): Column =
    array_join(
      transform(filter(Html.blockDiagnostics(html, minWords, maxLinkDensity),
        d => d.getField("kept")), d => d.getField("text")),
      "\n")

  /** Character n-gram set of `text` (distinct substrings of length n;
    * a text shorter than n yields itself as the single shingle).
    */
  def charShingles(text: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n)),
      )
    )

  /** md5-32 hashes of [[charShingles]]; `array_distinct` of this is
    * [[Dedup.distinctNgramHashes]].
    */
  def ngramHashes(text: Column, n: Int): Column =
    transform(charShingles(text, n), g => Dedup.md5Hash32(g))
}
