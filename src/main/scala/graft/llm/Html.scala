package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.HtmlExtract

/** HTML → text extraction with boilerplate removal — the missing HEAD of
  * the web-corpus cleaning funnel: every at-scale corpus (C4, RefinedWeb)
  * starts from crawled HTML, not clean text, and the first transform is
  * "strip the markup, keep the content blocks, drop the chrome". The
  * rules here are the public-recipe ones (jusText / boilerpipe family,
  * Kohlschütter et al. 2010): segment on block-level tags, then judge
  * each block by LINK DENSITY (anchor-text mass / block-text mass — nav
  * bars, footers and link farms are mostly anchor text) and by a minimum
  * word count (single-word "Read more" stubs carry no training signal).
  *
  * Everything is a PINNED pure function of the input string, zero
  * shuffle at any corpus size, so an independent engine reproduces the
  * extraction bit-for-bit: [[extractText]] is one native scan
  * ([[graft.functions.HtmlExtract]]), spec-pinned bit-equal to the same
  * steps as regex/HOF column algebra, which [[links]] and
  * [[blockDiagnostics]] use. Pinned evaluation order (the order real
  * extractors use, and the one that makes entity-encoded angle brackets
  * inert):
  *
  *   1. drop `<script>…</script>`, `<style>…</style>`, `<head>…</head>`
  *      and `<!-- … -->` WITH their contents (case-insensitive,
  *      dot-matches-newline, non-greedy; one left-to-right pass — the
  *      leftmost opener wins and consumes to its own closer);
  *   2. replace every block-level tag (open or close: p, div, h1–h6,
  *      li, ul, ol, table, tr, td, br, hr, section, article, header,
  *      footer, nav, blockquote, pre, form) with a newline — the block
  *      separator;
  *   3. per block: measure anchor mass (sum of `<a …>…</a>` inner-text
  *      lengths, inner tags stripped), then strip ALL remaining tags to
  *      a space, THEN decode the five core entities
  *      (`&lt; &gt; &quot; &#39; &nbsp;`, and `&amp;` LAST — the pinned
  *      decode order that never double-decodes), collapse `\s+` to one
  *      space and trim;
  *   4. keep a block iff it has ≥ `minWords` whitespace words AND
  *      anchor mass ≤ `maxLinkDensity` × block-text length;
  *   5. join the kept blocks, in document order, with `\n`.
  *
  * Malformed HTML degrades, never throws: an unclosed `<script` simply
  * doesn't match the paired pattern (its text survives tag-stripping as
  * ordinary words), stray `<` / `>` pass through, and a no-markup string
  * is returned as its own single block (subject to the same keep rules).
  */
object Html {

  private val BlockTags =
    "p|div|h[1-6]|li|ul|ol|table|tr|td|br|hr|section|article|header|footer|nav|blockquote|pre|form"

  /** Entity decode in the pinned order — `&amp;` strictly last, so
    * `&amp;lt;` decodes to the literal `&lt;`, never to `<`. Fast-pathed
    * behind an `&` probe: six regex passes are pure waste on the
    * (overwhelmingly common) entity-free block, and skipping them
    * cannot change the result — no `&` means no entity.
    */
  private def decodeEntities(c: Column): Column = {
    val e1 = regexp_replace(c, "&lt;", "<")
    val e2 = regexp_replace(e1, "&gt;", ">")
    val e3 = regexp_replace(e2, "&quot;", "\"")
    val e4 = regexp_replace(e3, "&#39;", "'")
    val e5 = regexp_replace(e4, "&nbsp;", " ")
    when(instr(c, "&") > 0, regexp_replace(e5, "&amp;", "&")).otherwise(c)
  }

  /** A block's visible text: strip tags to a space, decode entities,
    * collapse whitespace, trim (pinned step 3). The tag strip is
    * `<`-probed like the entity decode — identical result, no regex
    * pass on markup-free blocks.
    */
  private def blockText(b: Column): Column = {
    val stripped = when(instr(b, "<") > 0, regexp_replace(b, "<[^>]*>", " "))
      .otherwise(b)
    trim(regexp_replace(decodeEntities(stripped), "\\s+", " "))
  }

  /** A block's anchor mass: total visible-text length inside its
    * `<a …>…</a>` pairs (inner tags stripped, entities decoded — the
    * same text measure as the denominator). `<a`-probed on the
    * LOWERCASED block (the extraction regex is case-insensitive, so a
    * case-sensitive probe would zero the mass of `<A HREF=…>` anchors —
    * lowercasing keeps the probe a pure optimization): a block with
    * no anchor open has mass 0 by definition, no extraction pass needed.
    */
  private def anchorMass(b: Column): Column =
    when(instr(lower(b), "<a") > 0,
      aggregate(
        regexp_extract_all(b, lit("(?is)<a(?:\\s[^>]*)?>(.*?)</a>"), lit(1)),
        lit(0),
        (acc, a) => acc + length(blockText(a))))
      .otherwise(lit(0))

  /** Extracted main text of one HTML string (the full pinned pipeline
    * above): kept blocks joined with `\n`; empty string when nothing
    * survives. Pure projection — compose it ahead of any text operator
    * ([[TextAnalysis]], [[Dedup]], [[Pipeline.cleanCorpus]]) to run the
    * funnel straight off a crawl. One native scan per row (measured
    * 24.4 → 7.2 s at docs×100 against the regex/HOF pipeline).
    */
  def extractText(html: Column, minWords: Int = 3,
                  maxLinkDensity: Double = 0.33): Column = {
    require(minWords >= 0, "extractText: minWords must be >= 0")
    require(maxLinkDensity >= 0 && maxLinkDensity <= 1,
      "extractText: maxLinkDensity must be in [0, 1]")
    column(HtmlExtract(expression(html), minWords, maxLinkDensity))
  }

  /** Outgoing links of one HTML string: `array<struct<href, text>>`,
    * one entry per `<a …>…</a>` pair in page order — the edge list a
    * web-graph (PageRank over [[graft.graph.Graph]], link-spam scoring,
    * crawl frontier) is built from. `href` is the attribute value in any
    * of the three HTML forms — double-quoted, single-quoted, or unquoted
    * (empty when absent — anchors without hrefs are still text-bearing
    * nodes); `text` is the anchor's visible text by
    * the same pinned measure as the extraction pipeline (inner tags
    * stripped, entities decoded, whitespace collapsed). Pure codegen'd
    * projection — zero shuffle; explode + groupBy(href) downstream
    * builds the site graph with one exchange.
    */
  def links(html: Column): Column =
    transform(
      regexp_extract_all(html, lit("(?is)<a(?:\\s[^>]*)?>.*?</a>"), lit(0)),
      a => struct(
        // the raw value keeps its delimiters so one extract covers all
        // three attribute forms; the strip then removes exactly one
        // layer of matching quotes
        regexp_replace(
          regexp_extract(a, "(?i)\\bhref\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>\"']+)", 1),
          "^[\"']|[\"']$", "").as("href"),
        blockText(regexp_extract(a, "(?is)<a(?:\\s[^>]*)?>(.*?)</a>", 1)).as("text")))

  /** Per-block diagnostics (one output row per BLOCK via the caller's
    * explode): the (text, words, link_density, kept) table an extraction
    * threshold is tuned on. Same pinned pipeline as [[extractText]] —
    * `filter(diagnostics, kept).text == extractText` by construction.
    */
  def blockDiagnostics(html: Column, minWords: Int = 3,
                       maxLinkDensity: Double = 0.33): Column = {
    // step 1 in ONE alternation pass: the leftmost container opener
    // wins and its branch consumes non-greedily to its OWN closer (a
    // stray `</style>` can never close a `<script>`), so well-formed
    // pages strip identically to four sequential passes at a quarter of
    // the regex cost; on pathologically cross-nested containers the
    // leftmost-opener rule IS the pinned semantics
    val s4 = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<head[^>]*>.*?</head>|<!--.*?-->",
      " ")
    // step 2: block-level tags become the block separator
    val s5 = regexp_replace(s4, s"(?i)</?($BlockTags)(\\s[^>]*)?/?>", "\n")
    transform(split(s5, "\n"), b => {
      val t = blockText(b)
      val am = anchorMass(b)
      val words = when(t === "", lit(0)).otherwise(size(split(t, " ")))
      val dens = when(length(t) === 0, lit(0.0))
        .otherwise(am.cast("double") / length(t).cast("double"))
      struct(t.as("text"), words.as("words"), round(dens, 6).as("link_density"),
        (words >= minWords &&
          am.cast("double") <= lit(maxLinkDensity) * length(t).cast("double")).as("kept"))
    })
  }
}
