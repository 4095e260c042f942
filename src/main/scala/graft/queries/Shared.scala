package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Sketches
import graft.core.{Opset, Parquet}
import graft.llm.{Dedup, TextAnalysis}

/** The fragments, parameters and session artifacts that queries of more
  * than one family use. It reads no family object: every family reads
  * this one, so a read back would be a cycle in object initialisation,
  * which interpolates `null` into SQL without any error.
  */
object Shared {

  /** The signal table: `events` viewed as an Opset (record = user id,
    * t = 1-based sample index ordered by (ts, event_id)).
    */
  private[queries] def opset(s: SparkSession, dir: String): Opset = Opset.fromEvents(s, dir)

  /** Width-pinned opset for per-record-EXPENSIVE chains (the SG kernels
    * and crossing windows of indicator banks, the SG kernel and windows of
    * tube estimates/scores): see Opset.fromEvents(wide = true).
    * Cheap consumers keep the plain form — the pinned exchange costs a
    * sub-second row more in tiny-task churn than the width buys (measured).
    */
  private[queries] def opsetWide(s: SparkSession, dir: String): Opset =
    Opset.fromEvents(s, dir, wide = true)

  /** DuckDB CTE equivalent of [[Opset.fromEvents]]. */
  private[queries] val OpsetCte =
    """opset AS (
      |  SELECT CAST(user_id AS VARCHAR) AS record,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS t,
      |         event_type, value
      |  FROM events
      |)""".stripMargin

  /** Argmax instants (0-based position of each record's max value). */
  private[queries] val InstantsCte =
    """instants AS (
      |  SELECT record, CAST(t - 1 AS BIGINT) AS i
      |  FROM (SELECT record, t,
      |               row_number() OVER (PARTITION BY record ORDER BY value DESC, t) AS rn
      |        FROM opset)
      |  WHERE rn = 1
      |)""".stripMargin

  // SavGol parameters used by the sg_* queries (records are 49+ samples
  // long at every SF, so w=7 always fits).
  private[queries] val SgW = 7
  private[queries] val SgDeg = 2

  /** text_classifier: hashed-gram dim and the heuristic-quality label
    * threshold (~the corpus median, so labels split evenly). The oracle
    * re-scores every document from the model's quantized tick weights.
    */
  private[queries] val ClsDim = 512
  private[queries] val ClsLabelThreshold = 0.78
  // Per-label exact-k training budget: fit cost is a function of this
  // cap, not the corpus — the oracle re-scores from the model's ticks
  // either way, so the cap is graded transparently.
  private[queries] val ClsTrainCap = 2048

  private[queries] def clsLabel: Column =
    (TextAnalysis.qualityCols(col("text")).find(_._1 == "quality").get._2 >= ClsLabelThreshold)
      .cast("double")

  /** One `SELECT vec_id, i, s FROM nrm` arm per centroid `i`: every
    * vector's cosine score `s` against it, unioned into the `csc` CTE of
    * the frozen-centroid oracles.
    */
  private[queries] def centroidScoreArms(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      val clit = c.mkString("[", ", ", "]::DOUBLE[]")
      s"SELECT vec_id, $i AS i, ${dotSql("v", s"($clit)")} / $cn AS s FROM nrm"
    }.mkString("\n  UNION ALL\n  ")

  /** A text classifier's quantized tick weights as `VALUES` rows `(b, v)`,
    * and the SQL list of every hashed-gram bucket of `tok`'s words. The
    * gram arms are a pure function of the model's ns — if fit ever runs
    * with non-default gram orders, the oracle follows.
    */
  private[queries] def classifierSql(m: graft.llm.Classifier.TextClassifierModel): (String, String) = {
    val values = m.coefTicks.zipWithIndex.map { case (v, b) => s"($b, $v)" }.mkString(", ")
    val arms = m.ns.map(n => gramListSql(n, m.dim))
    (values, if (arms.size == 1) arms.head else s"list_concat(${arms.mkString(", ")})")
  }

  // MinHash-LSH parameters shared by the dedup_minhash_* queries/oracles.
  private[queries] val MhShingle = 5
  private[queries] val MhHashes = 8
  private[queries] val MhBands = 4
  private[queries] val MhThreshold = 0.6

  /** DuckDB CTE: doc_id + distinct md5-based 32-bit shingle hashes,
    * mirroring `Dedup.distinctNgramHashes(text, MhShingle)`.
    */
  private[queries] val ShingleCte =
    s"""sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           list_distinct(list_transform(
       |             generate_series(1, greatest(length(text) - ${MhShingle - 1}, 1)),
       |             i -> substring(text, i, $MhShingle))),
       |           g -> CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT))) AS hs
       |  FROM documents
       |)""".stripMargin

  /** DuckDB expressions for the MinHash signature columns sig_0..sig_{n-1}
    * over the `hs` list — same LCG coefficients as [[Dedup.minhashCoeff]].
    */
  private[queries] def sigExprs: Seq[String] =
    (0 until MhHashes).map { k =>
      val (a, b) = Dedup.minhashCoeff(k)
      s"list_min(list_transform(hs, h -> (h * $a + $b) % ${Dedup.MinhashP})) AS sig_$k"
    }

  /** DuckDB CTE chain mirroring the shared MinHash banding front end:
    * `banded(doc_id, band, h_0..h_{rpb-1})`, one row per (document, band).
    * Shared by the pair oracles AND the stream_neardup oracle (the stream
    * reuses these exact banding expressions by construction).
    */
  private[queries] def minhashBandedCtes: String = {
    val rpb = MhHashes / MhBands
    val bandArms = (0 until MhBands).map { b =>
      val hs = (0 until rpb).map(i => s"sig_${b * rpb + i} AS h_$i").mkString(", ")
      s"SELECT doc_id, $b AS band, $hs FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""$ShingleCte, sig AS (
       |  SELECT doc_id, ${sigExprs.mkString(",\n         ")} FROM sh
       |), banded AS (
       |  $bandArms
       |)""".stripMargin
  }

  // Decontamination parameters shared by the decon_* query/oracles: the
  // eval set is every DecBenchMod-th document; DecN = 4 because the test
  // vocabulary is ~30 words (real corpora use 8-13-gram overlap), which
  // flags 7 / 19 / 1219 train docs at sf0.001/0.01/0.1 — present but
  // discriminating at every graded SF.
  private[queries] val DecN = 4
  private[queries] val DecBenchMod = 50
  private[queries] val DecMinHits = 1

  private[queries] val PipeSeed = 7L

  private[queries] val PipeShards = 8

  /** DuckDB expression: the word-`n`-gram instance stream of token list
    * `ts`, hashed into [0, DsirBuckets) — the NON-distinct twin of the
    * decontamination gram CTE (DSIR counts every occurrence).
    */
  /** DuckDB list of hashed word-n-gram INSTANCE buckets over `tok.ts` —
    * the SQL twin of `graft_gram_buckets` (one element per position,
    * short texts yield one empty-string gram).
    */
  private[queries] def gramListSql(n: Int, buckets: Int): String =
    s"list_transform(generate_series(1, greatest(len(ts) - ${n - 1}, 1)), " +
      s"i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${n - 1}), ' ')), 1, 8)) AS BIGINT) % $buckets)"

  /** DuckDB twin of the struct-max latest-record compaction — shared by
    * `events_latest` (batch) and `stream_latest` (the same aggregation
    * as a stateful streaming query with one-row-per-key state; the
    * landed Update emissions max-fold idempotently): window formulation
    * of max (tus, event_id) per key.
    */
  private[queries] def latestSql: String =
    """WITH r AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, event_type, tus AS last_us, event_id, value
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** DuckDB twin of the exact-moment z-score pipeline — shared by
    * `sg_outliers` (batch) and `stream_outliers` (stream-static
    * enrichment landing the identical flag set): 1e-6 ticks per sample,
    * HUGEINT moment sums, one mean/stddev per record, float ops pinned.
    */
  private[queries] def outliersSql: String =
    s"""WITH $OpsetCte, tk AS (
         |  SELECT record, t, value,
         |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS tk
         |  FROM opset
         |), st AS (
         |  SELECT record, count(*) AS n,
         |         sum(CAST(tk AS HUGEINT)) AS s1,
         |         sum(CAST(tk AS HUGEINT) * tk) AS s2
         |  FROM tk GROUP BY record
         |), m AS (
         |  SELECT record, CAST(s1 AS DOUBLE) / n AS mu,
         |         sqrt(CAST(s2 AS DOUBLE) / n
         |              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd
         |  FROM st
         |)
         |SELECT t.record, t.t, t.value, round((t.tk - m.mu) / m.sd, 6) AS z
         |FROM tk t JOIN m USING (record)
         |WHERE m.sd > 0 AND abs(t.tk - m.mu) > 3.0 * m.sd
         |ORDER BY record, t""".stripMargin

  /** DuckDB twin of the HLL register table + estimator — shared by
    * `sketch_hll` (batch) and `stream_hll` (landed-register fold, which
    * is idempotent and therefore grades against the identical SQL):
    * registers re-derived exactly (top-9 md5 bits bucket, rank = leading
    * zeros of the low 23 bits), fixed-point register sum in pure
    * integers; the only float ops are the two estimator branches, once
    * per GROUP, quantized to 1e-6 like every ln here.
    */
  private[queries] def hllSql: String = {
    val a = Sketches.alphaNumerator(HllP)
    s"""WITH h AS (
       |  SELECT event_type,
       |         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
       |  FROM events WHERE user_id IS NOT NULL
       |), r AS (
       |  SELECT event_type, hv >> 23 AS bucket,
       |         CASE WHEN hv & 8388607 = 0 THEN 24
       |              ELSE 24 - length(bin(hv & 8388607)) END AS rho
       |  FROM h
       |), reg AS (
       |  SELECT event_type, bucket, max(rho) AS mj FROM r GROUP BY event_type, bucket
       |), agg AS (
       |  SELECT event_type, count(*) AS nb,
       |         CAST(sum(CAST(1 AS BIGINT) << (24 - mj)) AS BIGINT) AS sobs
       |  FROM reg GROUP BY event_type
       |), fin AS (
       |  SELECT event_type, CAST(512 AS INTEGER) AS m, 512 - nb AS zeros,
       |         sobs + (512 - nb) * 16777216 AS s_fixed
       |  FROM agg
       |)
       |SELECT event_type, m, zeros, s_fixed,
       |       floor((CASE WHEN zeros > 0 AND $a / s_fixed <= 1280.0
       |                   THEN 512.0 * ln(512.0 / zeros)
       |                   ELSE $a / s_fixed END) * 1000000.0 + 0.5) / 1000000.0
       |         AS distinct_est
       |FROM fin ORDER BY event_type""".stripMargin
  }

  /** DuckDB twin of the KMV sample-sketch quantiles — shared by
    * `sketch_kmv` (whole-corpus sketch) and `sketch_kmv_merge` (disjoint
    * halves merged in sketch space, == the whole sketch because bottom-k
    * under the total (hash, id) order composes): the k smallest
    * (md5(id|seed), id) rows per group, then the stats_quantiles pinned
    * type-7 formula over the sampled values.
    */
  private[queries] def kmvSketchSql: String = {
    val psList = QuantilePs.mkString("[", ", ", "]")
    s"""WITH v AS (
       |  SELECT event_type AS g, event_id AS id, value AS x,
       |         CAST(concat('0x', substr(md5(concat_ws('|',
       |           CAST(event_id AS VARCHAR), '$KmvSeed')), 1, 8)) AS BIGINT) AS h
       |  FROM events WHERE value IS NOT NULL
       |), sk AS (
       |  SELECT g, x FROM (
       |    SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY h, id) AS rn FROM v
       |  ) WHERE rn <= $KmvK
       |), s AS (
       |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM sk
       |), n AS (
       |  SELECT g, count(*) AS n FROM sk GROUP BY g
       |), ps AS (
       |  SELECT unnest($psList) AS p
       |), c AS (
       |  SELECT s.g, ps.p, s.x, s.i,
       |         floor(ps.p * (n.n - 1)) AS lo,
       |         ps.p * (n.n - 1) - floor(ps.p * (n.n - 1)) AS frac
       |  FROM s JOIN n USING (g) CROSS JOIN ps
       |  WHERE s.i = floor(ps.p * (n.n - 1)) OR s.i = floor(ps.p * (n.n - 1)) + 1
       |)
       |SELECT g AS event_type, p,
       |       round(min(CASE WHEN i = lo THEN x END) +
       |             (coalesce(min(CASE WHEN i = lo + 1 THEN x END),
       |                       min(CASE WHEN i = lo THEN x END))
       |              - min(CASE WHEN i = lo THEN x END)) * min(frac), 6) AS q
       |FROM c GROUP BY g, p ORDER BY event_type, p""".stripMargin
  }

  /** Subword vocab shared by the text_tokens_bpe query/oracle: lowercase
    * letters EXCEPT `u` (so real unknowns exercise the −1 path on the
    * corpus's u-words) plus multi-char merges with overlapping prefixes
    * (sp/spark, ta/tab, th/the, que covering the only sanctioned `u`) so
    * greedy longest-match genuinely discriminates. Ids = list positions.
    */
  private[queries] val BpeVocab: Seq[String] =
    ("abcdefghijklmnopqrstvwxyz".map(_.toString) ++ // no 'u'
      Seq("th", "the", "er", "or", "ar", "ta", "tab", "sp", "spark",
        "win", "dow", "window", "que", "jo", "in", "join", "row", "ba", "batch")).toSeq

  /** The pinned binned-quantile estimator in DuckDB — equal-width bins
    * over [min, max], type-7 rank, uniform interpolation inside the
    * crossing bin (cumBefore <= r < cum picks it uniquely). Shared by
    * `stats_quantiles_binned` (batch) and `stream_quantiles` (the
    * streaming count-table twin): both maintain the identical
    * register-bounded (group, bin) table and answer through the
    * identical formula, so one oracle grades both.
    */
  private[queries] lazy val binnedQuantilesOracle: String = {
    val psList = QuantilePs.mkString("[", ", ", "]")
    s"""WITH v AS (
       |  SELECT event_type AS g, CAST(value AS DOUBLE) AS x
       |  FROM events WHERE value IS NOT NULL
       |), b AS (
       |  SELECT g, min(x) AS mn, max(x) AS mx FROM v GROUP BY g
       |), binned AS (
       |  SELECT v.g,
       |         CASE WHEN b.mx = b.mn THEN 0
       |              ELSE least(CAST(floor((v.x - b.mn) /
       |                     ((b.mx - b.mn) / $QuantileBins.0)) AS BIGINT),
       |                   ${QuantileBins - 1}) END AS bin
       |  FROM v JOIN b USING (g)
       |), c AS (
       |  SELECT g, bin, count(*) AS c FROM binned GROUP BY g, bin
       |), cum AS (
       |  SELECT g, bin, c,
       |         sum(c) OVER (PARTITION BY g ORDER BY bin) AS cum,
       |         sum(c) OVER (PARTITION BY g) AS n
       |  FROM c
       |), ps AS (
       |  SELECT unnest($psList) AS p
       |), hit AS (
       |  SELECT g, p, bin, c, cum, p * (n - 1) AS r
       |  FROM cum CROSS JOIN ps
       |  WHERE cum - c <= p * (n - 1) AND p * (n - 1) < cum
       |)
       |SELECT g AS event_type, p,
       |       round(mn + ((mx - mn) / $QuantileBins.0) *
       |             (bin + (r - (cum - c)) / c), 6) AS q
       |FROM hit JOIN b USING (g)
       |ORDER BY event_type, p""".stripMargin
  }

  /** Multi-line page column shared by the pipe_clean_lines query/oracle
    * (the [[piiInjected]] pattern): the corpus text is single-line, so
    * the harness wraps it as a page whose lines exercise every C4 line
    * rule — a punctuation-less nav stub (always drops), the document
    * text with a terminal period (keeps), a doc_id-gated javascript
    * notice (drops on the substring rule), a below-minWords
    * exclamation (drops on the word floor), a keepable question line,
    * and doc-level lorem-ipsum / brace drop flags on their own moduli.
    */
  /** DuckDB twin of [[c4Injected]] (CTE `c4pg(doc_id, p)`), shared by
    * the pipe_clean_lines and pipe_clean_c4 oracles.
    */
  private[queries] val C4PageCte: String =
    """c4pg AS (
      |  SELECT doc_id,
      |    'Menu Home About' || chr(10) || text || '.' ||
      |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'Please enable JavaScript to view comments.' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'Click here!' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Is this a keepable question line?' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'Filler lorem ipsum dolor sit amet.' ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'function f() {' ELSE '' END AS p
      |  FROM documents
      |)""".stripMargin

  private[queries] def c4Injected: Column = concat(
    lit("Menu Home About\n"),
    col("text"), lit("."),
    when(col("doc_id") % 4 === 0,
      lit("\nPlease enable JavaScript to view comments.")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit("\nClick here!")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      lit("\nIs this a keepable question line?")).otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      lit("\nFiller lorem ipsum dolor sit amet.")).otherwise(lit("")),
    when(col("doc_id") % 13 === 0, lit("\nfunction f() {")).otherwise(lit("")))

  /** HTML-injection column shared by the text_extract query/oracle: the
    * corpus carries no markup, so the harness wraps each document in a
    * deterministic full-page template (the [[piiInjected]] pattern) —
    * head+style+script to strip, a nav and a footer whose link density
    * must trip the boilerplate rule, an entity-encoded block (doc_id%5),
    * a below-minWords stub (doc_id%4) and a pure-link block (doc_id%3)
    * that must both drop, and the real heading+content blocks that must
    * survive. The oracle states the CLOSED-FORM expected extraction
    * (ground truth from the template), so any defect in tag-stripping,
    * entity order, density arithmetic or block ordering hash-fails.
    */
  private[queries] def htmlInjected: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style>p{margin:0}</style></head><body><script>var doc="),
    col("doc_id").cast("string"), lit(";</script>"),
    lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> <a href=\"/more\">More</a></nav>"),
    lit("<h1>Doc "), col("doc_id").cast("string"), lit(" heading words</h1><p>"),
    col("text"), lit("</p>"),
    when(col("doc_id") % 5 === 0, lit("<p>5 &amp; 10 &lt;tags&gt; block</p>"))
      .otherwise(lit("")),
    when(col("doc_id") % 4 === 0, lit("<p>ok</p>")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0, lit("<div><a href=\"/r\">Read more here</a></div>"))
      .otherwise(lit("")),
    lit("<div><a href=\"/c\">Contact</a> <a href=\"/t\">Terms</a> page</div></body></html>"))

  // Event-analytics parameters shared by the events_* query/oracles.
  // 6 h gap: the synthetic events run ~30 days × 150 users with a median
  // per-user inter-event gap of ~7.3 h, so 6 h splits every user into
  // many multi-event sessions (a web-style 30 min gap would make nearly
  // every event its own session here — parameter, not semantics).
  private[queries] val SessionGapUs = 6L * 3600 * 1000000

  // HLL precision shared by the sketch_hll query/oracle: p=9 -> 512
  // registers (~4.6% relative error) -- small enough that the linear-
  // counting branch is EXERCISED at the gate SFs (150 distinct users
  // << 2.5m) while the raw-estimator branch is exercised by the spec's
  // generated corpora.
  private[queries] val HllP = 9

  // Quantile probes shared by the stats_quantiles query/oracle.
  private[queries] val QuantilePs = Seq(0.5, 0.9, 0.99)

  // stats_quantiles_binned bin count: the deterministic approximate
  // estimator's resolution (rank error <= the crossing bin's mass).
  private[queries] val QuantileBins = 4096

  // KMV sample sketch parameters shared by the sketch_kmv* query/oracles.
  private[queries] val KmvK = 512
  private[queries] val KmvSeed = 42L

  // Hashing-trick text-embedding parameters (text_embed query/oracle).
  private[queries] val TxtEmbDim = 64
  private[queries] val TxtEmbNs = Seq(1, 2)

  private[queries] val AnnK = 3
  private[queries] val AnnQueryIds = Seq(0L, 1L, 2L, 3L, 4L)

  /** Hashed-gram embeddings derived from the documents' text, as the
    * (vec_id, embedding) table the vector operators take.
    */
  private[queries] def textEmbeddings(s: SparkSession, dir: String): DataFrame =
    graft.llm.Embeddings
      .hashedEmbeddings(Parquet.read(s, s"$dir/documents.parquet"), "doc_id", "text",
        TxtEmbDim, TxtEmbNs)
      .select(col("doc_id").as("vec_id"),
        transform(col("emb"), c => c.cast("double")).as("embedding"))

  /** DuckDB CTE: lowercased whitespace tokens of each document —
    * parameterized on the source relation so a composed oracle (e.g.
    * pipe_clean_html's extracted-text CTE) can tokenize its own table.
    */
  private[queries] def tokCteFor(rel: String): String =
    s"""tok AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
       |  FROM $rel
       |)""".stripMargin

  private[queries] val TokCte = tokCteFor("documents")

  /** Shared hashing-trick embed CTE chain (tok -> dense int counts per
    * (doc, bucket)) — the closed form of `graft_hash_embed`, reused by
    * the text_embed and ann_text oracles.
    */
  private[queries] def txtEmbChain: String = {
    def hashList(n: Int): String =
      s"list_transform(generate_series(1, greatest(len(ts) - ${n - 1}, 1)), " +
        s"i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${n - 1}), ' ')), 1, 8)) AS BIGINT))"
    val hs = TxtEmbNs.map(hashList).mkString("list_concat(", ", ", ")")
    s"""$TokCte, gh AS (
       |  SELECT doc_id, unnest($hs) AS h FROM tok
       |), bs AS (
       |  SELECT doc_id, CAST(h % $TxtEmbDim AS INT) AS b,
       |         CASE WHEN (h // $TxtEmbDim) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM gh
       |), cnt AS (
       |  SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS c FROM bs GROUP BY doc_id, b
       |), grid AS (
       |  SELECT d.doc_id, g.b FROM (SELECT doc_id FROM documents) d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${TxtEmbDim - 1})) AS b) g
       |), dense AS (
       |  SELECT grid.doc_id, grid.b, coalesce(cnt.c, 0) AS c
       |  FROM grid LEFT JOIN cnt ON grid.doc_id = cnt.doc_id AND grid.b = cnt.b
       |)""".stripMargin
  }

  /** DuckDB CTEs: embeddings as DOUBLE lists + their L2 norms (left-fold
    * sums, matching [[Similarity.dot]]/[[Similarity.norm]] exactly).
    */
  private[queries] val EmbCte =
    """emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
      |), nrm AS (
      |  SELECT vec_id, v,
      |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
      |  FROM emb
      |)""".stripMargin

  /** DuckDB left-fold dot product of two DOUBLE-list expressions. */
  private[queries] def dotSql(va: String, vb: String): String =
    s"list_reduce(list_transform(generate_series(1, len($va)), i -> $va[i] * $vb[i]), (a, b) -> a + b)"
}
