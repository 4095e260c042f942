package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Parquet, SessionArtifacts}
import graft.llm.{Html, Pipeline, TextAnalysis, Web}
import Shared._

/** Corpus assembly (rows 42-43, 52-55): sampling, DSIR, mixtures, URL
  * canonicalization, the cleaning chains and the composed funnel.
  */
object PipelineQueries {

  /** pipe_funnel's extracted text, cached: the funnel re-reads it from
    * six consumers (classifier sample, label evaluation, decon bench
    * census, cleanCorpus head, survivor semi-join, packing/shuffle) —
    * without a materialization the extraction subtree appeared 17 times
    * in the physical plan (measured, plans/r18). One pass extracts; every
    * later stage reads the materialized table — the same "move the heavy
    * bytes once" doctrine as a production funnel that lands extracted
    * text before cleaning. fanOut ONCE at the extraction: each consumer
    * would otherwise run the HTML extraction single-task over the
    * one-row-group scan (cleanCorpus's internal fanOut sees the
    * repartition and skips).
    */
  private def funnelText(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "funnelText") {
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      graft.core.Fanout.fanOut(docs.select(col("doc_id"), col("source"),
        Html.extractText(htmlInjected).as("text"))).cache()
    }

  /** The classifier pipe_funnel trains on its own extracted text. */
  private val funnelClassifier = new Fitted[graft.llm.Classifier.TextClassifierModel]("funnelClassifier")(
    // knownCount: the extracted text is a pure projection of the documents
    // scan, so its row count is the table's — one metadata-speed count on
    // the bare scan replaces the budget probe's full HTML-extraction pass
    (s, dir) => graft.llm.Classifier.fit(funnelText(s, dir), "doc_id", "text", clsLabel,
      ClsDim, trainCapPerLabel = ClsTrainCap,
      knownCount = Some(Parquet.read(s, s"$dir/documents.parquet").count())))

  /** DSIR importance weights per sf dir, computed once and cached: both
    * resampling twins (top-k and histogram-threshold) consume the SAME
    * weight table dsir_weights grades — real usage weighs the corpus
    * once, then draws samples — so the gram-bucket census runs once per
    * session/dir instead of once per query.
    */
  private def cachedDsirWeights(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "dsir") {
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      Pipeline.importanceWeights(docs,
        docs.filter(col("source") === DsirTargetSource),
        "doc_id", "text", Seq(1, 2), DsirBuckets).cache()
    }

  // Corpus-assembly parameters shared by the pipe_* query/oracles.
  private val PipeFractions = Map("en" -> 0.3, "zh" -> 1.0)
  private val PipeDefaultFrac = 0.1

  private val PipeBudget = 512

  // End-to-end cleaning parameters shared by the pipe_clean query/oracle
  // (row 54): thresholds sit inside the corpus' quality distribution
  // (p10 ≈ 0.56, p50 ≈ 0.73) so every stage of the funnel drops rows at
  // every graded SF. quality compares ROUNDED values and top_word_frac
  // is one integer division, so the keep set has no float-boundary
  // ambiguity between engines.
  private val CleanLang = "en"
  private val CleanMinQuality = 0.6
  private val CleanMaxTwf = 0.2

  // DSIR parameters shared by the dsir_* query/oracles (row 52): target
  // distribution = the src0 slice of the corpus (the "domain to
  // up-weight"); 512 hash buckets keeps the ratio table visibly
  // metadata-sized at every graded SF (the paper's production setting is
  // 10k); k/seed/denom drive the Gumbel-top-k selection.
  private val DsirTargetSource = "src0"
  private val DsirBuckets = 512
  private val DsirK = 100
  private val DsirKSel = 250 // dsir_select: exercises the threshold plan past k of dsir_sample
  private val DsirSeed = 11L
  private val DsirDenom = 1 << 20

  // Mixture-sampling parameters shared by the pipe_mixture query/oracle
  // (row 53): a three-source recipe over a small document budget so the
  // min(1, quota/n) fraction is strictly < 1 for every stratum at every
  // graded SF (quotas are constants; larger corpora downsample harder).
  private val MixShares = Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
  private val MixTotal = 30L
  private val MixSeed = 13L
  private val MixDenom = 10000

  private def dsirGramSql(n: Int): String = gramListSql(n, DsirBuckets)

  /** DuckDB CTE chain re-deriving [[Pipeline.importanceWeights]]:
    * `dsg` (unigram+bigram bucket instances), `dtg` (target slice),
    * `drw`/`dtc` (raw/target bucket counts), `dj`+`dtot` (full-outer
    * merge + totals), `drat` (per-bucket log-ratio quantized to an exact
    * BIGINT of 1e-6 ticks — float math happens once per bucket, the
    * per-doc sum in `dwt` is pure integer arithmetic), `dwt`
    * (doc_id, weight).
    */
  private def dsirCtes: String =
    s"""$TokCte, dsg AS (
       |  SELECT doc_id, unnest(list_concat(${dsirGramSql(1)}, ${dsirGramSql(2)})) AS b
       |  FROM tok
       |), dtg AS (
       |  SELECT b FROM dsg WHERE doc_id IN
       |    (SELECT doc_id FROM documents WHERE source = '$DsirTargetSource')
       |), drw AS (
       |  SELECT b, count(*) AS cr FROM dsg GROUP BY b
       |), dtc AS (
       |  SELECT b, count(*) AS ct FROM dtg GROUP BY b
       |), dj AS (
       |  SELECT coalesce(drw.b, dtc.b) AS b, coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
       |  FROM drw FULL OUTER JOIN dtc ON drw.b = dtc.b
       |), dtot AS (
       |  SELECT sum(cr) AS tr, sum(ct) AS tt FROM dj
       |), drat AS (
       |  SELECT b, CAST(floor((ln((ct + 1.0) / (tt + ${DsirBuckets}.0))
       |                        - ln((cr + 1.0) / (tr + ${DsirBuckets}.0))) * 1000000.0 + 0.5) AS BIGINT) AS lri
       |  FROM dj CROSS JOIN dtot
       |), dwt AS (
       |  SELECT dsg.doc_id, CAST(sum(lri) AS BIGINT) / 1000000.0 AS weight
       |  FROM dsg JOIN drat USING (b) GROUP BY dsg.doc_id
       |)""".stripMargin

  /** The composed-funnel oracle: the pipe_clean_html extraction +
    * cleaning chain with the funnel-trained classifier's tick predicate
    * spliced into the heuristic filter (its tick weights, the clsOracle
    * pattern), then the pipe_pack and pipe_shuffle constructions
    * replayed over the survivor set.
    */
  private def pipeFunnelOracle(m: graft.llm.Classifier.TextClassifierModel): String = {
    val (values, gramsSql) = classifierSql(m)
    val midCtes =
    s"""fticks(b, v) AS (SELECT * FROM (VALUES $values) t(b, v)),
       |fgb AS (
       |  SELECT doc_id, unnest($gramsSql) AS b FROM tok
       |), flog AS (
       |  SELECT g.doc_id, CAST(${m.interceptTicks} + coalesce(sum(t.v), 0) AS BIGINT) AS lt
       |  FROM fgb g LEFT JOIN fticks t ON g.b = t.b
       |  GROUP BY g.doc_id
       |),""".stripMargin
    val extraPred = "\n    AND doc_id IN (SELECT doc_id FROM flog WHERE lt > 0)"
    val xsrc =
      """xsrc AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || ' heading words' || chr(10) ||
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '5 & 10 <tags> block'
        |         ELSE '' END AS text
        |  FROM documents
        |), """.stripMargin
      s"""WITH ${pipeCleanChainFrom("xsrc", xsrc, midCtes, extraPred)}, fpt AS (
         |  SELECT f.doc_id, d.source,
         |         CASE WHEN length(trim(x.text)) = 0 THEN 0
         |              ELSE len(regexp_split_to_array(trim(x.text), '\\s+')) END AS n_tokens
         |  FROM cfin f JOIN xsrc x ON f.doc_id = x.doc_id
         |              JOIN documents d ON f.doc_id = d.doc_id
         |), fcum AS (
         |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
         |  FROM fpt
         |), fshuf AS (
         |  SELECT doc_id,
         |         CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$PipeSeed')), 1, 8)) AS BIGINT) AS k
         |  FROM cfin
         |), fpos AS (
         |  SELECT doc_id, k % $PipeShards AS shard,
         |         CAST(row_number() OVER (PARTITION BY k % $PipeShards ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
         |  FROM fshuf
         |)
         |SELECT c.doc_id, c.n_tokens,
         |       CAST(floor(start_tok / ${PipeBudget}.0) AS BIGINT) AS bin,
         |       (c.n_tokens > 0 AND floor((start_tok + c.n_tokens - 1) / ${PipeBudget}.0)
         |          <> floor(start_tok / ${PipeBudget}.0)) AS spans,
         |       p.shard, p.pos
         |FROM fcum c JOIN fpos p ON c.doc_id = p.doc_id
         |ORDER BY c.doc_id""".stripMargin
  }

  // Per-domain cap shared by the url_domcap query/oracle (row 55).
  private val DomCapK = 5
  private val DomCapSeed = 17L

  /** Deterministic doc_id-derived URL — the corpus carries no URL
    * column, so the harness synthesizes one identically in both engines
    * (the [[piiInjected]] pattern): mixed-case scheme/host exercises
    * case folding, `WWW.` the prefix strip, `/Page` the path-case
    * PRESERVATION, and the %-gated tails exercise trailing-slash,
    * query-string, and fragment stripping. doc_id%37 × 2 TLDs ⇒ 74
    * domains, so the per-domain cap engages at every graded SF.
    */
  private def urlInjected: Column = concat(
    lit("HTTPS://"),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    lit("Site"), (col("doc_id") % 37).cast("string"),
    when(col("doc_id") % 2 === 0, lit(".Example.com")).otherwise(lit(".example.org")),
    lit("/Page/"), col("doc_id").cast("string"),
    when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit("?utm_source=feed&utm_id="), col("doc_id").cast("string")))
      .otherwise(lit("")),
    when(col("doc_id") % 6 === 0,
      concat(lit("#section-"), (col("doc_id") % 9).cast("string")))
      .otherwise(lit("")))

  /** The DuckDB twin of [[urlInjected]] (CTE `urls`, column `u`). */
  private val UrlCte =
    """urls AS (
      |  SELECT doc_id,
      |    'HTTPS://' ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
      |    'Site' || CAST(doc_id % 37 AS VARCHAR) ||
      |    CASE WHEN doc_id % 2 = 0 THEN '.Example.com' ELSE '.example.org' END ||
      |    '/Page/' || CAST(doc_id AS VARCHAR) ||
      |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN '?utm_source=feed&utm_id=' || CAST(doc_id AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 0
      |         THEN '#section-' || CAST(doc_id % 9 AS VARCHAR) ELSE '' END AS u
      |  FROM documents
      |)""".stripMargin

  /** DuckDB expression chain mirroring [[graft.llm.Web.urlNormalize]]
    * over column `u` — step-for-step, so both engines canonicalize
    * identically.
    */
  private val UrlNormSql: String = {
    val u1 = "regexp_replace(u, '[?#].*$', '')"
    val sh = "^[^/]*//[^/]*"
    val u2 = s"lower(regexp_extract($u1, '$sh', 0)) || regexp_replace($u1, '$sh', '')"
    val u3 = s"regexp_replace($u2, '://www\\.', '://')"
    s"regexp_replace($u3, '/$$', '')"
  }

  /** DuckDB CTE chain re-deriving [[Pipeline.cleanCorpus]] end to end:
    * `cq` (lang-id + quality per doc, the textLangid/textQuality
    * formulas), `cwa` (top-word counts for the repetition cap), `cflt`
    * (the fused row-local filter), `cwin`/`cded` (exact-dup min-id
    * winners), `cgr`/`cbg`/`ctg`/`chit` (the decontamination probe,
    * bench = every DecBenchMod-th document of the FULL corpus), final
    * projection = survivors with the rolling-hash fingerprint of the
    * PII-redacted text.
    */
  private def pipeCleanOracle: String = pipeCleanOracleFrom("documents", "")

  /** [[pipeCleanOracle]] with the doc source swapped: `rel` must expose
    * (doc_id, text); `prefix` is an optional leading CTE block defining
    * it (e.g. the closed-form HTML extraction).
    */
  private def pipeCleanOracleFrom(rel: String, prefix: String): String =
    s"""WITH ${pipeCleanChainFrom(rel, prefix)}
       |SELECT doc_id, lang_id, quality, n_tokens, fingerprint FROM cfin
       |ORDER BY doc_id""".stripMargin

  /** The cleaning-funnel CTE chain ending in `cfin` (the survivor table
    * with lang/quality/counts/fingerprint) — shared by the pipe_clean
    * and pipe_clean_html oracles and EXTENDED by the composed
    * pipe_funnel oracle (`midCtes` inserts classifier relations after
    * `tok`; `extraPred` adds the classifier keep-predicate to the
    * heuristic filter, mirroring cleanCorpus's fused stage 3).
    */
  private def pipeCleanChainFrom(rel: String, prefix: String,
                                 midCtes: String = "",
                                 extraPred: String = ""): String = {
    val stopEn = TextAnalysis.LangStopwords.head._2.mkString("\\b(", "|", ")\\b")
    val scoreExprs = TextAnalysis.LangStopwords.map { case (lg, words) =>
      val pat = words.mkString("\\b(", "|", ")\\b")
      s"len(regexp_extract_all(lower(text), '$pat')) AS s_$lg"
    }.mkString(",\n      ")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val caseArm = langs.map(l => s"WHEN $best > 0 AND s_$l = $best THEN '$l'").mkString(" ")
    val red = TextAnalysis.PiiPatterns.foldLeft("text") { case (e, (_, pat, rep)) =>
      s"regexp_replace($e, '$pat', '$rep', 'g')"
    }
    s"""$prefix${tokCteFor(rel)}, $midCtes cq AS (
       |  SELECT doc_id, text,
       |         CASE $caseArm ELSE 'und' END AS lang_id,
       |         round(least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) * 0.4
       |           + least(CAST(stop AS DOUBLE) / safe_tok * 5.0, 1.0) * 0.3
       |           + (1.0 - least(CAST(punct AS DOUBLE) / safe_chr * 10.0, 1.0)) * 0.15
       |           + (1.0 - least(CAST(digit AS DOUBLE) / safe_chr * 10.0, 1.0)) * 0.15, 6) AS quality,
       |         CAST(n_tokens AS BIGINT) AS n_tokens
       |  FROM (
       |    SELECT doc_id, text,
       |      $scoreExprs,
       |      CAST(length(text) AS BIGINT) AS n_chars,
       |      CASE WHEN length(trim(text)) = 0 THEN 0
       |           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       |      CASE WHEN length(trim(text)) = 0 THEN 1
       |           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS safe_tok,
       |      CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS safe_chr,
       |      len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
       |      len(regexp_extract_all(text, '[0-9]')) AS digit,
       |      len(regexp_extract_all(lower(text), '$stopEn')) AS stop
       |    FROM $rel
       |  )
       |), ct2 AS (SELECT doc_id, unnest(ts) AS w FROM tok
       |), cwc AS (SELECT doc_id, w, count(*) AS c FROM ct2 GROUP BY doc_id, w
       |), cwa AS (SELECT doc_id, max(c) AS topc, sum(c) AS n FROM cwc GROUP BY doc_id
       |), cflt AS (
       |  SELECT cq.* FROM cq LEFT JOIN cwa USING (doc_id)
       |  WHERE lang_id = '$CleanLang' AND quality >= $CleanMinQuality
       |    AND (CASE WHEN cwa.n IS NULL THEN 0.0 ELSE cwa.topc * 1.0 / cwa.n END) <= $CleanMaxTwf$extraPred
       |), cwin AS (SELECT min(doc_id) AS doc_id FROM cflt GROUP BY text
       |), cded AS (SELECT cflt.* FROM cflt JOIN cwin USING (doc_id)
       |), cgr AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(ts) - ${DecN - 1}, 1)),
       |    i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${DecN - 1}), ' ')), 1, 8)) AS BIGINT))) AS gh
       |  FROM tok
       |), cbg AS (SELECT DISTINCT unnest(gh) AS g FROM cgr WHERE doc_id % $DecBenchMod = 0
       |), ctg AS (SELECT doc_id, unnest(gh) AS g FROM cgr
       |           WHERE doc_id IN (SELECT doc_id FROM cded)
       |), chit AS (
       |  SELECT doc_id FROM ctg JOIN cbg USING (g)
       |  GROUP BY doc_id HAVING count(*) >= $DecMinHits
       |), cfin AS (
       |  SELECT doc_id, lang_id, quality, n_tokens,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(
       |          string_split(regexp_replace($red, '[^\\x00-\\x7F]', '', 'g'), ''),
       |          c -> CAST(ord(c) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % ${TextAnalysis.FpMod}) AS fingerprint
       |  FROM cded WHERE doc_id NOT IN (SELECT doc_id FROM chit)
       |)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // -- LLM: corpus assembly (rows 42-43) --
    QuerySpec("pipe_sample", { (s, dir) =>
      Pipeline.sampleStratified(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "lang", PipeFractions, PipeDefaultFrac, PipeSeed)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, {
      val denom = 10000
      val cases = PipeFractions.map { case (k, f) =>
        s"WHEN '$k' THEN ${math.round(f * denom)}" }.mkString(" ")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$PipeSeed')), 1, 8)) AS BIGINT) % $denom
         |      < CASE lang $cases ELSE ${math.round(PipeDefaultFrac * denom)} END
         |ORDER BY doc_id""".stripMargin
    }),

    // Exact-k twin (row 42): exactly 25 docs per language in hash order —
    // the count-contract sample (holdouts/probe sets/labeling budgets).
    QuerySpec("pipe_sample_k", { (s, dir) =>
      Pipeline.sampleExactK(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "lang", 25, PipeSeed)
        .select("doc_id", "lang", "source", "sample_rank")
        .orderBy("lang", "sample_rank")
    }, s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |         CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$PipeSeed')), 1, 8)) AS BIGINT) AS smp
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, lang, source,
         |         row_number() OVER (PARTITION BY lang ORDER BY smp, doc_id) AS sample_rank
         |  FROM h
         |)
         |SELECT doc_id, lang, source, CAST(sample_rank AS BIGINT) AS sample_rank
         |FROM r WHERE sample_rank <= 25
         |ORDER BY lang, sample_rank""".stripMargin),

    // -- LLM: DSIR importance weighting + Gumbel-top-k selection (row 52) --
    QuerySpec("dsir_weights", (s, dir) =>
      cachedDsirWeights(s, dir).orderBy("doc_id"),
      s"""WITH $dsirCtes
         |SELECT doc_id, weight FROM dwt ORDER BY doc_id""".stripMargin),

    QuerySpec("dsir_sample", { (s, dir) =>
      Pipeline.resampleTopK(cachedDsirWeights(s, dir), "doc_id",
          DsirK, DsirSeed, 1.0, DsirDenom)
        .orderBy(col("g_key").desc, col("doc_id"))
    },
      // Gumbel key = weight/T − ln(−ln u) with u the (id, seed) md5 bucket
      // pushed to (0,1); top-k by (key DESC, id).
      s"""WITH $dsirCtes
         |SELECT doc_id, weight, g_key FROM (
         |  SELECT doc_id, weight,
         |         round(weight / 1.0 - ln(-ln((CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$DsirSeed')), 1, 8)) AS BIGINT) % $DsirDenom + 0.5) / $DsirDenom)), 6) AS g_key
         |  FROM dwt
         |) ORDER BY g_key DESC, doc_id LIMIT $DsirK""".stripMargin),

    // Same selection semantics through the histogram-threshold plan (no
    // driver-side heap merge) — the corpus-sized-k path, graded against
    // the identical SQL top-k.
    QuerySpec("dsir_select", { (s, dir) =>
      Pipeline.resampleThreshold(cachedDsirWeights(s, dir), "doc_id",
          DsirKSel, DsirSeed, 1.0, DsirDenom)
        .orderBy(col("g_key").desc, col("doc_id"))
    },
      // The threshold plan must reproduce the top-k EXACTLY — the oracle is
      // the same Gumbel top-k SQL at the dsir_select budget.
      s"""WITH $dsirCtes
         |SELECT doc_id, weight, g_key FROM (
         |  SELECT doc_id, weight,
         |         round(weight / 1.0 - ln(-ln((CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$DsirSeed')), 1, 8)) AS BIGINT) % $DsirDenom + 0.5) / $DsirDenom)), 6) AS g_key
         |  FROM dwt
         |) ORDER BY g_key DESC, doc_id LIMIT $DsirKSel""".stripMargin),

    // -- LLM: mixture/quota sampling by source (row 53) --
    QuerySpec("pipe_mixture", { (s, dir) =>
      Pipeline.sampleToMixture(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "source", MixShares.toMap, MixTotal, MixSeed)
        .orderBy("doc_id")
    }, {
      // Per-stratum keep fraction min(1, totalN·share / n) re-derived from
      // count(*); the keep decision is the same pure (id, seed) bucket as
      // pipe_sample.
      val arms = MixShares.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
      s"""WITH mc AS (
         |  SELECT source, count(*) AS nc FROM documents GROUP BY source
         |), mth AS (
         |  SELECT source,
         |         floor(least(1.0, ${MixTotal}.0 * (CASE source $arms ELSE 0.0 END) / nc) * $MixDenom + 0.5) AS thr
         |  FROM mc
         |)
         |SELECT doc_id, source FROM documents JOIN mth USING (source)
         |WHERE CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$MixSeed')), 1, 8)) AS BIGINT) % $MixDenom < thr
         |ORDER BY doc_id""".stripMargin
    }),

    // -- LLM: URL canonicalization + per-domain caps (row 55) --
    QuerySpec("url_normalize", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), urlInjected.as("_u"))
      docs.withColumn("url_norm", Web.urlNormalize(col("_u")))
        .select(col("doc_id"), col("url_norm"),
          Web.urlDomain(col("url_norm")).as("domain"))
        .orderBy("doc_id")
    }, s"""WITH $UrlCte
         |SELECT doc_id, url_norm,
         |       regexp_extract(url_norm, '://([^/]*)', 1) AS domain
         |FROM (SELECT doc_id, $UrlNormSql AS url_norm FROM urls)
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("url_domcap", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), urlInjected.as("_u"))
        .withColumn("domain", Web.urlDomain(Web.urlNormalize(col("_u"))))
      Web.capPerDomain(docs, "doc_id", "domain", DomCapK, DomCapSeed)
        .select("doc_id", "domain")
        .orderBy("doc_id")
    },
      // k smallest (md5(id, seed), id) per domain — the window rank
      // materializes in a CTE (DuckDB bars window functions in WHERE).
      s"""WITH $UrlCte, dom AS (
         |  SELECT doc_id,
         |         regexp_extract($UrlNormSql, '://([^/]*)', 1) AS domain,
         |         CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$DomCapSeed')), 1, 8)) AS BIGINT) AS h
         |  FROM urls
         |), rnk AS (
         |  SELECT doc_id, domain,
         |         row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rn
         |  FROM dom
         |)
         |SELECT doc_id, domain FROM rnk WHERE rn <= $DomCapK
         |ORDER BY doc_id""".stripMargin),

    // -- LLM: end-to-end corpus cleaning (row 54) --
    QuerySpec("pipe_clean", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      Pipeline.cleanCorpus(docs,
          docs.filter(col("doc_id") % DecBenchMod === 0),
          "doc_id", "text", CleanLang, CleanMinQuality, CleanMaxTwf,
          DecN, DecMinHits)
        .orderBy("doc_id")
    }, pipeCleanOracle),

    // The WHOLE funnel from markup (rows 71 + 54 composed): crawl-shaped
    // HTML in, cleaned corpus out — stage 0 extraction inside
    // cleanCorpus(fromHtml = true), then the identical filter/dedup/
    // decon/redact funnel over the EXTRACTED text. The bench side is
    // extracted too (decontamination grams live in text space).
    QuerySpec("pipe_clean_html", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      // Extract ONCE and cache: the funnel body and the decon bench
      // census both consume the extracted text, and previously each ran
      // its own extraction pass (the bench side standalone, the corpus
      // side again inside cleanCorpus(fromHtml = true) — 9 copies of the
      // extraction subtree in the physical plan, measured). Feeding the
      // pre-extracted table with fromHtml = false computes the identical
      // funnel (stage 0 extraction is a pure per-row projection) from
      // one materialized pass. fanOut for the single-row-group scan.
      val extracted = graft.core.Fanout.fanOut(docs
        .select(col("doc_id"), Html.extractText(htmlInjected).as("text")))
        .cache()
      val bench = extracted.filter(col("doc_id") % DecBenchMod === 0)
      Pipeline.cleanCorpus(extracted, bench, "doc_id", "text",
          CleanLang, CleanMinQuality, CleanMaxTwf, DecN, DecMinHits)
        .orderBy("doc_id")
    },
      // The identical funnel over the closed-form EXTRACTED text of the
      // htmlInjected template (the text_extract ground truth as a CTE).
      pipeCleanOracleFrom("xsrc",
      """xsrc AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || ' heading words' || chr(10) ||
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '5 & 10 <tags> block'
        |         ELSE '' END AS text
        |  FROM documents
        |), """.stripMargin)),

    // -- The doc funnel COMPOSED BELOW the C4 line stage (row 54): the
    // multi-line page is line-cleaned in place (flagged docs drop,
    // text rewrites to surviving lines), then the standard
    // lang/quality/dedup/decon funnel runs over the cleaned text.
    QuerySpec("pipe_clean_c4", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      val pages = docs.select(col("doc_id"), c4Injected.as("text"))
      val c4 = TextAnalysis.c4LineCols(col("text")).toMap
      // Line-clean ONCE and cache (the pipe_clean_html restructure, same
      // rationale): the C4 line rules are the per-row-expensive stage and
      // previously ran standalone for the bench census AND again inside
      // cleanCorpus(lineClean = true) — 10 copies of the line-rule
      // subtree in the physical plan, measured. The pre-cleaned table
      // with lineClean = false computes the identical funnel.
      val lineCleaned = graft.core.Fanout.fanOut(pages.filter(!c4("drop_doc"))
          .select(col("doc_id"), c4("clean_text").as("text")))
        .cache()
      val bench = lineCleaned.filter(col("doc_id") % DecBenchMod === 0)
      Pipeline.cleanCorpus(lineCleaned, bench, "doc_id", "text",
          CleanLang, CleanMinQuality, CleanMaxTwf, DecN, DecMinHits)
        .orderBy("doc_id")
    },
      // Line stage replayed ahead of the standard funnel chain: flagged
      // pages drop, text rewrites to surviving lines, then the identical
      // lang/quality/dedup/decon CTEs run over `lsrc`.
      pipeCleanOracleFrom("lsrc",
      s"""$C4PageCte, lsrc AS (
         |  SELECT doc_id,
         |         array_to_string(list_filter(string_split(p, chr(10)), l ->
         |           regexp_matches(trim(l), '[.!?"]$$')
         |           AND (CASE WHEN length(trim(l)) = 0 THEN 0
         |                     ELSE len(regexp_split_to_array(trim(l), '\\s+')) END) >= 3
         |           AND NOT contains(lower(l), 'javascript')), chr(10)) AS text
         |  FROM c4pg
         |  WHERE NOT (contains(lower(p), 'lorem ipsum') OR contains(p, '{'))
         |), """.stripMargin)),

    // -- The WHOLE pipeline as ONE composed query (rows 71+54+74+44+43+46):
    // crawl markup -> extraction -> heuristic+trained-classifier cleaning
    // -> exact dedup -> decontamination -> sequence packing -> deterministic
    // shuffle. The single number the 100 TB story hangs on: every stage's
    // plan composes without a collect or an extra corpus shuffle beyond
    // the stages' own documented exchanges.
    QuerySpec("pipe_funnel", { (s, dir) =>
      val extracted = funnelText(s, dir)
      val bench = extracted.filter(col("doc_id") % DecBenchMod === 0)
        .select("doc_id", "text")
      val clean = Pipeline.cleanCorpus(extracted.select("doc_id", "text"),
        bench, "doc_id", "text", CleanLang, CleanMinQuality, CleanMaxTwf,
        DecN, DecMinHits, classifier = Some(funnelClassifier(s, dir)))
      val survivors = extracted.join(clean.select("doc_id"), Seq("doc_id"), "left_semi")
      val packed = Pipeline.packSequences(survivors, "doc_id", "text", "source", PipeBudget)
      val shuffled = Pipeline.shuffleDeterministic(
        survivors.select("doc_id"), "doc_id", PipeSeed, PipeShards)
      packed.join(shuffled, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("bin"), col("spans"),
          col("shard"), col("pos"))
        .orderBy("doc_id")
    }, funnelClassifier.oracle(pipeFunnelOracle)),

    QuerySpec("pipe_pack", { (s, dir) =>
      Pipeline.packSequences(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "text", "source", PipeBudget)
        .orderBy("doc_id")
    }, s"""WITH ptok AS (
         |  SELECT doc_id, source,
         |         CASE WHEN length(trim(text)) = 0 THEN 0
         |              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
         |  FROM documents
         |), pcum AS (
         |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
         |  FROM ptok
         |)
         |SELECT doc_id, source, n_tokens,
         |       CAST(floor(start_tok / ${PipeBudget}.0) AS BIGINT) AS bin,
         |       (n_tokens > 0 AND floor((start_tok + n_tokens - 1) / ${PipeBudget}.0)
         |          <> floor(start_tok / ${PipeBudget}.0)) AS spans
         |FROM pcum ORDER BY doc_id""".stripMargin),
  )
}
