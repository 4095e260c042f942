package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Parquet
import graft.llm.{Dedup, Html, Pipeline, Retrieval, TextAnalysis}
import Shared._

/** Corpus statistics and passages (rows 44-50, 57, 60, 63, 71, 76):
  * commonness, perplexity, collocations, BM25, duplicated passages and
  * spans, line cleaning, HTML extraction, PII and chunking.
  */
object CorpusQueries {

  private val VocabK = 20

  // Duplicated-passage parameters shared by the text_passages
  // query/oracle (row 48): word 3-grams over the ~30-word test vocabulary
  // repeat across documents, so document-frequency ≥ PassMinDocs splits
  // the gram population instead of flagging everything or nothing.
  private val PassN = 3
  private val PassMinDocs = 2

  // Exact-substring span parameters shared by the dedup_spans[_clean]
  // queries/oracles (row 76). Same 3-gram granularity as text_passages;
  // minDocs 4 measured at sf0.01 to flag ~25% of corpus tokens across
  // ~94% of documents with ~1.8k maximal spans — partial coverage, so
  // both the merge rule and the doc-end clip are exercised, and docs
  // with zero spans pass through the clean rewrite untouched.
  private val SpanN = 3
  private val SpanMinDocs = 4

  // Chunking parameters shared by the pipe_chunks query/oracle (row 50):
  // 32-token chunks advancing by 24 (8-token overlap) — test documents
  // run ~10-120 tokens, yielding one to a handful of chunks each, with
  // both the short-final-chunk and the single-short-chunk cases present.
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** [[bpeOracleSql]]'s sibling for chunking in subword space: the same
    * unrolled greedy encode (shared construction), then the per-doc id
    * list re-assembled in word order and cut with the pipe_chunks CTE
    * pattern over SUBWORD positions.
    */
  private def bpeChunksOracleSql(vocab: Seq[String], steps: Int,
                                 chunkTokens: Int, stride: Int): String = {
    val values = vocab.zipWithIndex
      .map { case (w, i) => s"('$w', $i)" }.mkString(", ")
    val stepCtes = (1 to steps).map { k =>
      s"""s$k AS (
         |  SELECT w,
         |    CASE WHEN r = '' THEN r
         |         ELSE substr(r, 1 + coalesce((SELECT max(length(tok))
         |                FROM vocab WHERE starts_with(r, tok)), 1)) END AS r,
         |    CASE WHEN r = '' THEN ids
         |         ELSE ids || '|' || coalesce(CAST((SELECT arg_max(id, length(tok))
         |                FROM vocab WHERE starts_with(r, tok)) AS VARCHAR), '-1') END AS ids
         |  FROM s${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH vocab(tok, id) AS (SELECT * FROM (VALUES $values) v(tok, id)),
       |$TokCte,
       |words AS (SELECT DISTINCT unnest(ts) AS w FROM tok),
       |s0 AS (SELECT w,
       |  CASE WHEN length(w) > $steps
       |       THEN error('bpe oracle: word longer than unrolled steps=' || $steps)
       |       ELSE w END AS r,
       |  CAST('' AS VARCHAR) AS ids FROM words),
       |$stepCtes,
       |enc AS (SELECT w, ltrim(ids, '|') AS ids FROM s$steps),
       |docw AS (
       |  SELECT doc_id, t.i AS i, ts[t.i] AS w
       |  FROM tok, unnest(range(1, len(ts) + 1)) AS t(i)
       |),
       |docids AS (
       |  SELECT dw.doc_id,
       |         string_split(string_agg(e.ids, '|' ORDER BY dw.i), '|') AS ids
       |  FROM docw dw JOIN enc e ON dw.w = e.w
       |  GROUP BY dw.doc_id
       |),
       |ch AS (
       |  SELECT doc_id, ids,
       |         CAST(floor((greatest(len(ids) - $chunkTokens, 0) + ${stride - 1})
       |                    / $stride.0) AS BIGINT) + 1 AS nch
       |  FROM docids WHERE len(ids) > 0
       |),
       |ex AS (
       |  SELECT doc_id, ids, unnest(generate_series(0, nch - 1)) AS chunk_id FROM ch
       |)
       |SELECT doc_id, chunk_id, chunk_id * $stride AS start_tok,
       |       CAST(len(list_slice(ids, chunk_id * $stride + 1,
       |                           chunk_id * $stride + $chunkTokens)) AS BIGINT) AS n_tokens,
       |       CAST(concat('0x', substr(md5(array_to_string(
       |         list_slice(ids, chunk_id * $stride + 1,
       |                    chunk_id * $stride + $chunkTokens), '|')), 1, 8)) AS BIGINT) AS chunk_hash
       |FROM ex ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** PII-injection column shared by the text_pii query/oracle: the
    * synthetic corpus contains no PII-shaped strings, so the harness
    * appends deterministic doc_id-derived email/phone/IP tails to a
    * subset of documents — BOTH engines construct the same tails, making
    * the detector/redactor gradeable with real positives AND real
    * negatives (non-multiples keep unmodified text). The library
    * operators ([[TextAnalysis.piiCols]]/[[TextAnalysis.redactPii]]) see
    * only an ordinary text column.
    */
  private def piiInjected: Column = concat(col("text"),
    when(col("doc_id") % 4 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call +33 555 "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit(" 214"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit(" node 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string"))).otherwise(lit("")))

  /** The DuckDB twin of [[piiInjected]] (CTE `pii`, column `t`). */
  private val PiiCte =
    """pii AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 4 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN ' call +33 555 ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' 214'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
      |         ELSE '' END AS t
      |  FROM documents
      |)""".stripMargin

  // BM25 parameters shared by the text_bm25 query/oracle: three literal
  // keyword queries over mid-frequency corpus terms (every term occurs,
  // none dominates), standard k1/b.
  private val Bm25Queries = Seq(
    0L -> Seq("hash", "join"),
    1L -> Seq("window", "stream"),
    2L -> Seq("vector", "scan", "filter"))
  private val Bm25K = 10
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  // Bigram-LM bucket sizes shared by the text_perplexity query/oracle:
  // the test vocabulary is ~30 words (~900 possible bigrams), so 2048/8192
  // buckets keep hash collisions rare without making the broadcast tables
  // less than trivially metadata-sized.
  private val PplUniBuckets = 2048
  private val PplBigBuckets = 8192

  // Collocation parameters shared by the text_collocations query/oracle:
  // the ~30-word test vocabulary repeats pairs heavily, so minCount=5
  // actually filters and k=50 cuts a real boundary.
  private val CollMinCount = 5L
  private val CollK = 50

  /** Shared span-location CTE chain (appended after `tok`) — census of
    * hashed word-SpanN-grams, hot set at document frequency ≥
    * SpanMinDocs, positional anchors, and the lag/cumsum merge into
    * maximal runs with the doc-end clip: `spsp(doc_id, span_start,
    * span_len)` in 0-based token positions. Reused by the dedup_spans
    * and dedup_spans_clean oracles.
    */
  private def spanCtes: String = {
    def gramHash(posExpr: String) =
      s"CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, $posExpr, $posExpr + ${SpanN - 1}), ' ')), 1, 8)) AS BIGINT)"
    s"""spg AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(ts) - ${SpanN - 1}, 1)),
       |    i -> ${gramHash("i")})) AS gh
       |  FROM tok
       |), spe AS (
       |  SELECT doc_id, unnest(gh) AS g FROM spg
       |), sphot AS (
       |  SELECT g FROM spe GROUP BY g HAVING count(*) >= $SpanMinDocs
       |), sppos AS (
       |  SELECT doc_id, len(ts) AS nt, ts,
       |         unnest(generate_series(1, greatest(len(ts) - ${SpanN - 1}, 1))) AS p
       |  FROM tok WHERE len(ts) > 0
       |), spanc AS (
       |  SELECT doc_id, nt, p FROM sppos
       |  WHERE ${gramHash("p")} IN (SELECT g FROM sphot)
       |), splg AS (
       |  SELECT doc_id, nt, p,
       |         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $SpanN
       |              THEN 0 ELSE 1 END AS nw
       |  FROM spanc
       |), spgr AS (
       |  SELECT doc_id, nt, p, sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS run
       |  FROM splg
       |), spsp AS (
       |  SELECT doc_id, CAST(min(p) - 1 AS BIGINT) AS span_start,
       |         CAST(least(max(p) + ${SpanN - 1}, max(nt)) - min(p) + 1 AS BIGINT) AS span_len
       |  FROM spgr GROUP BY doc_id, run
       |)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // -- LLM: corpus-relative commonness (row 47) --
    // VocabK = 20 keeps part of the ~30-word test vocabulary OOV, so
    // in_vocab_frac discriminates at every SF.
    QuerySpec("text_commonness", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      TextAnalysis.commonness(docs, TextAnalysis.vocabulary(docs, "text", VocabK))
        .orderBy("doc_id")
    }, s"""WITH $TokCte, tt AS (
         |  SELECT doc_id, unnest(ts) AS token FROM tok
         |), vf AS (
         |  SELECT token, count(*) AS freq FROM tt GROUP BY token
         |  ORDER BY freq DESC, token LIMIT $VocabK
         |), agg AS (
         |  SELECT t.doc_id, count(*) AS n, count(vf.freq) AS nv,
         |         coalesce(sum(vf.freq), 0) AS s
         |  FROM tt t LEFT JOIN vf USING (token) GROUP BY t.doc_id
         |)
         |SELECT t.doc_id,
         |  round(CASE WHEN a.n IS NULL OR a.n = 0 THEN 0.0
         |             ELSE a.nv * 1.0 / a.n END, 6) AS in_vocab_frac,
         |  round(CASE WHEN coalesce(a.nv, 0) = 0 THEN 0.0
         |             ELSE a.s * 1.0 / a.nv END, 6) AS mean_vocab_freq
         |FROM tok t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),

    // -- LLM: hashed bigram-LM perplexity scoring (row 60) --
    QuerySpec("text_perplexity", { (s, dir) =>
      TextAnalysis.bigramNll(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "text", None, PplUniBuckets, PplBigBuckets)
        .orderBy("doc_id")
    },
      // re-derives the hashed bigram LM: training counts over ALL gram
      // positions (incl. the short-text convention), per-bucket ln
      // quantized to exact 1e-6 BIGINT ticks (the dsir recipe), scoring
      // pairs = (context unigram bucket, bigram bucket) per transition.
      // The context bucket always hits qu (self-trained model); an
      // unseen bigram bucket scores ln(α)=0 ticks for α=1.
      s"""WITH $TokCte, pu AS (
         |  SELECT unnest(${gramListSql(1, PplUniBuckets)}) AS bu FROM tok
         |), qu AS (
         |  SELECT bu, CAST(floor(ln(count(*) + ${1.0 * PplBigBuckets}) * 1000000.0 + 0.5) AS BIGINT) AS tu
         |  FROM pu GROUP BY bu
         |), pb AS (
         |  SELECT unnest(${gramListSql(2, PplBigBuckets)}) AS bb FROM tok
         |), qb AS (
         |  SELECT bb, CAST(floor(ln(count(*) + 1.0) * 1000000.0 + 0.5) AS BIGINT) AS tb
         |  FROM pb GROUP BY bb
         |), prs AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
         |      i -> CAST(concat('0x', substr(md5(ts[i]), 1, 8)) AS BIGINT) % $PplUniBuckets)) AS bu,
         |    unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
         |      i -> CAST(concat('0x', substr(md5(concat(ts[i], ' ', ts[i + 1])), 1, 8)) AS BIGINT) % $PplBigBuckets)) AS bb
         |  FROM tok
         |), sc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS np,
         |         CAST(sum(tu - coalesce(tb, 0)) AS BIGINT) AS st
         |  FROM prs JOIN qu USING (bu) LEFT JOIN qb USING (bb)
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(np, CAST(0 AS BIGINT)) AS n_pairs,
         |       CASE WHEN np IS NULL THEN NULL ELSE (st / 1000000.0) / np END AS mean_nll
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // -- LLM: PMI collocations (row 63) --
    QuerySpec("text_collocations", { (s, dir) =>
      TextAnalysis.collocations(Parquet.read(s, s"$dir/documents.parquet"),
          "text", CollMinCount, CollK)
        .orderBy(desc("pmi"), col("w1"), col("w2"))
    },
      // exact-count PMI with the pinned expression shape; top-k orders
      // by the ROUNDED pmi with (w1, w2) tiebreak on both sides
      s"""WITH $TokCte, uni AS (
         |  SELECT unnest(ts) AS w FROM tok
         |), cu AS (
         |  SELECT w, count(*) AS c FROM uni GROUP BY w
         |), nu AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n FROM cu
         |), bg AS (
         |  SELECT unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
         |                i -> ts[i])) AS w1,
         |         unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
         |                i -> ts[i + 1])) AS w2
         |  FROM tok
         |), cb AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM bg GROUP BY w1, w2
         |), nb AS (
         |  SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM cb
         |)
         |SELECT cb.w1, cb.w2, cb.n_ab,
         |       round(ln((CAST(cb.n_ab AS DOUBLE) * nu.n * nu.n) /
         |                (CAST(nb.n AS DOUBLE) * a.c * b.c)), 6) AS pmi
         |FROM cb CROSS JOIN nu CROSS JOIN nb
         |JOIN cu a ON cb.w1 = a.w
         |JOIN cu b ON cb.w2 = b.w
         |WHERE cb.n_ab >= $CollMinCount
         |ORDER BY pmi DESC, cb.w1, cb.w2 LIMIT $CollK""".stripMargin),

    // -- LLM: BM25 lexical retrieval (row 57) --
    QuerySpec("text_bm25", { (s, dir) =>
      Retrieval.bm25TopK(Parquet.read(s, s"$dir/documents.parquet"), "doc_id", "text",
          Bm25Queries, Bm25K, Bm25K1, Bm25B)
        .orderBy("query_id", "rank")
    }, {
      val terms = Bm25Queries.flatMap(_._2).distinct
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val qtArms = Bm25Queries.flatMap { case (q, ts) =>
        ts.map(t => s"SELECT CAST($q AS BIGINT) AS query_id, '$t' AS t")
      }.mkString("\n  UNION ALL\n  ")
      val k1p1 = Bm25K1 + 1 // interpolated so both engines parse the same literal
      // idf ln quantized to 1e-6 ticks, per-(doc, term) contribution
      // re-quantized to ticks before the per-doc sum — the per-doc
      // aggregation is integer arithmetic, identical to the Spark side
      s"""WITH $TokCte, st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(len(ts)) AS BIGINT) AS tot
         |  FROM tok
         |), hits AS (
         |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf,
         |         CAST(max(dl) AS BIGINT) AS dl
         |  FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS t FROM tok)
         |  WHERE t IN ($termList)
         |  GROUP BY doc_id, t
         |), idf AS (
         |  SELECT t, CAST(round(ln(((SELECT n FROM st) - df + 0.5) / (df + 0.5) + 1.0)
         |                        * 1000000.0) AS BIGINT) AS it
         |  FROM (SELECT t, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY t)
         |), qt AS (
         |  $qtArms
         |), sc AS (
         |  SELECT q.query_id, h.doc_id,
         |         CAST(round(CAST(i.it AS DOUBLE) *
         |           ((h.tf * $k1p1) / (h.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * h.dl
         |              / (SELECT CAST(tot AS DOUBLE) / n FROM st))))) AS BIGINT) AS ticks
         |  FROM hits h JOIN idf i USING (t) JOIN qt q USING (t)
         |)
         |SELECT query_id, doc_id, bm25_ticks, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT query_id, doc_id, bm25_ticks,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY bm25_ticks DESC, doc_id) AS rn
         |  FROM (
         |    SELECT query_id, doc_id, CAST(sum(ticks) AS BIGINT) AS bm25_ticks
         |    FROM sc GROUP BY query_id, doc_id
         |  )
         |) WHERE rn <= $Bm25K ORDER BY query_id, rank""".stripMargin
    }),

    // -- LLM: corpus-duplicated passages (row 48) --
    QuerySpec("text_passages", { (s, dir) =>
      Dedup.dupPassageStats(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "text", PassN, PassMinDocs)
        .orderBy("doc_id")
    }, s"""WITH $TokCte, pg AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(ts) - ${PassN - 1}, 1)),
         |    i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${PassN - 1}), ' ')), 1, 8)) AS BIGINT))) AS gh
         |  FROM tok
         |), pe AS (
         |  SELECT doc_id, unnest(gh) AS g FROM pg
         |), hotg AS (
         |  SELECT g FROM pe GROUP BY g HAVING count(*) >= $PassMinDocs
         |)
         |SELECT pe.doc_id, count(*) AS n_grams,
         |       CAST(count(h.g) AS BIGINT) AS dup_grams,
         |       round(count(h.g) * 1.0 / count(*), 6) AS dup_frac
         |FROM pe LEFT JOIN hotg h ON pe.g = h.g
         |GROUP BY pe.doc_id ORDER BY doc_id""".stripMargin),

    // -- LLM: exact-substring duplicated spans (row 76) --
    // Locate the corpus-duplicated passages themselves (Lee et al.
    // 2022): maximal runs of tokens covered by grams in >= SpanMinDocs
    // documents, as 0-based (start, len) per doc.
    QuerySpec("dedup_spans", { (s, dir) =>
      Dedup.dupSpans(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "text", SpanN, SpanMinDocs)
        .orderBy("doc_id", "span_start")
    },
      // Replay of the span construction: hashed-gram census -> hot set ->
      // positional anchors -> lag/cumsum run merge (two window CTEs; no
      // nested windows) -> per-run min/max with the doc-end clip.
      s"""WITH $TokCte, $spanCtes
         |SELECT doc_id, span_start, span_len FROM spsp
         |ORDER BY doc_id, span_start""".stripMargin),

    // The excision rewrite over the same span table: duplicated tokens
    // drop, survivors re-join; the cleaned stream is graded by
    // fingerprint (a wrong excision anywhere moves the md5-32).
    QuerySpec("dedup_spans_clean", { (s, dir) =>
      Dedup.removeDupSpans(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "text", SpanN, SpanMinDocs)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          Dedup.md5Hash32(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },
      // The rewrite graded independently: explode span coverage to token
      // positions, anti-join the token stream, re-join survivors in order,
      // fingerprint. Docs with no spans (or nothing left) still get a row.
      s"""WITH $TokCte, $spanCtes, spcov AS (
         |  SELECT doc_id, unnest(generate_series(span_start + 1, span_start + span_len)) AS i
         |  FROM spsp
         |), sptk AS (
         |  SELECT doc_id, unnest(ts) AS tk, generate_subscripts(ts, 1) AS i FROM tok
         |), spkeep AS (
         |  SELECT t.doc_id, t.tk, t.i
         |  FROM sptk t LEFT JOIN spcov c ON t.doc_id = c.doc_id AND t.i = c.i
         |  WHERE c.i IS NULL
         |), spclean AS (
         |  SELECT doc_id, count(*) AS n_kept, string_agg(tk, ' ' ORDER BY i) AS ct
         |  FROM spkeep GROUP BY doc_id
         |)
         |SELECT k.doc_id AS doc_id, CAST(len(k.ts) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
         |       CAST(concat('0x', substr(md5(coalesce(c.ct, '')), 1, 8)) AS BIGINT) AS clean_fp
         |FROM tok k LEFT JOIN spclean c ON k.doc_id = c.doc_id
         |ORDER BY k.doc_id""".stripMargin),

    // -- LLM: C4 line-level cleaning (row 54's sub-document stage) --
    // Lines survive on terminal punctuation + word floor + no
    // "javascript"; lorem-ipsum / brace docs are flagged for dropping.
    QuerySpec("pipe_clean_lines", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), c4Injected.as("_pg"))
      val c = TextAnalysis.c4LineCols(col("_pg")).toMap
      docs.select(col("doc_id"), c("n_lines").as("n_lines"),
          c("n_kept").as("n_kept"), c("drop_doc").as("drop_doc"),
          Dedup.md5Hash32(c("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },
      // The C4 line rules replayed over the same closed-form page: split,
      // list_filter on the identical three line predicates, re-join.
      s"""WITH $C4PageCte, c4ln AS (
         |  SELECT doc_id, p, string_split(p, chr(10)) AS ls FROM c4pg
         |), c4kp AS (
         |  SELECT doc_id, p, ls, list_filter(ls, l ->
         |    regexp_matches(trim(l), '[.!?"]$$')
         |    AND (CASE WHEN length(trim(l)) = 0 THEN 0
         |              ELSE len(regexp_split_to_array(trim(l), '\\s+')) END) >= 3
         |    AND NOT contains(lower(l), 'javascript')) AS kept
         |  FROM c4ln
         |)
         |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
         |       CAST(len(kept) AS BIGINT) AS n_kept,
         |       (contains(lower(p), 'lorem ipsum') OR contains(p, '{')) AS drop_doc,
         |       CAST(concat('0x', substr(md5(array_to_string(kept, chr(10))), 1, 8)) AS BIGINT) AS clean_fp
         |FROM c4kp ORDER BY doc_id""".stripMargin),

    // The Lee et al. KEEP-ONE rewrite: every duplicated span string
    // survives in exactly one place (smallest (doc_id, start)); all
    // other occurrences are excised. Same graded surface.
    QuerySpec("dedup_spans_keep1", { (s, dir) =>
      Dedup.removeDupSpansKeepOne(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "text", SpanN, SpanMinDocs)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          Dedup.md5Hash32(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },
      // Keep-one: span content hashes over the covered token slices, the
      // winner occurrence per hash by (doc_id, start) row_number, coverage
      // from NON-winner spans only, then the identical rebuild.
      s"""WITH $TokCte, $spanCtes, spst AS (
         |  SELECT s.doc_id AS doc_id, s.span_start, s.span_len,
         |         CAST(concat('0x', substr(md5(array_to_string(
         |           list_slice(t.ts, s.span_start + 1, s.span_start + s.span_len), ' ')), 1, 8)) AS BIGINT) AS sh
         |  FROM spsp s JOIN tok t ON s.doc_id = t.doc_id
         |), sprk AS (
         |  SELECT doc_id, span_start, span_len,
         |         row_number() OVER (PARTITION BY sh ORDER BY doc_id, span_start) AS rk
         |  FROM spst
         |), spcov AS (
         |  SELECT doc_id, unnest(generate_series(span_start + 1, span_start + span_len)) AS i
         |  FROM sprk WHERE rk > 1
         |), sptk AS (
         |  SELECT doc_id, unnest(ts) AS tk, generate_subscripts(ts, 1) AS i FROM tok
         |), spkeep AS (
         |  SELECT t.doc_id, t.tk, t.i
         |  FROM sptk t LEFT JOIN spcov c ON t.doc_id = c.doc_id AND t.i = c.i
         |  WHERE c.i IS NULL
         |), spclean AS (
         |  SELECT doc_id, count(*) AS n_kept, string_agg(tk, ' ' ORDER BY i) AS ct
         |  FROM spkeep GROUP BY doc_id
         |)
         |SELECT k.doc_id AS doc_id, CAST(len(k.ts) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
         |       CAST(concat('0x', substr(md5(coalesce(c.ct, '')), 1, 8)) AS BIGINT) AS clean_fp
         |FROM tok k LEFT JOIN spclean c ON k.doc_id = c.doc_id
         |ORDER BY k.doc_id""".stripMargin),

    // -- LLM: PII detection/redaction (row 49) --
    // Counts per PII kind plus the rolling-hash fingerprint of the
    // redacted text — the fingerprint pins the full redacted string (a
    // wrong replacement anywhere moves it) without shipping long text
    // through the grading hash.
    // -- LLM: HTML → text extraction + boilerplate removal (row 71) --
    // The funnel's head: full-page template injected around each doc
    // (htmlInjected), extracted by the pinned pipeline; the oracle is the
    // template's closed-form ground truth.
    QuerySpec("text_extract", { (s, dir) =>
      Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), htmlInjected.as("_h"))
        .select(col("doc_id"), Html.extractText(col("_h")).as("extracted"))
        .orderBy("doc_id")
    },
      // Ground truth of the htmlInjected template: head/style/script and
      // every high-link-density or below-minWords block drop; what remains
      // is the heading, the (whitespace-normalized) document text, and the
      // decoded entity block on doc_id % 5 — joined with \n in page order.
      """SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' heading words' || chr(10) ||
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |  CASE WHEN doc_id % 5 = 0 THEN chr(10) || '5 & 10 <tags> block'
        |       ELSE '' END AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Link extraction (row 71 family): the htmlInjected template's known
    // anchor set — nav (3), conditional read-more (doc_id%3), footer
    // (2) — recovered as an exploded (href, anchor text) edge list in
    // page order; the oracle states the closed-form edge table.
    QuerySpec("text_links", { (s, dir) =>
      Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), posexplode(Html.links(htmlInjected)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col.href").as("href"), col("col.text").as("anchor_text"))
        .orderBy("doc_id", "pos")
    },
      // Closed-form edge table of the htmlInjected template's anchors, in
      // page order (the conditional read-more slots in before the footer).
      """WITH l AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      [{'h': '/', 't': 'Home'}, {'h': '/about', 't': 'About'},
        |       {'h': '/more', 't': 'More'}, {'h': '/r', 't': 'Read more here'},
        |       {'h': '/c', 't': 'Contact'}, {'h': '/t', 't': 'Terms'}]
        |    ELSE
        |      [{'h': '/', 't': 'Home'}, {'h': '/about', 't': 'About'},
        |       {'h': '/more', 't': 'More'},
        |       {'h': '/c', 't': 'Contact'}, {'h': '/t', 't': 'Terms'}]
        |    END AS ls
        |  FROM documents
        |)
        |SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos,
        |       ls[t.i].h AS href, ls[t.i].t AS anchor_text
        |FROM l, unnest(range(1, len(ls) + 1)) AS t(i)
        |ORDER BY doc_id, pos""".stripMargin),

    QuerySpec("text_pii", { (s, dir) =>
      val base = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), piiInjected.as("_t"))
      TextAnalysis.piiAnalysis(base, "doc_id", "_t").orderBy("doc_id")
    }, {
      val Seq(email, phone, ip) = TextAnalysis.PiiPatterns.map(_._2)
      val red = TextAnalysis.PiiPatterns.foldLeft("t") { case (e, (_, pat, rep)) =>
        s"regexp_replace($e, '$pat', '$rep', 'g')"
      }
      s"""WITH $PiiCte
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(
         |        string_split(regexp_replace($red, '[^\\x00-\\x7F]', '', 'g'), ''),
         |        c -> CAST(ord(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % ${TextAnalysis.FpMod}) AS red_fp
         |FROM pii ORDER BY doc_id""".stripMargin
    }),

    // -- LLM: document chunking (row 50) --
    QuerySpec("pipe_chunks", { (s, dir) =>
      Pipeline.chunk(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", "text", ChunkSize, ChunkStride)
        .orderBy("doc_id", "chunk_id")
    }, s"""WITH $TokCte, ch AS (
         |  SELECT doc_id, ts,
         |         CAST(floor((greatest(len(ts) - $ChunkSize, 0) + ${ChunkStride - 1})
         |                    / ${ChunkStride}.0) AS BIGINT) + 1 AS nch
         |  FROM tok WHERE len(ts) > 0
         |), ex AS (
         |  SELECT doc_id, ts, unnest(generate_series(0, nch - 1)) AS chunk_id FROM ch
         |)
         |SELECT doc_id, chunk_id, chunk_id * $ChunkStride AS start_tok,
         |       CAST(len(list_slice(ts, chunk_id * $ChunkStride + 1,
         |                           chunk_id * $ChunkStride + $ChunkSize)) AS BIGINT) AS n_tokens,
         |       CAST(concat('0x', substr(md5(array_to_string(
         |         list_slice(ts, chunk_id * $ChunkStride + 1,
         |                    chunk_id * $ChunkStride + $ChunkSize), ' ')), 1, 8)) AS BIGINT) AS chunk_hash
         |FROM ex ORDER BY doc_id, chunk_id""".stripMargin),

    // -- LLM: chunking in SUBWORD space (rows 50 + 37 composed) --
    // The retrieval budget measured in the tokens the model sees: greedy
    // subword ids against the shared BpeVocab, windows of ChunkSize ids
    // with ChunkStride overlap, chunk identity = hash of the id slice.
    QuerySpec("pipe_chunks_bpe", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), lower(col("text")).as("text"))
      Pipeline.chunkSubwords(docs, "doc_id", "text", BpeVocab, ChunkSize, ChunkStride)
        .orderBy("doc_id", "chunk_id")
    }, bpeChunksOracleSql(BpeVocab, steps = 10,
      chunkTokens = ChunkSize, stride = ChunkStride)),
  )
}
