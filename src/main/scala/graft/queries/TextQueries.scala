package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Parquet
import graft.llm.{Dedup, TextAnalysis}
import Shared._

/** Text analysis (rows 35-38, 45, 75): BPE training and tokenization,
  * quality, the text classifier, language id, fingerprints, hashed
  * embeddings and repetition stats.
  */
object TextQueries {

  private val textClassifier = new Fitted[graft.llm.Classifier.TextClassifierModel]("textClassifier")(
    (s, dir) => graft.llm.Classifier.fit(Parquet.read(s, s"$dir/documents.parquet"),
      "doc_id", "text", clsLabel, ClsDim, trainCapPerLabel = ClsTrainCap))

  /** The text_classifier oracle: re-score every document from the
    * model's quantized tick weights — integer-tick gram-instance sum,
    * the exact [[graft.llm.Classifier.logitTicks]] contract in SQL.
    */
  private def clsOracle(m: graft.llm.Classifier.TextClassifierModel): String = {
    val (values, gramsSql) = classifierSql(m)
    s"""WITH cticks(b, v) AS (SELECT * FROM (VALUES $values) t(b, v)),
       |$TokCte, cgb AS (
       |  SELECT doc_id, unnest($gramsSql) AS b
       |  FROM tok
       |), csum AS (
       |  SELECT g.doc_id, CAST(${m.interceptTicks} + coalesce(sum(t.v), 0) AS BIGINT) AS lt
       |  FROM cgb g JOIN cticks t ON g.b = t.b
       |  GROUP BY g.doc_id
       |)
       |SELECT d.doc_id, c.lt AS logit_ticks, c.lt / 1000000.0 AS score, c.lt > 0 AS pred
       |FROM documents d JOIN csum c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Unrolled greedy longest-match encode in DuckDB (the
    * [[graft.functions.SubwordEncode]] rule replayed step-for-step):
    * every step consumes ≥ 1 character, so `steps` ≥ the longest word
    * bounds the iteration — and the s0 CTE ASSERTS that bound (a
    * regenerated corpus with a longer word raises loudly instead of
    * silently truncating the id list; advisor, round 14); encoding runs
    * over DISTINCT words (the rule is word-local) and joins back in
    * document order.
    */
  private def bpeOracleSql(vocab: Seq[String], steps: Int): String = {
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
       |enc AS (
       |  SELECT w, ltrim(ids, '|') AS ids,
       |         CAST(length(ids) - length(replace(ids, '|', '')) AS BIGINT) AS n
       |  FROM s$steps
       |),
       |docw AS (
       |  SELECT doc_id, t.i AS i, ts[t.i] AS w
       |  FROM tok, unnest(range(1, len(ts) + 1)) AS t(i)
       |)
       |SELECT d.doc_id,
       |       CAST(coalesce(sum(e.n), 0) AS BIGINT) AS n_bpe,
       |       CAST(concat('0x', substr(md5(coalesce(
       |         string_agg(e.ids, '|' ORDER BY dw.i), '')), 1, 8)) AS BIGINT) AS bpe_fp
       |FROM documents d
       |LEFT JOIN docw dw ON d.doc_id = dw.doc_id
       |LEFT JOIN enc e ON dw.w = e.w
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Merge rounds for the BPE-training row (metadata-sized table work
    * after one corpus pass; 12 rounds over the 26-letter word pool).
    */
  private val BpeTrainRounds = 12

  /** The BPE merge loop replayed in DuckDB — each round: adjacent-pair
    * counts off the `<sym>`-wrapped strings, argmax with the pinned
    * (count DESC, pattern ASC) tie-break, literal splice. Disjoint
    * `<l><r>` matches make every engine's left-to-right replace agree;
    * the coalesce sentinel keeps an exhausted round harmless.
    */
  /** The BPE train rounds as a reusable CTE fragment (`w0` + per-round
    * `x/p/b/w` chain, each `b$k` holding round k's winning pattern) —
    * shared by the train oracle and the ranked-encode oracle, which
    * re-derives the merges independently instead of trusting an export.
    */
  private def bpeTrainRoundCtes(rounds: Int): String = {
    // every CTE is MATERIALIZED: each round references its predecessor
    // several times (pair counts + the splice's scalar subqueries), and
    // DuckDB re-inlines non-materialized CTEs — 12 chained rounds would
    // re-open the parquet exponentially (measured: "too many open files")
    val roundCtes = (1 to rounds).map { k =>
      s"""x${k - 1} AS MATERIALIZED (
         |  SELECT freq, s, string_split(substr(s, 2, length(s) - 2), '><') AS sy
         |  FROM w${k - 1}
         |), p$k AS MATERIALIZED (
         |  SELECT pat, sum(freq) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(sy)),
         |      i -> '<' || sy[i] || '><' || sy[i + 1] || '>')) AS pat
         |    FROM x${k - 1}
         |  ) GROUP BY pat
         |), b$k AS MATERIALIZED (
         |  SELECT $k AS rank, pat, cnt FROM p$k ORDER BY cnt DESC, pat ASC LIMIT 1
         |), w$k AS MATERIALIZED (
         |  SELECT freq, replace(s,
         |    coalesce((SELECT pat FROM b$k), chr(1)),
         |    coalesce(replace((SELECT pat FROM b$k), '><', ''), '')) AS s
         |  FROM w${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""wf AS (
       |  SELECT w, count(*) AS freq FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY w
       |),
       |w0 AS MATERIALIZED (
       |  SELECT freq,
       |         '<' || array_to_string(string_split(w, ''), '><') || '>' AS s
       |  FROM wf
       |),
       |$roundCtes""".stripMargin
  }

  private def bpeTrainOracleSql(rounds: Int): String = {
    val union = (1 to rounds)
      .map(k => s"SELECT rank, pat, cnt FROM b$k").mkString("\nUNION ALL\n")
    s"""WITH $TokCte,
       |${bpeTrainRoundCtes(rounds)},
       |m AS ($union)
       |SELECT CAST(rank AS BIGINT) AS rank,
       |       regexp_extract(pat, '^<(.*?)><', 1) AS merge_left,
       |       regexp_extract(pat, '><(.*)>$$', 1) AS merge_right,
       |       CAST(cnt AS BIGINT) AS pair_count
       |FROM m ORDER BY rank""".stripMargin
  }

  /** Merge-order BPE encode replayed in DuckDB with INDEPENDENTLY
    * re-derived merges: the train chain's `b$k` winners apply to every
    * distinct corpus word in rank order (the identical literal splice),
    * then the final symbol strings reassemble per document in word
    * order. The coalesce/chr(1) sentinel keeps exhausted rounds no-ops,
    * exactly as in the train chain.
    */
  private def bpeRankedOracleSql(rounds: Int): String = {
    val encCtes = (1 to rounds).map { k =>
      s"""e$k AS MATERIALIZED (
         |  SELECT w, replace(s,
         |    coalesce((SELECT pat FROM b$k), chr(1)),
         |    coalesce(replace((SELECT pat FROM b$k), '><', ''), '')) AS s
         |  FROM e${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH $TokCte,
       |${bpeTrainRoundCtes(rounds)},
       |e0 AS MATERIALIZED (
       |  SELECT w, '<' || array_to_string(string_split(w, ''), '><') || '>' AS s
       |  FROM (SELECT DISTINCT unnest(ts) AS w FROM tok)
       |),
       |$encCtes,
       |renc AS (
       |  SELECT w, string_split(substr(s, 2, length(s) - 2), '><') AS sy FROM e$rounds
       |),
       |rdocw AS (
       |  SELECT doc_id, t.i AS i, ts[t.i] AS w
       |  FROM tok, unnest(range(1, len(ts) + 1)) AS t(i)
       |)
       |SELECT d.doc_id,
       |       CAST(coalesce(sum(len(e.sy)), 0) AS BIGINT) AS n_ranked,
       |       CAST(concat('0x', substr(md5(coalesce(
       |         string_agg(array_to_string(e.sy, '|'), '|' ORDER BY dw.i), '')), 1, 8)) AS BIGINT) AS ranked_fp
       |FROM documents d
       |LEFT JOIN rdocw dw ON d.doc_id = dw.doc_id
       |LEFT JOIN renc e ON dw.w = e.w
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  private def textQualityOracle: String = {
    val stopEn = TextAnalysis.LangStopwords.head._2.mkString("\\b(", "|", ")\\b")
    s"""SELECT doc_id,
       |  n_chars, n_tokens,
       |  round(CAST(nows AS DOUBLE) / safe_tok, 6) AS mean_tok_len,
       |  round(CAST(punct AS DOUBLE) / safe_chr, 6) AS punct_ratio,
       |  round(CAST(digit AS DOUBLE) / safe_chr, 6) AS digit_ratio,
       |  round(CAST(stop AS DOUBLE) / safe_tok, 6) AS stop_ratio,
       |  round(
       |    least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) * 0.4
       |    + least(CAST(stop AS DOUBLE) / safe_tok * 5.0, 1.0) * 0.3
       |    + (1.0 - least(CAST(punct AS DOUBLE) / safe_chr * 10.0, 1.0)) * 0.15
       |    + (1.0 - least(CAST(digit AS DOUBLE) / safe_chr * 10.0, 1.0)) * 0.15, 6) AS quality
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       |    CASE WHEN length(trim(text)) = 0 THEN 1
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS safe_tok,
       |    CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS safe_chr,
       |    length(regexp_replace(text, '\\s', '', 'g')) AS nows,
       |    len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
       |    len(regexp_extract_all(text, '[0-9]')) AS digit,
       |    len(regexp_extract_all(lower(text), '$stopEn')) AS stop
       |  FROM documents
       |) ORDER BY doc_id""".stripMargin
  }

  private def textLangidOracle: String = {
    val scoreExprs = TextAnalysis.LangStopwords.map { case (lang, words) =>
      val pat = words.mkString("\\b(", "|", ")\\b")
      s"len(regexp_extract_all(lower(text), '$pat')) AS s_$lang"
    }.mkString(",\n    ")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val caseArm = langs.map(l => s"WHEN $best > 0 AND s_$l = $best THEN '$l'").mkString(" ")
    s"""SELECT doc_id, ${langs.map(l => s"CAST(s_$l AS BIGINT) AS s_$l").mkString(", ")},
       |       CASE $caseArm ELSE 'und' END AS lang_id
       |FROM (
       |  SELECT doc_id,
       |    $scoreExprs
       |  FROM documents
       |) ORDER BY doc_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // BPE vocab TRAINING (row 37's training half): the Sennrich merge
    // loop — one corpus pass to the word-frequency table, then 12
    // metadata-sized argmax+splice rounds; graded on the learned merge
    // table, with DuckDB replaying every round as unrolled CTEs.
    QuerySpec("text_bpe_train", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
        .select(lower(col("text")).as("text"))
      TextAnalysis.trainBpeMerges(docs, "text", BpeTrainRounds)
        .select(col("rank"), col("left").as("merge_left"),
          col("right").as("merge_right"), col("pair_count"))
        .orderBy("rank")
    }, bpeTrainOracleSql(BpeTrainRounds)),

    // Vocab-driven subword tokenization (row 37, the real-token-budget
    // upgrade): greedy longest-match ids against the shared BpeVocab —
    // native one-trie-pass expression; graded on count + id-sequence
    // fingerprint, with DuckDB replaying the greedy rule as bounded
    // unrolled iteration over distinct words.
    QuerySpec("text_tokens_bpe", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      val ids = TextAnalysis.subwordIds(lower(col("text")), BpeVocab)
      docs.select(col("doc_id"),
          size(ids).cast("long").as("n_bpe"),
          Dedup.md5Hash32(array_join(transform(ids, i => i.cast("string")), "|"))
            .as("bpe_fp"))
        .orderBy("doc_id")
    }, bpeOracleSql(BpeVocab, steps = 10)),

    // Merge-order BPE encode (row 37, the train->encode closure): train
    // the merge table on the corpus, then apply the merges by RANK (the
    // Sennrich apply loop — not greedy longest-match); the oracle
    // re-derives the merges AND the rank-order application in SQL.
    QuerySpec("text_tokens_ranked", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id"), lower(col("text")).as("text"))
      val merges = TextAnalysis.trainBpeMerges(
          docs.select("text"), "text", BpeTrainRounds)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val syms = TextAnalysis.bpeApplyRanked(col("text"), merges)
      docs.select(col("doc_id"),
          size(syms).cast("long").as("n_ranked"),
          Dedup.md5Hash32(array_join(syms, "|")).as("ranked_fp"))
        .orderBy("doc_id")
    }, bpeRankedOracleSql(BpeTrainRounds)),

    // -- LLM: text analysis (rows 35-38) --
    QuerySpec("text_tokens", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_tokens_bpe"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }, s"""SELECT doc_id,
         |       CASE WHEN length(trim(text)) = 0 THEN 0
         |            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |       CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePattern.replace("'", "''")}')) AS BIGINT) AS n_tokens_bpe,
         |       CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("text_quality", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      docs.select(col("doc_id") +:
          TextAnalysis.qualityCols(col("text")).map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    }, textQualityOracle),

    // Learned quality classifier (fastText-style, the stack's third
    // filter after heuristics and LM perplexity): labels distill the
    // heuristic quality score (>= ~median), spark.ml LogisticRegression
    // fits over hashed unigram+bigram count features (the DSIR gram
    // space), and scoring is the pinned integer-tick logit — one
    // codegen'd projection, zero shuffle. The oracle RE-SCORES every doc
    // from the model's tick weights (the tube_fit pattern), grading the
    // gram hashing, bucket lookup, and tick arithmetic end to end.
    // Training is bounded by the exact-k per-label budget (ClsTrainCap)
    // so the fit's cost never scales with the corpus.
    QuerySpec("text_classifier", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      // fanOut the corpus-wide scoring scan (per-row gram digests)
      graft.llm.Classifier.score(graft.core.Fanout.fanOut(docs),
          "doc_id", "text", textClassifier(s, dir))
        .orderBy("doc_id")
    }, textClassifier.oracle(clsOracle)),

    QuerySpec("text_langid", { (s, dir) =>
      // three projections on purpose (the CSE aliasing rule): lower
      // once, ONE fused scan producing scores AND the argmax
      // (graft_lang_best), then constant-time field reads — the
      // greatest/when-chain argmax projection is gone entirely
      // ...and the sort runs FIRST, over raw (doc_id, text) rows: an
      // orderBy ABOVE the scan projection evaluates it twice (range-
      // sampler pass + shuffle write — the round-15 rule); sorting thin
      // rows then projecting runs the scan once, order preserved
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      val langs = TextAnalysis.LangStopwords.map(_._1)
      docs.orderBy("doc_id")
        .select(col("doc_id"), lower(col("text")).as("_lt"))
        .select(col("doc_id"), TextAnalysis.langBestStruct(col("_lt")).as("_lb"))
        .select(col("doc_id") +:
          langs.zipWithIndex.map { case (l, k) =>
            element_at(col("_lb.scores"), k + 1).as(s"s_$l") } :+
          TextAnalysis.langNameFromBest(col("_lb.best")).as("lang_id"): _*)
    }, textLangidOracle),

    QuerySpec("text_fingerprint", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, s"""SELECT doc_id,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform(
         |             string_split(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'), ''),
         |             c -> CAST(ord(c) AS BIGINT))),
         |         (a, b) -> (a * 31 + b) % ${TextAnalysis.FpMod}) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    // -- LLM: text -> vector (row 75) -- hashing-trick document
    // embeddings, the link from the raw-text head to the vector stack
    // (ANN / SemDeDup). Grading: the exact integer vector plus the
    // normalized components as 1e-6 ticks (integer-exact — one IEEE
    // division per component of exact ints), arrays stringified per the
    // no-array-output convention. One native scan, zero shuffle.
    QuerySpec("text_embed", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      val normSq = aggregate(col("emb"), lit(0L),
        (acc, c) => acc + c.cast("long") * c.cast("long"))
      docs.select(col("doc_id"),
          graft.llm.Embeddings.hashEmbed(col("text"), TxtEmbNs, TxtEmbDim)
            .as("emb"))
        .select(col("doc_id"), col("emb"),
          sqrt(normSq.cast("double")).as("_n"))
        .select(col("doc_id"),
          concat_ws(",", col("emb")).as("emb"),
          round(col("_n"), 6).as("norm"),
          concat_ws(",", transform(col("emb"), c =>
            when(col("_n") === 0.0, lit(0L))
              .otherwise(floor(c.cast("double") / col("_n") * 1e6 + 0.5)
                .cast("long")))).as("vec_ticks"))
        .orderBy("doc_id")
    }, {
      s"""WITH $txtEmbChain, nrm AS (
         |  SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS n
         |  FROM dense GROUP BY doc_id
         |), fin AS (
         |  SELECT d.doc_id,
         |         list(CAST(d.c AS VARCHAR) ORDER BY d.b) AS embl,
         |         list(CASE WHEN m.n = 0 THEN '0'
         |              ELSE CAST(CAST(floor(d.c / m.n * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)
         |              END ORDER BY d.b) AS tickl,
         |         any_value(m.n) AS n
         |  FROM dense d JOIN nrm m USING (doc_id)
         |  GROUP BY d.doc_id
         |)
         |SELECT doc_id, array_to_string(embl, ',') AS emb, round(n, 6) AS norm,
         |       array_to_string(tickl, ',') AS vec_ticks
         |FROM fin ORDER BY doc_id""".stripMargin
    }),

    // -- LLM: within-document repetition stats (row 45) --
    QuerySpec("text_repetition", { (s, dir) =>
      TextAnalysis.repetition(Parquet.read(s, s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, s"""WITH $TokCte, t2 AS (
         |  SELECT doc_id, unnest(ts) AS w FROM tok
         |), wc AS (
         |  SELECT doc_id, w, count(*) AS c FROM t2 GROUP BY doc_id, w
         |), wagg AS (
         |  SELECT doc_id, max(c) AS topc,
         |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc,
         |         sum(c) AS n
         |  FROM wc GROUP BY doc_id
         |), b2 AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i + 1])) AS g
         |  FROM tok WHERE len(ts) >= 2
         |), bc AS (
         |  SELECT doc_id, g, count(*) AS c FROM b2 GROUP BY doc_id, g
         |), bagg AS (
         |  SELECT doc_id, max(c) AS topb, sum(c) AS nb FROM bc GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |  CAST(coalesce(w.n, 0) AS BIGINT) AS n_tokens,
         |  round(CASE WHEN w.n IS NULL THEN 0.0 ELSE w.topc * 1.0 / w.n END, 6) AS top_word_frac,
         |  round(CASE WHEN w.n IS NULL THEN 0.0 ELSE w.dupc * 1.0 / w.n END, 6) AS dup_word_frac,
         |  round(CASE WHEN b.nb IS NULL THEN 0.0 ELSE b.topb * 1.0 / b.nb END, 6) AS top_bigram_frac
         |FROM tok t LEFT JOIN wagg w USING (doc_id) LEFT JOIN bagg b USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
  )
}
