package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.{ChunkHashes, GramBuckets, GramTickSum}

/** Corpus-assembly operators for a training-data pipeline: deterministic
  * stratified sampling and token-budget sequence packing. Both are pure
  * declarative plans (one codegen'd projection; one window partitioned
  * on the shard key) and both are exactly reproducible in ANSI SQL, so
  * they grade against the DuckDB oracle like every other operator.
  */
object Pipeline {

  /** Deterministic stratified downsampling: keep a row iff its md5
    * bucket (of `idCol` and `seed`, out of `denom`) falls below the
    * stratum's fraction. Sampling decisions are a pure function of
    * (id, seed) — independent of partitioning, ordering, and cluster
    * size, so a 100 TB run is reproducible and restartable, unlike
    * `DataFrame.sample`'s partition-seeded RNG. The per-stratum
    * thresholds compile to one `CASE` chain (strata maps are
    * metadata-sized); the scan stays a single codegen'd projection with
    * no shuffle at all.
    *
    * Fractions are quantized to 1/`denom` (default 1e-4) — the md5
    * bucket is uniform on [0, denom), so the kept share of a stratum
    * with n rows concentrates at round(frac*denom)/denom ± O(1/sqrt n).
    */
  def sampleStratified(docs: DataFrame, idCol: String, strataCol: String,
                       fractions: Map[String, Double], default: Double,
                       seed: Long, denom: Int = 10000): DataFrame = {
    require(denom > 0, "sampleStratified: denom must be positive")
    (fractions.values.toSeq :+ default).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"sampleStratified: fraction $f outside [0,1]"))
    val bucket = Dedup.md5Hash32(concat_ws("|", col(idCol), lit(seed))) % denom
    def thr(f: Double): Column = lit(math.round(f * denom))
    val threshold = fractions.foldLeft(when(lit(false), thr(0.0))) {
      case (c, (k, f)) => c.when(col(strataCol) === k, thr(f))
    }.otherwise(thr(default))
    docs.filter(bucket < threshold)
  }

  /** Exact-k stratified sample: the k documents per stratum with the
    * smallest `(md5(id|seed), id)` — the deterministic twin of
    * [[sampleStratified]] for when the contract is a COUNT, not a rate
    * (eval holdouts, per-language probe sets, labeling budgets). A
    * fraction-based sample's size is binomial around n·f; this one is
    * exactly `min(k, |stratum|)` rows, reproducible across re-runs and
    * partitionings, and (like the KMV sketch, which is this construction
    * as a sketch) it composes: the exact-k sample of a union is the
    * exact-k fold of per-slice samples.
    *
    * Rides [[graft.core.TopK.perKey]], so a corpus dominated by ONE
    * stratum never funnels into one window task. Output keeps
    * `sample_rank` (1..k in hash order — a stable sub-sampling key:
    * rank ≤ j is the exact-j sample).
    */
  def sampleExactK(docs: DataFrame, idCol: String, strataCol: String,
                   k: Int, seed: Long): DataFrame = {
    require(k >= 1, "sampleExactK: k must be >= 1")
    graft.core.Salting.requireFreeColumns(docs, Seq("_smp", "sample_rank"),
      "sampleExactK")
    graft.core.TopK.perKey(
        docs.withColumn("_smp",
          Dedup.md5Hash32(concat_ws("|", col(idCol), lit(seed)))),
        Seq(strataCol), Seq(col("_smp").asc, col(idCol).asc), k,
        outRank = "sample_rank")
      .drop("_smp")
  }

  /** Deterministic corpus shuffle: assign every document a
    * pseudorandom shard and a position within it — the
    * shard-and-shuffle step a training data loader consumes (global
    * order must be reproducible across re-runs and independent of how
    * the corpus happened to be partitioned). The shuffle key is the
    * same pure (id, seed) md5 bucket as [[sampleStratified]], so the
    * permutation is a function of ids alone; ties on the 32-bit key
    * break by id, keeping the order total and deterministic.
    *
    * Scale shape: ONE shuffle — the window partitioned on `shard` —
    * and parallelism = `numShards` (pick shards ≈ output files; a
    * 100 TB corpus shuffles as thousands of independent shards, never
    * through a global sort). Position is 0-based within the shard; a
    * loader reading shards in any order with `pos`-sorted rows
    * reproduces the permutation exactly.
    */
  def shuffleDeterministic(docs: DataFrame, idCol: String, seed: Long,
                           numShards: Int): DataFrame = {
    require(numShards > 0, "shuffleDeterministic: numShards must be positive")
    val key = Dedup.md5Hash32(concat_ws("|", col(idCol), lit(seed)))
    val w = Window.partitionBy("shard").orderBy(col("_k"), col(idCol))
    docs.select(col(idCol), key.as("_k"))
      .withColumn("shard", (col("_k") % numShards).cast("long"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Benchmark decontamination: flag training documents that share at
    * least `minHits` distinct word n-grams with an evaluation corpus —
    * the standard guard against eval-set leakage into training data
    * (Brown et al. 2020, "Language Models are Few-Shot Learners",
    * appendix C, uses 13-gram overlap; `n` stays a knob because real
    * pipelines tune it to tokenizer and document length). Returns
    * `(idCol, hits)` for flagged documents, `hits` = number of DISTINCT
    * overlapping n-grams (gram sets come from
    * [[Dedup.wordNgramHashes]], already distinct per document).
    *
    * Scale shape: an eval suite is metadata-sized next to a 100 TB
    * corpus (even 1e6 benchmark documents distill to a few hundred MB
    * of distinct gram hashes), so the bench side aggregates to a
    * distinct-hash table and BROADCASTS; the training side is ONE scan
    * whose exploded grams probe the broadcast table — no shuffle of
    * corpus data — followed by a map-side-combined count per id. Set
    * `broadcastBench = false` for an eval side too big to broadcast:
    * identical plan with a shuffled hash join on the gram key instead.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minHits: Int = 1,
                    broadcastBench: Boolean = true): DataFrame = {
    require(n > 0, "decontaminate: n must be positive")
    require(minHits > 0, "decontaminate: minHits must be positive")
    val benchGrams =
      bench.select(explode(Dedup.wordNgramHashes(col(textCol), n)).as("_g")).distinct()
    val probe = if (broadcastBench) broadcast(benchGrams) else benchGrams
    docs.select(col(idCol), explode(Dedup.wordNgramHashes(col(textCol), n)).as("_g"))
      .join(probe, "_g")
      .groupBy(idCol).agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /** FUZZY benchmark decontamination: flag training documents whose
    * character-shingle set is NEAR-duplicate (MinHash-estimated, exact
    * Jaccard re-rank ≥ `threshold`) to ANY evaluation document — the
    * guard [[decontaminate]]'s exact n-gram overlap misses when eval
    * text leaks with light paraphrase, whitespace, or punctuation drift
    * (the check frontier-lab pipelines run alongside the exact one).
    * Returns `(idCol, n_matches, best_jaccard)` for flagged documents.
    *
    * Mechanics are [[Dedup.minhashLsh]]'s, made BIPARTITE: both sides
    * shingle and sign with the SAME hash family, candidates come from a
    * band-key join of train keys against bench keys (never a
    * train×train self-join), and only candidates pay the exact
    * set-overlap re-rank.
    *
    * Scale shape: the eval suite is metadata-sized next to the corpus,
    * so its banded keys AND its shingle sets broadcast — the training
    * corpus reaches both the candidate probe and the re-rank as
    * un-shuffled scans; the only data-sized shuffle is the final
    * per-document aggregation. `broadcastBench = false` flips both
    * probes to shuffled hash joins for an oversized eval side.
    */
  def decontaminateFuzzy(docs: DataFrame, bench: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 5, numHashes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.6, broadcastBench: Boolean = true,
                         scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame = {
    require(threshold > 0 && threshold <= 1, "decontaminateFuzzy: threshold must be in (0,1]")
    def bc(df: DataFrame): DataFrame = if (broadcastBench) broadcast(df) else df
    // cache: shingle sets feed the signature chain AND the exact re-rank
    val dBase = scope.cache(docs.select(col(idCol),
      Dedup.distinctNgramHashes(col(textCol), shingleLen).as("_sh")))
    val bBase = scope.cache(bench.select(col(idCol).as("_bid"),
      Dedup.distinctNgramHashes(col(textCol), shingleLen).as("_bsh")))
    val dKeys = Dedup.bandedKeys(
      Dedup.minhashSignature(dBase, "_sh", numHashes).drop("_sh"), idCol, numHashes, bands)
    val bKeys = Dedup.bandedKeys(
      Dedup.minhashSignature(bBase, "_bsh", numHashes).drop("_bsh"), "_bid", numHashes, bands)
    val cand = dKeys.join(bc(bKeys), "bucket").select(col(idCol), col("_bid")).distinct()
    val (inter, uni) = Dedup.overlapCols(col("_sh"), col("_bsh"))
    cand.join(dBase, idCol).join(bc(bBase), "_bid")
      .withColumn("_j", round(inter / uni, 6))
      .filter(col("_j") >= threshold)
      .groupBy(idCol).agg(count(lit(1)).as("n_matches"), max(col("_j")).as("best_jaccard"))
  }

  /** The surviving training corpus: `docs` minus [[decontaminate]]'s
    * flagged ids. The anti-join side is flagged-id-sized (a small
    * fraction of the corpus when the pipeline is healthy), so Spark's
    * join selection broadcasts it in the common case.
    */
  def decontaminated(docs: DataFrame, bench: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minHits: Int = 1,
                     broadcastBench: Boolean = true): DataFrame =
    docs.join(
      decontaminate(docs, bench, idCol, textCol, n, minHits, broadcastBench).select(idCol),
      Seq(idCol), "left_anti")

  /** RAG-style document chunking: cut each document's whitespace-token
    * stream into windows of `chunkTokens` tokens advancing by `stride`
    * (`stride < chunkTokens` ⇒ overlapping chunks, the standard retrieval
    * recipe so no answer span is ever split across a boundary). Output one
    * row per chunk: `(idCol, chunk_id, start_tok, n_tokens, chunk_hash)`
    * where `chunk_hash` is the 32-bit md5 of the space-joined chunk text
    * (the compact graded surface; callers wanting the text itself use
    * `withText = true`). Documents with no tokens produce no chunks.
    *
    * Chunk count is `1 + ceil(max(n - chunkTokens, 0) / stride)` — the
    * final chunk may be short, and every token position is covered.
    *
    * Scale shape: a pure per-row `explode` projection — NO shuffle at any
    * corpus size, parallelism = input partitioning, and the fan-out
    * factor is bounded by `len/stride` per document. The token array is
    * built once per row and sliced per chunk inside one generator stage.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int, stride: Int, withText: Boolean = false): DataFrame = {
    require(chunkTokens > 0, "chunk: chunkTokens must be positive")
    require(stride > 0 && stride <= chunkTokens,
      "chunk: stride must be in [1, chunkTokens]")
    // Without text: one native tokenize-once pass emits every chunk's
    // (start, len, md5-32) directly ([[graft.functions.ChunkHashes]]);
    // posexplode's position IS chunk_id. `withText` needs the chunk
    // text itself, so it re-slices the token array per chunk — the
    // same chunks and hashes, spec-pinned equal.
    if (!withText)
      docs.select(col(idCol),
          posexplode(column(ChunkHashes(expression(col(textCol)), chunkTokens, stride)))
            .as(Seq("chunk_id", "_c")))
        .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
          col("_c.start_tok").as("start_tok"),
          col("_c.n_tokens").as("n_tokens"),
          col("_c.chunk_hash").as("chunk_hash"))
    else {
      val nChunks = floor((greatest(col("_n") - chunkTokens, lit(0)) + (stride - 1))
        / lit(stride.toDouble)) + 1
      val piece = slice(col("_ts"), col("chunk_id") * stride + 1, lit(chunkTokens))
      val ctext = concat_ws(" ", piece)
      val out = Seq(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * stride).cast("long").as("start_tok"),
        size(piece).cast("long").as("n_tokens"),
        Dedup.md5Hash32(ctext).as("chunk_hash"), ctext.as("chunk_text"))
      docs.select(col(idCol), Dedup.tokens(col(textCol)).as("_ts"))
        .withColumn("_n", size(col("_ts")))
        .filter(col("_n") > 0)
        .withColumn("chunk_id", explode(sequence(lit(0L), nChunks.cast("long") - 1)))
        .select(out: _*)
    }
  }

  /** [[chunk]] in SUBWORD space — the budget a retrieval/training
    * pipeline actually provisions: windows of `chunkTokens` SUBWORD ids
    * (greedy longest-match against `vocab`,
    * [[TextAnalysis.subwordIds]]) with `stride` overlap, `chunk_hash` =
    * md5-32 of the id slice joined with `|` (ids, not words: the chunk
    * identity is what the model sees). Same plan shape as [[chunk]]:
    * the id array builds ONCE per row (one native trie pass), the
    * explode fan-out is bounded by ids/stride — a pure projection +
    * generator, zero shuffle at any corpus size.
    */
  def chunkSubwords(docs: DataFrame, idCol: String, textCol: String,
                    vocab: Seq[String], chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, "chunkSubwords: chunkTokens must be positive")
    require(stride > 0 && stride <= chunkTokens,
      "chunkSubwords: stride must be in [1, chunkTokens]")
    val nChunks = floor((greatest(col("_n") - chunkTokens, lit(0)) + (stride - 1))
      / lit(stride.toDouble)) + 1
    val piece = slice(col("_ts"), col("chunk_id") * stride + 1, lit(chunkTokens))
    docs.select(col(idCol),
        TextAnalysis.subwordIds(col(textCol), vocab).as("_ts"))
      .withColumn("_n", size(col("_ts")))
      .filter(col("_n") > 0)
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks.cast("long") - 1)))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * stride).cast("long").as("start_tok"),
        size(piece).cast("long").as("n_tokens"),
        Dedup.md5Hash32(array_join(transform(piece, i => i.cast("string")), "|"))
          .as("chunk_hash"))
  }

  /** End-to-end C4/RefinedWeb-style corpus cleaning — the composition
    * the per-step operators exist for, as ONE library call: keep
    * documents that (1) language-identify as `lang`
    * ([[TextAnalysis.langId]]), (2) score at least `minQuality`
    * ([[TextAnalysis.qualityCols]]), and (3) stay under the
    * Gopher-style `maxTopWordFrac` repetition cap
    * ([[TextAnalysis.repetitionStruct]]); then (4) keep one exact-dup
    * winner per identical text (min id, aggregation-shaped), (5) drop
    * benchmark-contaminated survivors ([[decontaminate]] against
    * `bench`), and (6) redact PII from what ships
    * ([[TextAnalysis.redactPii]]). Returns
    * `(idCol, lang_id, quality, n_tokens, fingerprint)` where
    * `fingerprint` hashes the REDACTED text — the released artifact.
    *
    * Scale shape: steps 1–3 fuse into ONE codegen'd filter projection
    * on the scan (zero shuffle — langId/quality are regex counts,
    * repetition is the native one-pass expression); step 4 is one
    * aggregation keyed on the text over filtered survivors only; step 5
    * is the broadcast-gram probe of [[decontaminate]]; step 6 is a pure
    * projection. Row-local filters run FIRST so every shuffled stage
    * sees only survivors — the ordering a 100 TB pass depends on.
    *
    * Filter determinism: `quality` compares ROUNDED (6 dp) values and
    * `top_word_frac` is a single division of exact integer counts, so
    * both engines evaluate identical doubles at the threshold — no
    * boundary ambiguity in the keep set.
    *
    * Caching: the filtered head (steps 1–3) is persisted once, because
    * steps 4 and 5 read it from several sides. By default it is
    * registered under [[graft.core.CacheScope.session]] and stays in
    * executor storage until the session drops it, so every call adds one
    * persisted table. A long-lived caller cleaning many corpora should
    * pass its own `scope` and `release()` it once the result is
    * consumed (see [[graft.core.CacheScope]]).
    */
  def cleanCorpus(docs: DataFrame, bench: DataFrame, idCol: String, textCol: String,
                  lang: String = "en", minQuality: Double = 0.6,
                  maxTopWordFrac: Double = 0.2,
                  deconN: Int = 8, deconMinHits: Int = 1,
                  fromHtml: Boolean = false,
                  classifier: Option[Classifier.TextClassifierModel] = None,
                  lineClean: Boolean = false,
                  scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame = {
    // fromHtml: textCol holds crawled HTML — [[Html.extractText]]
    // (pinned defaults) runs as stage 0 IN PLACE, so the whole funnel
    // operates on extracted main text. Still a pure projection fused
    // into the same scan: the funnel's head costs zero extra shuffles.
    // lineClean: C4's sub-document stage runs NEXT
    // ([[TextAnalysis.c4LineCols]]): lorem-ipsum/brace documents drop
    // and each survivor's text is rewritten to its surviving lines, so
    // every later stage (language/quality/dedup/decon/redact) sees the
    // line-cleaned text — still row-local, still zero added shuffles.
    // fanOut: the funnel head (HTML extraction, C4 line rules, quality
    // heuristics, language ID, gram hashes) is the per-row-expensive
    // pass — a single-row-group input must not run it all on one core
    // (no-op on already-wide scans; see graft.core.Fanout)
    val src = {
      val extracted = if (fromHtml)
        graft.core.Fanout.fanOut(docs)
          .withColumn(textCol, Html.extractText(col(textCol)))
      else graft.core.Fanout.fanOut(docs)
      if (lineClean) {
        val c4 = TextAnalysis.c4LineCols(col(textCol)).toMap
        extracted.filter(!c4("drop_doc"))
          .withColumn(textCol, c4("clean_text"))
      } else extracted
    }
    val t = col(textCol)
    val q = TextAnalysis.qualityCols(t).toMap
    val filtered = src
      // ONE fused scan for the whole language decision (scores + argmax,
      // graft_lang_best) aliased in its own projection; the inline
      // langId(t) form re-evaluates each language scan at every
      // greatest/when reference (the round-15 CSE rule, measured)
      .withColumn("_lb", TextAnalysis.langBestStruct(lower(t)))
      .withColumn("lang_id", TextAnalysis.langNameFromBest(col("_lb.best")))
      .withColumn("quality", q("quality"))
      .withColumn("n_tokens", q("n_tokens"))
      .withColumn("_twf", TextAnalysis.repetitionStruct(t).getField("top_word_frac"))
      .filter(col("lang_id") === lang && col("quality") >= minQuality
        && col("_twf") <= maxTopWordFrac
        // the standard third filter (heuristics -> LM/learned): a
        // trained linear model's pinned integer-tick logit, one more
        // row-local predicate fused into the same scan — zero added
        // shuffles, exactly score(...).pred's contract
        && classifier.map(m => Classifier.logitTicks(col(textCol), m) > 0L)
          .getOrElse(lit(true)))
      // The funnel's head (extraction, line rules, language scan, quality
      // heuristics, classifier logit) is by far its most expensive pass,
      // and the downstream joins reference `filtered` from BOTH sides of
      // the dedup semi-join, the decon gram probe, and the decon
      // anti-join — without a materialization the whole head re-executes
      // once per reference (~10 copies in the physical plan, measured).
      // Persist it once (MEMORY_AND_DISK — the production choice for an
      // extracted corpus that is re-read by every later stage); callers
      // that clean many corpora pass their own scope and release it.
      .transform(scope.cache)
    val winners = filtered.groupBy(t).agg(min(col(idCol)).as(idCol)).select(idCol)
    val deduped = filtered.join(winners, Seq(idCol), "left_semi")
    decontaminated(deduped, bench, idCol, textCol, deconN, deconMinHits)
      .select(col(idCol), col("lang_id"), col("quality"), col("n_tokens"),
        TextAnalysis.fingerprint(TextAnalysis.redactPii(t)).as("fingerprint"))
  }

  /** GPT-style sequence packing: per shard (`shardCol`), documents are
    * concatenated in `idCol` order into one token stream cut into
    * training rows of `budget` tokens; each document is labeled with
    * `bin` (the training row its first token lands in) and `spans`
    * (whether it crosses a cut — consumers that forbid cross-document
    * attention re-split on these). The whole operator is ONE window
    * cumsum partitioned on the shard key — the shard is the packing
    * unit, so parallelism scales with shard count and no global order
    * (or global shuffle) is ever required; a 100 TB corpus packs as
    * thousands of independent shards.
    */
  /** One row per word-n-gram INSTANCE (n ∈ `ns`), hashed into
    * [0, buckets). Deliberately NOT distinct-per-document — DSIR is a
    * count model, every gram occurrence votes. A document with no
    * tokens contributes one empty-string gram per n (the same
    * short-text convention as [[Dedup.wordNgramHashes]]), so every
    * document receives a weight.
    */
  private[llm] def gramBuckets(text: Column, ns: Seq[Int], buckets: Int): Column =
    column(GramBuckets(expression(text), ns, buckets))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-n-gram profile is under a
    * TARGET distribution (the domain to up-weight) than under the RAW
    * corpus distribution. Features are word n-gram instances (n ∈ `ns`,
    * unigram+bigram by default as in the paper) hashed into `buckets`
    * buckets; each distribution is the α-smoothed bucket multinomial;
    * a document's weight is Σ over its gram instances of
    * ln p_target(bucket) − ln p_raw(bucket). Returns `(idCol, weight)`.
    *
    * Determinism contract: the per-bucket log-ratio is quantized to
    * 1e-6 — `floor(x·1e6 + 0.5)`, an exact BIGINT — BEFORE the
    * per-document sum, so the data-sized aggregation is exact integer
    * arithmetic, immune to float summation order. The only float ops
    * run once per BUCKET on inputs both engines compute identically
    * (this is `text_commonness`'s hash-gate lesson, kept compatible
    * with the ln the DSIR semantics require).
    *
    * Scale shape: the two distributions are `buckets`-row aggregations
    * (map-side combined; metadata-sized BY CONSTRUCTION — the paper
    * uses 10k buckets) joined into ONE ratio table, collected to the
    * driver; scoring is one text-scan projection summing each
    * document's gram-instance ticks. Nothing data-sized converges
    * anywhere.
    */
  def importanceWeights(docs: DataFrame, target: DataFrame, idCol: String, textCol: String,
                        ns: Seq[Int] = Seq(1, 2), buckets: Int = 512,
                        alpha: Double = 1.0): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ > 0), "importanceWeights: ns must be positive")
    require(buckets > 0, "importanceWeights: buckets must be positive")
    require(alpha > 0,
      "importanceWeights: alpha must be positive (a zero bucket has no finite log)")
    val dg = docs.select(col(idCol), explode(gramBuckets(col(textCol), ns, buckets)).as("_b"))
    // BOTH bucket multinomials from ONE aggregation over a flagged union
    // (raw = _t 0, target = _t 1) — each input is scanned exactly once
    // for counting; the raw corpus is scanned once more by the scoring
    // probe below. Totals come from a window over the counts table
    // itself (≤ `buckets` rows — a single-partition window is the POINT
    // here, never a data-sized one), not from a second aggregation that
    // would re-run the gram scans.
    val counts = dg.select(col("_b"), lit(0).as("_t"))
      .unionAll(target.select(explode(gramBuckets(col(textCol), ns, buckets)).as("_b"),
        lit(1).as("_t")))
      .groupBy("_b").agg(
        count(when(col("_t") === 0, 1)).as("_cr"),
        count(when(col("_t") === 1, 1)).as("_ct"))
    val wAll = Window.partitionBy(lit(0))
    val aB = alpha * buckets
    val ratio = counts
      .withColumn("_tr", sum("_cr").over(wAll))
      .withColumn("_tt", sum("_ct").over(wAll))
      .select(col("_b"),
        floor((log((col("_ct") + alpha) / (col("_tt") + aB))
          - log((col("_cr") + alpha) / (col("_tr") + aB))) * 1e6 + 0.5).as("_lri"))
    // The log-ratio table is metadata-sized by construction (<= buckets
    // rows — the sanctioned collect class), so the scoring probe runs as
    // ONE text-scan projection: per doc, the integer tick sum over gram
    // instances ([[graft.functions.GramTickSum]], intercept 0), never the
    // exploded gram stream. Buckets absent from BOTH corpora are
    // unreachable by any document (same hash), so the 0-fill is inert.
    // Bit-equal to an explode + broadcast-join + per-doc sum plan: same
    // ticks, same exact integer sum, same single /1e6 (PipelineSpec).
    val ticks = new Array[Long](buckets)
    ratio.collect().foreach(r => ticks(r.getLong(0).toInt) = r.getLong(1))
    docs.select(col(idCol),
      (column(GramTickSum(expression(col(textCol)), ns, buckets, 0L, ticks)) / 1e6)
        .as("weight"))
  }

  /** DSIR's selection step: Gumbel-top-k resampling — sampling k
    * documents without replacement with probability ∝ exp(weight/T) is
    * exactly taking the k largest `weight/T + Gumbel(0,1)` keys. The
    * Gumbel draw is the pure (id, seed) md5 bucket pushed through the
    * inverse CDF (−ln(−ln u)), so selection is reproducible and
    * partition-independent like every sampler here. Returns
    * `(idCol, weight, g_key)`, the selected k.
    *
    * Scale shape: `orderBy.limit(k)` plans as TakeOrderedAndProject —
    * a per-partition k-heap merged on the driver, NO global sort; right
    * for metadata-sized k. For a corpus-sized selection, flip to a
    * threshold plan: one histogram aggregation of `g_key` picks the
    * cutoff bucket, then a filter keeps keys above it — same keys, no
    * driver merge.
    */
  /** `(idCol, weight, g_key)` with the Gumbel selection key — shared by
    * [[resampleTopK]] and [[resampleThreshold]], so both select the
    * EXACT same set for the same (k, seed, temperature).
    */
  private def gumbelKeyed(weighted: DataFrame, idCol: String, seed: Long,
                          temperature: Double, denom: Int): DataFrame = {
    val u = (Dedup.md5Hash32(concat_ws("|", col(idCol), lit(seed))) % denom + 0.5) / denom
    val key = col("weight") / temperature - log(-log(u))
    weighted.select(col(idCol), col("weight"), round(key, 6).as("g_key"))
  }

  def resampleTopK(weighted: DataFrame, idCol: String, k: Int, seed: Long,
                   temperature: Double = 1.0, denom: Int = 1 << 20): DataFrame = {
    require(k > 0, "resampleTopK: k must be positive")
    require(temperature > 0, "resampleTopK: temperature must be positive")
    require(denom > 0, "resampleTopK: denom must be positive")
    gumbelKeyed(weighted, idCol, seed, temperature, denom)
      .orderBy(col("g_key").desc, col(idCol)).limit(k)
  }

  /** [[resampleTopK]]'s corpus-scale twin: the SAME selected set (same
    * keys, same `(g_key DESC, id)` tiebreak) found WITHOUT a driver-side
    * merge of per-partition heaps — TakeOrdered collects
    * partitions × k rows to the driver, which stops being metadata when
    * k is a corpus-sized selection budget. Here the driver only ever
    * sees a `resolution`-cell histogram:
    *
    *   1. one aggregation finds the key range (two doubles);
    *   2. one histogram aggregation counts keys per cell — walking its
    *      cumulative counts from the top finds the BOUNDARY cell `b*`
    *      and how many rows of it are still `need`ed;
    *   3. one filter keeps every key in cells above `b*` outright
    *      (strictly greater than every boundary key, so inside the
    *      top-k regardless of ties), and ranks ONLY the boundary cell's
    *      rows — expected n/resolution of the corpus, not the corpus —
    *      through a window to take the `need` best.
    *
    * Degenerate bound: if the key distribution collapses (many exactly
    * equal keys, e.g. temperature ≫ weight spread WITH a constant
    * weight column), the boundary cell can hold a large key mass and
    * its ranking window funnels — the Gumbel term makes keys
    * id-distinct by construction, so this needs an adversarially
    * constant key column. `resolution` is the knob: cells shrink as it
    * grows and the histogram stays metadata-sized into the millions.
    *
    * The three passes share one cached scan of the keyed corpus;
    * release via `scope`.
    */
  def resampleThreshold(weighted: DataFrame, idCol: String, k: Int, seed: Long,
                        temperature: Double = 1.0, denom: Int = 1 << 20,
                        resolution: Int = 4096,
                        scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame = {
    require(k > 0, "resampleThreshold: k must be positive")
    require(temperature > 0, "resampleThreshold: temperature must be positive")
    require(denom > 0, "resampleThreshold: denom must be positive")
    require(resolution > 0, "resampleThreshold: resolution must be positive")
    val keyed = scope.cache(gumbelKeyed(weighted, idCol, seed, temperature, denom))
    val Array(row) = keyed.agg(min("g_key").as("lo"), max("g_key").as("hi"),
      count(lit(1)).as("n")).collect()
    if (row.isNullAt(0) || row.getLong(2) <= k)
      // k covers everything (or the corpus is empty): no threshold exists
      return keyed.orderBy(col("g_key").desc, col(idCol))
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    val width = (hi - lo) / resolution
    // all-equal keys → one cell; the generic path below handles it
    val cell =
      if (width == 0) lit(0L)
      else least(floor((col("g_key") - lo) / width), lit(resolution.toLong))
    val hist = keyed.groupBy(cell.as("_c")).agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(-_._1)
    // walk the histogram from the top cell down to the boundary (the
    // early return above guarantees total > k, so the walk terminates
    // strictly inside the array)
    var above = 0L
    var i = 0
    while (above + hist(i)._2 < k) {
      above += hist(i)._2
      i += 1
    }
    val bStar = hist(i)._1
    val need = k - above
    val outright = keyed.filter(cell > bStar)
    val wB = Window.partitionBy(cell.as("_c")).orderBy(col("g_key").desc, col(idCol))
    val boundary = keyed.filter(cell === bStar)
      .withColumn("_rn", row_number().over(wB)).filter(col("_rn") <= need)
      .drop("_rn")
    outright.unionAll(boundary).orderBy(col("g_key").desc, col(idCol))
  }

  /** Mixture/quota sampling — the data-mixing step of corpus assembly
    * (a Pile/LLaMA-style recipe: "the training set is X% of source A,
    * Y% of source B"): downsample each stratum to its share of a
    * `totalN`-document budget. Per-stratum keep fraction is
    * `min(1, totalN·share / n_stratum)` with `n_stratum` from one
    * count aggregation (metadata-sized — one row per stratum — so it
    * BROADCASTS); the keep decision is then the same pure (id, seed)
    * md5-bucket threshold as [[sampleStratified]], so the sample is
    * reproducible, restartable, and independent of partitioning.
    * Strata absent from `shares` get share 0 and are dropped. Returns
    * the kept `(idCol, strataCol)` rows.
    *
    * Scale shape: one map-side-combined count aggregation + one
    * broadcast join + one codegen'd filter projection — the corpus is
    * scanned twice and never shuffled.
    */
  def sampleToMixture(docs: DataFrame, idCol: String, strataCol: String,
                      shares: Map[String, Double], totalN: Long, seed: Long,
                      denom: Int = 10000): DataFrame = {
    require(totalN > 0, "sampleToMixture: totalN must be positive")
    require(denom > 0, "sampleToMixture: denom must be positive")
    shares.values.foreach(s =>
      require(s >= 0.0, s"sampleToMixture: share $s must be non-negative"))
    val share = shares.foldLeft(when(lit(false), lit(0.0))) {
      case (c, (k, v)) => c.when(col(strataCol) === k, lit(v))
    }.otherwise(lit(0.0))
    val cnts = docs.groupBy(strataCol).agg(count(lit(1)).as("_nc"))
    val thr = floor(least(lit(1.0), lit(totalN.toDouble) * share / col("_nc")) * denom + 0.5)
    val bucket = Dedup.md5Hash32(concat_ws("|", col(idCol), lit(seed))) % denom
    docs.join(broadcast(cnts), strataCol)
      .filter(bucket < thr)
      .select(col(idCol), col(strataCol))
  }

  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    shardCol: String, budget: Int,
                    vocab: Option[Seq[String]] = None): DataFrame = {
    require(budget > 0, "packSequences: budget must be positive")
    val w = Window.partitionBy(shardCol).orderBy(idCol)
    val b = lit(budget.toDouble)
    // vocab-REAL budgets when a subword vocab is supplied (the training
    // row is measured in the tokens the model will actually see —
    // [[TextAnalysis.subwordIds]]); whitespace counts otherwise. Still a
    // pure projection feeding the same one-window cumsum.
    val nTok = vocab match {
      case Some(v) => size(TextAnalysis.subwordIds(col(textCol), v)).cast("long")
      case None    => TextAnalysis.tokenCount(col(textCol))
    }
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
      .withColumn("bin", floor(col("start_tok") / b))
      .withColumn("spans",
        col("n_tokens") > 0 &&
          floor((col("start_tok") + col("n_tokens") - 1) / b) =!= col("bin"))
      .select(col(idCol), col(shardCol), col("n_tokens"), col("bin"), col("spans"))
  }
}
