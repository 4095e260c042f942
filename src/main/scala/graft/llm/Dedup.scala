package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.{Md5Prefix32, MinhashSigs, SetOverlap, ShingleHashes, WordNgramHashSeq,
  WordNgramHashes}

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB): every variant here is *bucketed* — the only
  * pairwise work ever done is within a hash bucket (band bucket for
  * MinHash, hamming-block bucket for SimHash, shared-shingle block for
  * Jaccard). There is no all-pairs join, no driver-side index, and no
  * `.collect()`; winners are chosen with a single window/aggregate per
  * group key.
  */
object Dedup {

  /** Exact dedup: group identical keys, keep the smallest id as winner.
    *
    * Aggregation-shaped on purpose: `groupBy(keys).agg(min(id), count)` gets
    * map-side partial aggregation, so a key duplicated a million times ships
    * one partial row per map task instead of routing the whole group through
    * a single reducer's window sort. Winner rows are recovered by joining the
    * (much smaller) winners table back on `idCol`, which must be unique —
    * the usual dedup contract.
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val winners = df
      .groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("dup_count"))
    df.join(winners, Seq(idCol))
  }

  /** A deterministic 32-bit token hash both Spark and an ANSI-SQL oracle
    * can compute: the first 8 hex chars of md5, read as an integer —
    * `conv(substring(md5(c), 1, 8), 16, 10)`, computed by the native
    * [[graft.functions.Md5Prefix32]] (one digest call, no hex string
    * round trip).
    */
  def md5Hash32(c: Column): Column = column(Md5Prefix32(expression(c)))

  /** MinHash signature: for permutation k, `min over shingles of
    * (a_k * h(shingle) + b_k) mod P`. Coefficients are a deterministic
    * LCG of k so the oracle can reproduce them.
    */
  val MinhashP: Long = graft.functions.MinhashSigs.P // smallest prime > 2^32

  /** Deterministic (a, b) per permutation, with a < 2^31 so that
    * `h * a + b` never overflows a signed 64-bit long (h < 2^32).
    * Delegates to the native expression's derivation so the two
    * signature paths can never drift.
    */
  def minhashCoeff(k: Int): (Long, Long) = graft.functions.MinhashSigs.coeff(k)

  /** Add `sig_0..sig_{numHashes-1}` MinHash columns computed from a
    * `shingle_hashes: array<long>` column: sig_k = `array_min` of
    * `(h * a_k + b_k) % MinhashP` over the array, all k in one pass of
    * the native [[graft.functions.MinhashSigs]] (a per-permutation
    * declarative chain would walk — and copy — the array once PER
    * permutation; auto-banded configs run dozens).
    */
  def minhashSignature(df: DataFrame, hashesCol: String, numHashes: Int): DataFrame = {
    // one projection computes the array, a second picks the elements:
    // CollapseProject keeps the non-cheap array expression un-inlined
    // (it is referenced numHashes times), so it evaluates once per row
    val sigs = df.withColumn("_graft_sigs",
      column(MinhashSigs(expression(col(hashesCol)), numHashes)))
    sigs.select(df.columns.map(col) ++ (0 until numHashes).map(k =>
      element_at(col("_graft_sigs"), k + 1).as(s"sig_$k")): _*)
  }

  /** Banded-LSH candidate pairs from MinHash signatures: band key =
    * concatenated rows of the band → groupBy band key → within-bucket
    * pairs (self-join per bucket on the *small* bucket contents only).
    * Pairs are deduplicated across bands.
    *
    * MEGA-BUCKET CAP: a bucket with more than `maxBucket` members forms
    * C(k,2) in-bucket pairs — ONE mass-produced boilerplate clique
    * becomes a single straggler task doing quadratic work at 100 TB. A
    * bucket over the cap is dropped from pairing entirely (the same
    * stop-key move as [[ngramJaccard]]'s `maxDocFreq`), and the drop is
    * LOUD: the over-cap bucket census (how many buckets, largest size)
    * is computed on the already-cached banded table and logged at WARN.
    *
    * RECALL CAVEAT of the cap: a clique of MORE than `maxBucket`
    * near-identical documents stops being candidate-paired here — by
    * design, since that clique is exactly the O(k²) blow-up the cap
    * exists to prevent. Run [[Dedup.exact]] FIRST (aggregation-shaped,
    * clique-size-proof) so identical-text cliques never reach this
    * operator, or raise `maxBucket` knowingly.
    *
    * GRANULARITY VS CORPUS SIZE: with banding fixed, a band's collision
    * probability between unrelated documents is constant, so average
    * bucket size grows ∝ corpus and candidate volume ∝ n² (measured:
    * 32× candidates on 10× documents at the test config — BENCH_SF1).
    * At 100 TB the knob that holds candidate volume linear is MORE ROWS
    * PER BAND (a longer band key = lower collision rate), chosen so the
    * expected unrelated-pair collision count per band stays O(n); the
    * cap then only guards true near-dup cliques, not the average bucket.
    */
  /** Choose the banding (bands, rowsPerBand) for a `numHashes`-row MinHash
    * signature and a target Jaccard `threshold`: over the divisor pairs
    * b·r = numHashes, pick the one whose S-curve midpoint `(1/b)^(1/r)`
    * (the similarity at which a pair's any-band collision probability
    * crosses ~1/2 — the standard banded-LSH characteristic, e.g. Leskovec/
    * Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3) sits closest to
    * `threshold`. Ties break toward MORE rows per band: a longer band key
    * has a lower unrelated-collision rate, which is the side of the curve
    * that controls candidate volume at scale (see the GRANULARITY note on
    * [[lshCandidatePairs]]). Deterministic — an oracle re-derives the same
    * pair from the same inputs.
    */
  /** Bands needed so a boundary pair (Jaccard = `threshold`) collides in
    * at least one `rows`-row band with probability ≥ `targetRecall`:
    * `ceil(ln(1−R) / ln(1−t^rows))` — the banding twin of
    * [[graft.llm.Similarity.requiredTables]] (per-row agreement for
    * MinHash is the Jaccard itself).
    */
  def requiredBands(rows: Int, threshold: Double, targetRecall: Double): Int = {
    require(threshold > 0.0 && threshold < 1.0 && targetRecall > 0.0 && targetRecall < 1.0,
      s"requiredBands: threshold and targetRecall must be in (0, 1)")
    val p = math.pow(threshold, rows)
    math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - p)).toInt.max(1)
  }

  /** An auto-chosen MinHash banding shape: `bands` bands of `rowsPerBand`
    * signature rows ([[lshCandidatePairs]] layout, `numHashes` total).
    */
  final case class MinhashBandConfig(bands: Int, rowsPerBand: Int) {
    def numHashes: Int = bands * rowsPerBand
    /** Collision probability of a pair at Jaccard exactly `threshold` —
      * the candidate set's recall floor under this banding.
      */
    def recallFloor(threshold: Double): Double =
      1.0 - math.pow(1.0 - math.pow(threshold, rowsPerBand), bands)
  }

  /** Choose the banding from the corpus size and the Jaccard threshold —
    * the banding twin of [[graft.llm.Similarity.lshAutoConfig]]:
    *
    *  - occupancy side: the smallest `rowsPerBand` r with
    *    `n · s0^r ≤ candPerBand` — a band key collides for an unrelated
    *    pair with probability ≈ s0^r (s0 = the corpus's background
    *    Jaccard scale), so this holds expected unrelated candidates per
    *    document per band — and with them total candidate volume —
    *    LINEAR in n, where a fixed r goes quadratic (measured: the fixed
    *    2-row banding yields 18.3M candidates for 2,559 true pairs at
    *    50k documents);
    *  - recall side: the largest r whose [[requiredBands]] still fits
    *    `maxBands` — longer band keys than that cannot reach
    *    `targetRecall` within the band budget.
    *
    * `rowsPerBand` is the SMALLER of the two (clamped to
    * `[minRows, maxRows]`); `bands` is `requiredBands` at that length,
    * clamped to `maxBands`. The comparison is `n ≤ candPerBand / s0^r`
    * with the right-hand side a precomputed constant, so a SQL oracle
    * embedding those constants as literals takes the identical branch at
    * every n. At 500 documents this returns (4 bands × 2 rows) — the
    * classic small-corpus shape — and grows the key as n does.
    */
  def minhashAutoConfig(n: Long, threshold: Double, targetRecall: Double = 0.9,
                        s0: Double = 0.1, candPerBand: Int = 16,
                        minRows: Int = 2, maxRows: Int = 12,
                        maxBands: Int = 32): MinhashBandConfig = {
    require(s0 > 0.0 && s0 < 1.0 && candPerBand > 0 && minRows >= 1 &&
      maxRows >= minRows && maxBands >= 1, "minhashAutoConfig: invalid parameters")
    val rOcc = (minRows to maxRows)
      .find(r => n.toDouble <= candPerBand / math.pow(s0, r))
      .getOrElse(maxRows)
    val rRecall = (minRows to maxRows)
      .filter(r => requiredBands(r, threshold, targetRecall) <= maxBands)
      .lastOption.getOrElse(minRows)
    val rows = math.min(rOcc, rRecall)
    MinhashBandConfig(math.min(requiredBands(rows, threshold, targetRecall), maxBands), rows)
  }

  /** [[minhashLsh]] with the banding chosen by [[minhashAutoConfig]] from
    * the ACTUAL corpus size (one `count()` job): band keys lengthen as the
    * corpus grows so unrelated-pair band collisions — and with them the
    * exact-Jaccard re-rank volume, the operator's dominant cost at scale —
    * stay linear in n, while the band count grows to hold the recall
    * floor. Same output contract as [[minhashLsh]] (id_a, id_b, jaccard).
    */
  def minhashLshAuto(docs: DataFrame, idCol: String, textCol: String,
                     shingleLen: Int = 5, threshold: Double = 0.6,
                     targetRecall: Double = 0.9, s0: Double = 0.1,
                     candPerBand: Int = 16, minRows: Int = 2, maxRows: Int = 12,
                     maxBands: Int = 32,
                     scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame = {
    val cfg = minhashAutoConfig(docs.count(), threshold, targetRecall, s0,
      candPerBand, minRows, maxRows, maxBands)
    minhashLsh(docs, idCol, textCol, shingleLen, cfg.numHashes, cfg.bands, threshold, scope)
  }

  def bandConfigFor(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes >= 1, s"bandConfigFor: numHashes must be >= 1, got $numHashes")
    require(threshold > 0.0 && threshold <= 1.0,
      s"bandConfigFor: threshold must be in (0, 1], got $threshold")
    val candidates = (1 to numHashes).filter(numHashes % _ == 0).map { b =>
      val r = numHashes / b
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    // minBy is stable on ties only by ordering; make the tie-break explicit:
    // smaller b (= larger r) wins when |midpoint - threshold| is equal.
    val (b, r, _) = candidates.sortBy { case (b0, _, mid) =>
      (math.abs(mid - threshold), b0)
    }.head
    (b, r)
  }

  /** `(idCol, bucket)` banded-key rows from a signature table — the LSH
    * blocking front end shared by the self-join dedup
    * ([[lshCandidatePairs]]) and the bipartite fuzzy-decontamination
    * probe ([[Pipeline.decontaminateFuzzy]]). Field names inside the
    * band struct are positional (h_0..h_{r-1}), not the original sig_k
    * names, so every band struct has the same type and they explode
    * from one array — and so band keys from two DIFFERENT tables join.
    */
  def bandedKeys(sigs: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val cs = (0 until rowsPerBand).map(i => col(s"sig_${b * rowsPerBand + i}").as(s"h_$i"))
      struct(lit(b).as("band") +: cs: _*).as(s"_band_$b")
    }
    sigs.select(col(idCol) +: bandCols: _*)
      .select(col(idCol), explode(array((0 until bands).map(b => col(s"_band_$b")): _*)).as("bucket"))
  }

  def lshCandidatePairs(sigs: DataFrame, idCol: String, numHashes: Int, bands: Int,
                        scope: graft.core.CacheScope = graft.core.CacheScope.session,
                        maxBucket: Int = 8192): DataFrame = {
    // cache: `banded` feeds BOTH sides of the self-join below; uncached, each
    // side re-computes every array_min(transform(..)) signature + the explode
    // from scratch (the signature chain is the expensive part). Same pattern
    // as Similarity.lshTopK's cached bucket table. It cannot be unpersisted
    // before the lazily-returned result is consumed — release via `scope`
    // after consuming (see [[graft.core.CacheScope]]).
    val banded = scope.cache(bandedKeys(sigs, idCol, numHashes, bands))
    // Mega-bucket cap: census over the cached banded table (shared with
    // the self-join below, so this costs one aggregation, no recompute of
    // the signature chain). The over-cap set is bucket-count-sized —
    // metadata, not data — so the census collect is driver-safe and the
    // anti-join broadcasts.
    val capped = graft.core.Salting.dropOverCap(
      banded, Seq("bucket"), maxBucket, s"lshCandidatePairs(maxBucket=$maxBucket)")
    // Within-bucket pairs: bucket sizes are ≤ maxBucket by construction, so
    // the self-join shuffles on the bucket key and never goes all-pairs.
    val l = capped.as("l")
    val r = capped.as("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** No-config [[minhashLsh]]: the banding derives from the ACTUAL corpus
    * size via [[minhashAutoConfig]] (= [[minhashLshAuto]]). This is the
    * DEFAULT on purpose — a fixed banding behind the obvious name is a
    * scale trap (candidate volume ∝ n² at fixed config; measured 2×
    * candidates and 32 GB of spill at 10× data on the 4×2 test config —
    * BENCH_SF1), while deriving it costs one `count()` job. Callers who
    * need a pinned banding (e.g. to reproduce a graded oracle) use the
    * explicit-config overload below.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleLen: Int = 5, threshold: Double = 0.6,
                 targetRecall: Double = 0.9,
                 scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame =
    minhashLshAuto(docs, idCol, textCol, shingleLen, threshold, targetRecall,
      scope = scope)

  /** Full MinHash-LSH near-dedup at an EXPLICIT banding: shingle → hash →
    * signature → banded buckets → candidate pairs → exact Jaccard re-rank
    * on the candidates only, keeping pairs with similarity ≥ `threshold`.
    * (No defaults here — the no-config overload above IS the default, and
    * it auto-scales the banding to the corpus.)
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      scope: graft.core.CacheScope,
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // cache: the shingle-hash arrays feed the signatures AND both sides of
    // the candidate re-rank join — without it the md5 shingle chain is
    // evaluated three times. The cached plan must outlive this call (the
    // returned DataFrame is lazy); release via `scope` after consuming
    // (see [[graft.core.CacheScope]]). fanOut: the shingle chain is the
    // per-row-expensive pass — a single-row-group input must not run it
    // on one core (no-op on already-wide scans).
    val base = scope.cache(graft.core.Fanout.fanOut(docs).select(
      col(idCol),
      distinctNgramHashes(col(textCol), shingleLen).as("sh"),
    ))
    val sigs = minhashSignature(base, "sh", numHashes).drop("sh")
    // SHUFFLE SHAPE: distinct candidate pairs FIRST, then attach both
    // shingle sets by id and score each pair exactly ONCE. This is the
    // opposite choice from [[graft.llm.Similarity.cosineDup]]'s
    // bucket-local scoring, and the payload size is why (measured at
    // sf1, round 11): a shingle set is DOCUMENT-sized (KBs), so scoring
    // per band-collision materializes collision-multiplicity × two fat
    // arrays per joined row — the bucket-local form ran 6.6× SLOWER
    // (193 s vs 29 s) despite saving the attach-join shuffle. With a
    // fixed ~0.5 KB vector the same rewrite wins 13×; with sets, the
    // pair-id distinct (16 bytes/pair) plus one attach per side is the
    // cheaper plan even counting its shuffle. The attach joins carry
    // candidates × |sh| bytes — that volume is governed by the banding
    // (auto-banding holds candidates linear in n; see minhashAutoConfig).
    val pairs = lshCandidatePairs(sigs, idCol, numHashes, bands, scope)
    val sets = base.select(col(idCol).as("_id"), col("sh"))
    val (inter, uni) = overlapCols($"sh_a", $"sh_b")
    pairs
      // pin the re-rank's parallelism: pair rows are 16 bytes on the wire
      // but cost a set_overlap over two document-sized arrays downstream,
      // so AQE's byte-based coalescing would serialize the dominant
      // compute (the MinhashIndex.dedupAgainst measurement); the first
      // attach join reuses this partitioning — no extra exchange
      .repartition(spark.sparkContext.defaultParallelism, $"id_a")
      .join(sets.withColumnRenamed("_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", round(inter / uni, 6))
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** md5-32 hashes ([[md5Hash32]]) of the distinct character n-grams of
    * `text` (substrings of length n; a text shorter than n yields itself
    * as the single shingle) — the shingle-set column every
    * MinHash/Jaccard operator starts from. One pass of the native
    * [[graft.functions.ShingleHashes]]: a declarative chain pays a
    * substring + hex md5 + conv parse per shingle through generic HOF
    * evaluation, the dominant cost of MinHash at any scale.
    */
  def distinctNgramHashes(text: Column, n: Int): Column =
    column(ShingleHashes(expression(text), n))

  /** `(inter, uni)` distinct-set sizes of two long-array columns as
    * doubles — `size(array_intersect)` / `size(array_union)` semantics,
    * in one pass of the native [[graft.functions.SetOverlap]]: the
    * exact-Jaccard re-rank evaluates this once per candidate pair, and a
    * near-dup mega-cluster legitimately makes all its C(k,2) pairs
    * candidates, so per-pair cost is the whole game.
    */
  def overlapCols(a: Column, b: Column): (Column, Column) = {
    val ov = column(SetOverlap(expression(a), expression(b)))
    (ov.getField("inter").cast("double"), ov.getField("uni").cast("double"))
  }

  /** Lowercased whitespace tokens (empty text → empty array). */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** A deterministic 48-bit token hash (first 12 hex chars of md5) — wide
    * enough for SimHash voting, small enough to stay in exact BIGINT range
    * for any ANSI-SQL oracle.
    */
  def md5Hash48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  val SimhashBits = 48

  /** SimHash: per-document `bits`-wide signature by majority vote of token
    * hashes — bit b of the signature is 1 iff more than half the tokens
    * have bit b set in their 48-bit hash. Documents with no tokens get 0.
    *
    * Shaped for scale: tokens are exploded and the votes are plain
    * SUM aggregates, so map-side partial aggregation applies and the only
    * shuffle is the groupBy on the document id.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = SimhashBits): DataFrame = {
    val tokdf = graft.core.Fanout.fanOut(docs)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("_tok"))
      .withColumn("_h", md5Hash48(col("_tok")))
    val votes = (0 until bits).map { b =>
      sum(when(col("_h").isNull, 0)
        .otherwise(shiftright(col("_h"), b).bitwiseAND(1) * 2 - 1)).as(s"_v_$b")
    }
    tokdf.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b => when(col(s"_v_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** md5-based 32-bit hashes of the distinct word n-grams of `text`
    * (lowercased whitespace tokens, n-grams joined with one space; fewer
    * than n tokens yields the whole token list as the single gram), one
    * pass of the native [[graft.functions.WordNgramHashes]].
    */
  def wordNgramHashes(text: Column, n: Int): Column =
    column(WordNgramHashes(expression(text), n))

  /** n-gram Jaccard near-dedup with shared-shingle blocking: a document
    * pair becomes a candidate iff it shares at least `minShared` *selected*
    * grams (hash ≡ 0 mod `blockMod` — a deterministic ~1/blockMod sample
    * that both engines reproduce); candidates are re-ranked by exact
    * Jaccard over the full gram sets. Only bucket-local pairs are ever
    * formed, and the `minShared` AND-amplification kills the one-common-
    * phrase false candidates that would otherwise dominate the re-rank
    * cost (a true near-dup above threshold shares many selected grams).
    *
    * RECALL CAVEAT of the cap: a clique of MORE than `maxDocFreq`
    * near-identical documents (mass-produced boilerplate) pushes every
    * shared gram's document frequency over the cap, so its pairs are not
    * candidates — by design, since that bucket is exactly the O(df²)
    * blow-up the cap exists to prevent. Catch those cliques with
    * [[Dedup.exact]] / [[Dedup.minhashLsh]] (banding keys on the whole
    * signature, not a single gram), or raise `maxDocFreq` knowingly.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, blockMod: Int = 8, threshold: Double = 0.5,
                   minShared: Int = 2, maxDocFreq: Int = 128,
                   scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame = {
    // cache: the gram arrays feed the block keys AND both re-rank branches;
    // release via `scope` after consuming (see [[graft.core.CacheScope]]).
    // No fanOut here: measured regression — word-3-gram hashing is cheap
    // enough per row that the round-robin exchange costs more than the
    // serial scan saves (unlike the char-shingle MinHash chain).
    val base = scope.cache(docs.select(col(idCol), wordNgramHashes(col(textCol), n).as("gh")))
    val allKeys = base.select(col(idCol), explode(col("gh")).as("k"))
      .filter(col("k") % blockMod === 0)
    // Stop-gram cap: a block key shared by more than `maxDocFreq` documents
    // is corpus-wide boilerplate — it would create one O(df²) candidate
    // bucket while carrying no discriminating signal (a true near-dup above
    // `threshold` shares many *rare* grams too). The hot-key set is tiny by
    // construction, so the anti-join broadcasts.
    val hot = allKeys.groupBy("k").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq).select("k")
    // cache: `keys` feeds both sides of the candidate self-join; uncached,
    // the hot-gram aggregation above would run once per side.
    val keys = scope.cache(allKeys.join(broadcast(hot), Seq("k"), "left_anti"))
    val l = keys.select(col(idCol).as("id_a"), col("k"))
    val r = keys.select(col(idCol).as("id_b"), col("k"))
    val cand = l.join(r, Seq("k")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minShared)
      .select("id_a", "id_b")
    val a = base.select(col(idCol).as("id_a"), col("gh").as("gh_a"))
    val b = base.select(col(idCol).as("id_b"), col("gh").as("gh_b"))
    val (inter, uni) = overlapCols(col("gh_a"), col("gh_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", round(inter / uni, 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected components over a near-dup pair table: every id that
    * appears in `pairs` gets `label` = the MINIMUM id reachable through
    * the pair graph (the deterministic canonical representative). Output:
    * (id, label).
    *
    * Iterative min-label propagation WITH pointer jumping: each round
    * (1) joins the current labels to the symmetric edge table and takes
    * the per-node min over neighbors, then (2) compresses one indirection,
    * `label ← min(label, label(label))` — the label is always the id of a
    * component member, so it has its own label row to jump through. Plain
    * propagation needs O(component diameter) rounds, which on a chained
    * near-dup path (doc A ~ B ~ C ~ …, each pair over threshold but the
    * ends unrelated) grows with corpus size. The jump shortcuts a chain
    * whose ids fall along it: with ids increasing along the chain, 1,024,
    * 16,384, 131,072 and 1,048,576 documents took 11, 15, 18 and 21 rounds
    * (local[4]). It does not bound rounds in general: with ids in random
    * order along the chain, 64 documents took 42 rounds, 256 took 129, and
    * 1,024 had not converged after 200. Near-dup graphs are usually
    * banded-LSH quasi-cliques (diameter 2-3), where the loop is 2-3 rounds
    * as before; `maxIters` still bounds the pathological case, failing
    * loudly rather than returning half-merged components. The driver only
    * ever sees the converged/not bit per round, never data rows.
    *
    * Each round is materialised by [[graft.core.Fixpoint]] (lineage cut,
    * local or reliable checkpoint, superseded rounds freed); the exact
    * label sum, observed on the round's own job, is its stop signal.
    */
  def components(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                 maxIters: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    // `edges` is loop-internal (nothing lazy escapes with it), so unlike
    // the operator-local caches above it is released before returning.
    val edges = pairs.select(col(aCol).as("_src"), col(bCol).as("_dst"))
      .union(pairs.select(col(bCol).as("_src"), col(aCol).as("_dst")))
      .distinct().cache()
    try {
      val init = edges.select(col("_src").as("id")).distinct()
        .withColumn("label", col("id"))
      // convergence is detected by the exact sum of labels: every label
      // move is a strict DECREASE (least of current and candidates), so
      // the sum is unchanged iff no node changed. decimal(38,0) keeps the
      // sum exact (1e9 ids × 2^63 still fits in 38 digits).
      val labelSum = sum(col("label").cast("decimal(38,0)"))
      val (comp, converged) =
        graft.core.Fixpoint(init, maxIters, checkpointDir, Some(labelSum)) { labels =>
          val nbrMin = edges.join(labels.withColumnRenamed("id", "_dst"), "_dst")
            .groupBy(col("_src").as("id")).agg(min("label").as("_nl"))
          // propagation and pointer jump FUSED into one materialization:
          // the jump reads label(·) from the PREVIOUS round's materialized
          // labels (not from this round's propagation result, which would
          // need its own checkpoint to avoid recomputing the edge join on
          // both sides of the self-join — the cost of a whole extra
          // materialization job per round). Jumping through a one-step-
          // stale table is still a monotone min of component-member labels,
          // so the fixpoint — labels constant per component at the
          // component MINIMUM, which is what propagation alone already
          // guarantees — is unchanged; only the per-round compression depth
          // differs, and convergence is still detected by the exact label
          // sum. Labels are ids of component members (invariant:
          // initialized to own id, min-ed with other members' ids), so
          // every jumped-to label has a row in `labels`.
          val prop = least(col("label"), coalesce(col("_nl"), col("label")))
          val relabel = labels.select(col("id").as("_lid"), col("label").as("_jl"))
          labels.join(nbrMin, Seq("id"), "left")
            .select(col("id"), prop.as("_m"))
            .join(relabel, col("_m") === col("_lid"), "left")
            .select(col("id"),
              least(col("_m"), coalesce(col("_jl"), col("_m"))).as("label"))
        }
      require(converged,
        s"Dedup.components: not converged after $maxIters rounds — a long " +
          "chain of pairs whose ids are out of order along it can need more; " +
          "raise maxIters")
      comp
    } finally edges.unpersist(false)
  }

  /** Cluster assignment for EVERY document: `cluster_id` = the component
    * representative from [[components]] (its own id when the document has
    * no near-dup), plus the cluster size. The size join is
    * aggregation-shaped (groupBy + join back, map-side partials) rather
    * than a window over `cluster_id` — a boilerplate mega-cluster would
    * otherwise funnel its whole membership through one window partition.
    */
  def clusters(docs: DataFrame, idCol: String, pairs: DataFrame,
               aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = components(pairs, aCol, bCol).withColumnRenamed("id", idCol)
    // plain shuffle join, NOT a broadcast: comp has one row per document
    // with a near-dup, which at corpus scale can be a large fraction of
    // the table (AQE will still broadcast it when it measures small)
    val assigned = docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("cluster_id"))
    val sizes = assigned.groupBy("cluster_id")
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    assigned.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
  }

  /** Corpus-duplicated passage statistics — exact-substring dedup signal
    * at word-n-gram granularity (the tractable relational form of
    * RefinedWeb's exact-substring removal, Penedo et al. 2023: spans
    * repeated verbatim across documents are boilerplate/licensing/spam
    * and get removed or down-weighted before training). Per document:
    * `n_grams` (distinct word n-grams), `dup_grams` (those whose corpus
    * document-frequency ≥ `minDocs`), `dup_frac` = dup/n.
    *
    * Scale shape: TWO scans of the corpus, both pure pipelines —
    * (1) census: explode distinct grams per doc ([[wordNgramHashes]] is
    * already distinct, so `count(*)` per gram IS document frequency),
    * map-side-combined groupBy on the gram key; (2) probe: re-explode and
    * join the duplicated-gram set, re-aggregate per doc id. The
    * duplicated-gram table holds only grams appearing in ≥ `minDocs`
    * documents — the boilerplate tail, small by construction for
    * reasonable `minDocs` — so it BROADCASTS; `broadcastHot = false`
    * flips to a shuffled hash join for corpora where even that table is
    * big (same escape hatch as [[Pipeline.decontaminate]]). Nothing is
    * cached: at 100 TB the exploded gram table dwarfs cluster memory, and
    * re-scanning parquet twice beats spilling it once.
    */
  def dupPassageStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, minDocs: Int = 2,
                      broadcastHot: Boolean = true): DataFrame = {
    require(n > 0, "dupPassageStats: n must be positive")
    require(minDocs >= 2, "dupPassageStats: minDocs must be at least 2")
    val fdocs = graft.core.Fanout.fanOut(docs) // gram hashing is the hot pass
    def grams = fdocs.select(col(idCol),
      explode(wordNgramHashes(col(textCol), n)).as("_g"))
    val hot = grams.groupBy("_g").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs).select("_g")
    val probe = if (broadcastHot) broadcast(hot) else hot
    grams.join(probe.withColumn("_hot", lit(1)), Seq("_g"), "left")
      .groupBy(idCol).agg(
        count(lit(1)).as("n_grams"),
        count(col("_hot")).as("dup_grams"))
      .select(col(idCol), col("n_grams"), col("dup_grams"),
        round(col("dup_grams").cast("double") / col("n_grams"), 6).as("dup_frac"))
  }

  /** POSITION-ORDERED word-n-gram hashes (element p = the gram starting
    * at token p) — [[wordNgramHashes]] without the distinct, so
    * `posexplode` recovers `(position, gram)` for span location.
    */
  def wordNgramHashSeq(text: Column, n: Int): Column =
    column(WordNgramHashSeq(expression(text), n))

  /** Exact-substring duplicated SPANS — where [[dupPassageStats]] only
    * scores documents by their duplicated-gram fraction, this LOCATES
    * the duplicated passages themselves (the operator the RefinedWeb /
    * Dolma pipelines actually run, after Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): one row per maximal
    * run of tokens covered by corpus-duplicated word n-grams,
    * `(idCol, span_start, span_len)` in 0-based token positions.
    *
    * Construction: a gram is *duplicated* when it appears in ≥ `minDocs`
    * documents (the [[dupPassageStats]] census, document frequency over
    * per-doc-distinct grams). Every position whose gram is duplicated is
    * an ANCHOR covering tokens `[p, p+n-1]` (clipped to the document
    * end); a *span* is a maximal contiguous run of covered tokens —
    * consecutive anchors merge iff the gap leaves no uncovered token
    * (`p_next − p_prev ≤ n`). A duplicated passage of L ≥ n tokens
    * yields anchors at every start position inside it and comes out as
    * ONE span of length L; at gram granularity no suffix array is
    * needed — the census IS the match index.
    *
    * Scale shape: two corpus scans, both pure pipelines — (1) the
    * distinct-gram census (map-side-combined groupBy, duplicated-gram
    * table small by construction → broadcast, `broadcastHot = false`
    * for the shuffled escape hatch); (2) the positional re-scan
    * ([[wordNgramHashSeq]], one native pass) semi-joined against the
    * census. The ONLY shuffle keyed on documents moves ANCHORS (hot
    * positions), not tokens — the window that merges runs sorts each
    * document's anchor list, typically a tiny fraction of the corpus.
    * Zero-token documents produce no positions and no spans.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 5, minDocs: Int = 2,
               broadcastHot: Boolean = true): DataFrame = {
    require(n > 0, "dupSpans: n must be positive")
    require(minDocs >= 2, "dupSpans: minDocs must be at least 2")
    val fdocs = graft.core.Fanout.fanOut(docs) // both scans pay gram hashing
    val hot = fdocs.select(explode(wordNgramHashes(col(textCol), n)).as("_g"))
      .groupBy("_g").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs).select("_g")
    val probe = if (broadcastHot) broadcast(hot) else hot
    val anchors = fdocs
      .select(col(idCol),
        graft.llm.TextAnalysis.tokenCount(col(textCol)).as("_nt"),
        posexplode(wordNgramHashSeq(col(textCol), n)).as(Seq("_p", "_g")))
      .filter(col("_nt") > 0)
      .join(probe, Seq("_g"), "left_semi")
    val w = Window.partitionBy(col(idCol)).orderBy(col("_p"))
    val newRun = when(lag(col("_p"), 1).over(w).isNull
        || col("_p") - lag(col("_p"), 1).over(w) > n, 1L).otherwise(0L)
    anchors
      .withColumn("_new", newRun)
      .withColumn("_run", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_run"))
      .agg(min(col("_p")).cast("long").as("span_start"),
        (least(max(col("_p")) + n, max(col("_nt"))) - min(col("_p")))
          .cast("long").as("span_len"))
      .select(col(idCol), col("span_start"), col("span_len"))
  }

  /** Excise every duplicated span located by [[dupSpans]] from every
    * document: tokens covered by any span are dropped, the survivors
    * re-join with single spaces. Returns one row per input document —
    * `(idCol, n_tokens, n_kept, clean_text)` where `n_tokens` counts the
    * original tokens and `clean_text` is the (lowercased,
    * whitespace-normalized) cleaned token stream, empty when everything
    * was duplicated. NOTE this is the symmetric variant (both/all
    * occurrences go — boilerplate removal); pipelines wanting
    * keep-one-occurrence compose [[dupSpans]] with their own winner rule.
    *
    * Scale shape: [[dupSpans]]' two scans + one aggregation of the
    * (anchor-sized) span table to per-doc span lists, one join of that
    * list back to the corpus on `idCol` (docs without spans pass
    * through the left join untouched), and a pure per-row HOF filter
    * that walks each token list once against its doc's spans — spans
    * per doc is small (maximal runs are disjoint), so the rewrite is
    * linear in corpus tokens, no shuffle beyond the one id-keyed join.
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 5, minDocs: Int = 2,
                     broadcastHot: Boolean = true): DataFrame = {
    val spans = dupSpans(docs, idCol, textCol, n, minDocs, broadcastHot)
      .groupBy(idCol).agg(collect_list(struct(col("span_start"), col("span_len")))
        .as("_spans"))
    val sp = coalesce(col("_spans"),
      array().cast("array<struct<span_start:bigint,span_len:bigint>>"))
    val kept = filter(col("_ts"), (t, i) =>
      !exists(sp, s => i.cast("long") >= s("span_start")
        && i.cast("long") < s("span_start") + s("span_len")))
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol), tokens(col(textCol)).as("_ts"), col("_spans"))
      .select(col(idCol),
        size(col("_ts")).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        concat_ws(" ", kept).as("clean_text"))
  }

  /** [[removeDupSpans]] with the Lee et al. 2022 KEEP-ONE rule: of all
    * occurrences of the same duplicated span STRING (identity = md5-32
    * of the covered tokens joined with spaces), the one with the
    * smallest `(idCol, span_start)` survives and every other occurrence
    * is excised — the corpus keeps exactly one copy of each duplicated
    * passage instead of losing it everywhere. Same output contract as
    * [[removeDupSpans]]. Note the identity is the MAXIMAL-span string:
    * when adjacent duplicated passages merge into one run in some
    * document but not another, the merged and unmerged strings are
    * distinct spans, each keeping its own winner — the documented
    * word-gram-granularity semantics.
    *
    * Scale shape on top of [[dupSpans]]' two scans: one id-keyed join
    * fetches each span's covered tokens (span-local slices of the
    * per-doc token list), a map-side-combined groupBy on the span hash
    * picks winners (span-table-sized, never corpus-sized), and the
    * non-winner spans flow into the same per-doc HOF rewrite as
    * [[removeDupSpans]].
    */
  def removeDupSpansKeepOne(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 5, minDocs: Int = 2,
                            broadcastHot: Boolean = true): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("_ts"))
    val spans = dupSpans(docs, idCol, textCol, n, minDocs, broadcastHot)
      .join(toks, Seq(idCol))
      .withColumn("_sh", md5Hash32(concat_ws(" ",
        slice(col("_ts"), col("span_start").cast("int") + 1,
          col("span_len").cast("int")))))
      .select(col(idCol), col("span_start"), col("span_len"), col("_sh"))
    val winners = spans.groupBy("_sh")
      .agg(min(struct(col(idCol).as("_wid"), col("span_start").as("_wst"))).as("_w"))
    val cut = spans.join(winners, Seq("_sh"))
      .filter(!(col(idCol) === col("_w._wid") &&
        col("span_start") === col("_w._wst")))
      .groupBy(idCol).agg(collect_list(struct(col("span_start"), col("span_len")))
        .as("_spans"))
    val sp = coalesce(col("_spans"),
      array().cast("array<struct<span_start:bigint,span_len:bigint>>"))
    val kept = filter(col("_ts"), (t, i) =>
      !exists(sp, s => i.cast("long") >= s("span_start")
        && i.cast("long") < s("span_start") + s("span_len")))
    toks.join(cut, Seq(idCol), "left")
      .select(col(idCol),
        size(col("_ts")).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        concat_ws(" ", kept).as("clean_text"))
  }
}
