package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, Parquet}

/** Persistent MinHash-LSH dedup index — the INCREMENTAL near-dedup path.
  *
  * [[Dedup.minhashLsh]] answers "which pairs in THIS corpus are
  * near-duplicates" with one self-join; a production corpus is not
  * rebuilt per batch. At 100 TB the operation that matters is "dedup
  * TODAY'S batch against everything already accepted" without
  * re-shingling the corpus — the dedup twin of
  * [[Similarity.appendToIvfIndex]]'s index-maintenance story. This
  * object persists the two tables the LSH pipeline derives —
  *
  *  - `<path>/bands`: `(doc, bucket)` banded signature keys (the
  *    blocking front end — what candidate generation probes), and
  *  - `<path>/sets`:  `(doc, sh)` distinct shingle-hash sets (what the
  *    exact-Jaccard re-rank scores against)
  *
  * — plus the banding config FROZEN inside the artifact
  * (`_graft_minhash_config.txt`, the [[Similarity.writeIvfIndex]]
  * precedent): band keys from two different banding shapes never
  * collide meaningfully, so the config is part of the index, not
  * something the caller may vary per batch.
  *
  * Exactness contract: [[dedupAgainst]] over a new batch returns
  * EXACTLY the pairs of a whole-corpus [[Dedup.minhashLsh]] run (same
  * config, corpus ∪ batch) restricted to pairs touching ≥ 1 batch
  * document — including the mega-bucket cap decision, which is taken on
  * the UNION census (stored + batch occupancy per bucket), never on
  * either side alone. Spec-pinned, caps firing and not.
  *
  * Growth: the frozen banding was auto-chosen for the BUILD-time corpus
  * size ([[Dedup.minhashAutoConfig]]); candidate volume per batch
  * document grows ∝ n · s0^rowsPerBand as the corpus outgrows that
  * design point. [[indexStats]] surfaces occupancy; when mean bucket
  * occupancy exceeds ~4× the config's `candPerBand` design constant,
  * re-index at the banding the CURRENT count derives — the re-cluster
  * trigger, same doctrine as the IVF cell-skew signal.
  */
object MinhashIndex {

  /** The frozen banding + shingle + threshold shape of an index. */
  final case class Config(shingleLen: Int, numHashes: Int, bands: Int,
                          threshold: Double) {
    require(shingleLen >= 1 && numHashes >= 1 && bands >= 1 &&
      numHashes % bands == 0 && threshold > 0 && threshold <= 1,
      s"MinhashIndex.Config: invalid $this")
  }

  private def configFile(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_minhash_config.txt")

  private def writeConfig(spark: SparkSession, path: String, cfg: Config): Unit = {
    val p = configFile(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"${cfg.shingleLen},${cfg.numHashes},${cfg.bands},${cfg.threshold}\n".getBytes("UTF-8"))
    finally out.close()
  }

  def readConfig(spark: SparkSession, path: String): Config = {
    val p = configFile(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"MinhashIndex.readConfig: $p not found — not a graft MinHash index?")
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
    val parts = text.trim.split(",")
    Config(parts(0).toInt, parts(1).toInt, parts(2).toInt, parts(3).toDouble)
  }

  /** The `(doc, bucket)` + `(doc, sh)` tables for one batch of documents
    * under `cfg` — the shared derivation of [[write]] and the batch side
    * of [[dedupAgainst]]. One pass over the text (the cached shingle
    * table feeds both outputs).
    */
  private def derive(docs: DataFrame, idCol: String, textCol: String,
                     cfg: Config, scope: CacheScope): (DataFrame, DataFrame) = {
    // fanOut: the shingle chain is the per-row-expensive pass (no-op on
    // already-wide scans — see graft.core.Fanout)
    val base = scope.cache(graft.core.Fanout.fanOut(docs).select(
      col(idCol).as("doc"),
      Dedup.distinctNgramHashes(col(textCol), cfg.shingleLen).as("sh")))
    val sigs = Dedup.minhashSignature(base, "sh", cfg.numHashes).drop("sh")
    val bands = Dedup.bandedKeys(sigs, "doc", cfg.numHashes, cfg.bands)
    (bands, base)
  }

  /** Build the index at `path` from the initial corpus. No-config
    * overload: the banding derives from the ACTUAL corpus size
    * ([[Dedup.minhashAutoConfig]] — the auto-is-default doctrine).
    */
  def write(docs: DataFrame, idCol: String, textCol: String, path: String,
            shingleLen: Int = 5, threshold: Double = 0.6,
            targetRecall: Double = 0.9,
            scope: CacheScope = CacheScope.session): Config = {
    val auto = Dedup.minhashAutoConfig(docs.count(), threshold, targetRecall)
    val cfg = Config(shingleLen, auto.numHashes, auto.bands, threshold)
    write(docs, idCol, textCol, path, cfg, scope)
    cfg
  }

  /** Build the index at an EXPLICIT config (pinned reproductions). */
  def write(docs: DataFrame, idCol: String, textCol: String, path: String,
            cfg: Config, scope: CacheScope): Unit = {
    val (bands, sets) = derive(docs, idCol, textCol, cfg, scope)
    bands.write.mode("overwrite").parquet(s"$path/bands")
    sets.write.mode("overwrite").parquet(s"$path/sets")
    writeConfig(docs.sparkSession, path, cfg)
  }

  /** Append a batch under the index's own FROZEN config. Caller
    * contract: batch ids are disjoint from stored ids (the usual
    * monotonically-assigned doc id; [[dedupAgainst]] is how the batch
    * was vetted first). Append is per-document and batch-independent,
    * so an index built in batches is RESULT-IDENTICAL to one built in a
    * single shot — spec-pinned.
    */
  def append(docs: DataFrame, idCol: String, textCol: String, path: String,
             scope: CacheScope = CacheScope.session): Unit = {
    val cfg = readConfig(docs.sparkSession, path)
    val (bands, sets) = derive(docs, idCol, textCol, cfg, scope)
    bands.write.mode("append").parquet(s"$path/bands")
    sets.write.mode("append").parquet(s"$path/sets")
  }

  /** Near-dup pairs of `docs` against the index AND within the batch:
    * `(id_a, id_b, jaccard)`, `id_a < id_b`, Jaccard ≥ the frozen
    * threshold — exactly the whole-corpus [[Dedup.minhashLsh]] pairs
    * restricted to pairs touching ≥ 1 batch document.
    *
    * Plan shape: the corpus NEVER re-shingles — its bands/sets load
    * from parquet. Candidate generation is one bucket equi-join of the
    * (small) batch band keys against the stored band table plus the
    * batch's own self-join; the union-census mega-bucket guard drops
    * over-cap buckets once, consistently for both. The exact-Jaccard
    * re-rank attaches shingle sets by id — distinct-first, the measured
    * right shape for document-sized payloads ([[Dedup.minhashLsh]]'s
    * 6.6×-slower bucket-local counter-measurement).
    */
  def dedupAgainst(docs: DataFrame, idCol: String, textCol: String, path: String,
                   maxBucket: Int = 8192,
                   scope: CacheScope = CacheScope.session): DataFrame = {
    val spark = docs.sparkSession
    val cfg = readConfig(spark, path)
    val (bandsNewRaw, setsNew) = derive(docs, idCol, textCol, cfg, scope)
    val bandsNew = scope.cache(bandsNewRaw)
    val bandsOld = Parquet.read(spark, s"$path/bands")
    // Mega-bucket cap on the UNION census: the whole-corpus run counts
    // stored + batch rows per bucket before dropping, so the incremental
    // path must too — capping either side alone would keep buckets the
    // one-shot run drops (and vice versa), breaking the exactness
    // contract precisely when the guard matters.
    val occ = bandsOld.groupBy("bucket").agg(count(lit(1)).as("_o"))
      .join(bandsNew.groupBy("bucket").agg(count(lit(1)).as("_n")),
        Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (coalesce(col("_o"), lit(0L)) + coalesce(col("_n"), lit(0L))).as("_sz"))
    val hot = occ.filter(col("_sz") > maxBucket)
    val census = hot.agg(count(lit(1)).as("_c"), max(col("_sz")).as("_m")).head()
    val (okNew, okOld) =
      if (census.getLong(0) == 0) (bandsNew, bandsOld)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"MinhashIndex.dedupAgainst: dropping ${census.getLong(0)} over-cap bucket(s) " +
            s"(largest ${census.getLong(1)} rows > cap $maxBucket) — quadratic-clique guard")
        val drop = broadcast(hot.select("bucket"))
        (bandsNew.join(drop, Seq("bucket"), "left_anti"),
          bandsOld.join(drop, Seq("bucket"), "left_anti"))
      }
    // Candidates: batch × corpus on the bucket key, plus batch × batch.
    // Ids are disjoint across the two sides by contract, so least/greatest
    // normalization merges both streams into the whole-corpus (id_a < id_b)
    // orientation before the one distinct.
    val no = okNew.as("l").join(okOld.as("r"), col("l.bucket") === col("r.bucket"))
      .select(col("l.doc").as("x"), col("r.doc").as("y"))
    val nn = okNew.as("l").join(okNew.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("x"), col("r.doc").as("y"))
    val cand = no.unionByName(nn)
      .select(least(col("x"), col("y")).as("id_a"), greatest(col("x"), col("y")).as("id_b"))
      .distinct()
    // Exact re-rank: shingle sets come from the stored table for corpus
    // docs and the batch derivation for batch docs — never recomputed.
    val setsAll = Parquet.read(spark, s"$path/sets").unionByName(setsNew)
    val (inter, uni) = Dedup.overlapCols(col("sh_a"), col("sh_b"))
    // Pin the re-rank's parallelism: a candidate pair is 16 BYTES on the
    // wire but costs a whole set_overlap over two document-sized arrays
    // downstream, so AQE's byte-based partition coalescing (sizing for
    // 1 MB+ partitions) legitimately collapses this exchange to one task
    // and serializes the dominant compute (measured ~35% of the query).
    // An explicit keyed repartition is not coalesced, and the first
    // attach join reuses its partitioning — no extra exchange.
    cand
      .repartition(spark.sparkContext.defaultParallelism, col("id_a"))
      .join(setsAll.select(col("doc").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(setsAll.select(col("doc").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(inter / uni, 6))
      .filter(col("jaccard") >= cfg.threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Occupancy stats of the stored band table — the re-index signal:
    * one row `(n_docs, n_buckets, mean_occupancy, max_occupancy)`.
    */
  def indexStats(spark: SparkSession, path: String): DataFrame = {
    val bands = Parquet.read(spark, s"$path/bands")
    bands.groupBy("bucket").agg(count(lit(1)).as("_sz"))
      .agg(count(lit(1)).as("n_buckets"), round(avg("_sz"), 6).as("mean_occupancy"),
        max("_sz").as("max_occupancy"))
      .crossJoin(broadcast(bands.agg(countDistinct("doc").as("n_docs"))))
      .select(col("n_docs"), col("n_buckets"), col("mean_occupancy"), col("max_occupancy"))
  }
}
