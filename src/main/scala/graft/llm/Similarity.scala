package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.{ArrayDotProduct, PqSubCode}

/** Embedding similarity search and near-duplicate detection.
  *
  * Scale design (100 TB): the brute-force path broadcasts only the (tiny)
  * query set and scans the corpus once — the per-row work is a codegen'd
  * native dot product, no UDF, no driver-side index. The
  * LSH path buckets vectors by random-hyperplane sign patterns (classic
  * SimHash-for-cosine, multi-table OR-amplification) so the only pairwise
  * work is within a bucket; candidates never go all-pairs.
  *
  * Hyperplane components come from a deterministic integer LCG mapped to
  * [-0.5, 0.5) — exactly representable doubles, so a SQL oracle
  * interpolating the same literals computes bit-identical buckets.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplanes: component (i, d) is the
    * first 32 md5 bits of `"hp|<i*dim+d>"`, mapped to [-0.5, 0.5) by
    * `x / 2^32 − 0.5` (a dyadic rational — exact in double precision, so
    * a SQL oracle recomputing the same md5 gets the identical double).
    *
    * md5 (not an LCG): plane components must be INDEPENDENT across planes
    * for multi-table OR-amplification to reach its theoretical recall —
    * consecutive LCG outputs lie on a coarse lattice (the classic
    * spectral-test failure), and with hundreds of planes the correlated
    * tables stop being independent trials: measured at 20k vectors, an
    * 8-bit × 28-table bank realized 0.335 recall on LCG planes vs 0.557
    * on hashed planes (theoretical floor 0.510). A cryptographic digest
    * of the plane index has no such structure, and both engines already
    * share the exact md5-prefix integer idiom ([[Dedup.md5Hash32]]).
    */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (i, d) =>
      val bytes = md.digest(s"hp|${i.toLong * dim + d}".getBytes("UTF-8"))
      val x = ((bytes(0) & 0xFFL) << 24) | ((bytes(1) & 0xFFL) << 16) |
        ((bytes(2) & 0xFFL) << 8) | (bytes(3) & 0xFFL)
      x.toDouble / 4294967296.0 - 0.5
    }
  }

  // ----- granularity auto-configuration ----------------------------------
  //
  // With `bits` FIXED, each hash table has 2^bits buckets, so average
  // bucket occupancy grows ∝ corpus size and in-bucket candidate volume
  // grows ∝ n² (measured ~100× candidates on 10× vectors at a fixed 4-bit
  // config — BENCH_SF1.md). The knob that holds candidate volume LINEAR in
  // n is growing `bits` ~ log2(n) so per-bucket occupancy stays constant —
  // and then growing `tables` so that recall holds: a boundary pair
  // (cosine exactly at the threshold) agrees with one random hyperplane
  // with probability c = 1 − acos(threshold)/π (the Goemans–Williamson
  // rounding identity), collides in one `bits`-plane table with
  // probability c^bits, and in ≥1 of T OR'd tables with probability
  // 1 − (1 − c^bits)^T. These helpers solve that standard LSH sizing
  // (Indyk–Motwani-style parameterization) deterministically, so a SQL
  // oracle re-deriving the same config reproduces the buckets bit-for-bit.

  /** Probability that one random hyperplane puts a pair with cosine
    * exactly `threshold` on the same side: `1 − acos(threshold)/π`.
    */
  def planeAgreement(threshold: Double): Double = {
    require(threshold > -1.0 && threshold < 1.0,
      s"planeAgreement: threshold must be in (-1, 1), got $threshold")
    1.0 - math.acos(threshold) / math.Pi
  }

  /** Tables needed so a boundary pair (cosine = `threshold`) collides in
    * at least one `bits`-plane table with probability ≥ `targetRecall`:
    * `ceil(ln(1−R) / ln(1−c^bits))`. Pairs ABOVE the threshold collide
    * more often, so this is the recall FLOOR of the whole output.
    */
  def requiredTables(bits: Int, threshold: Double, targetRecall: Double): Int = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"requiredTables: targetRecall must be in (0, 1), got $targetRecall")
    val p = math.pow(planeAgreement(threshold), bits)
    if (p >= 1.0) 1
    else math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - p)).toInt.max(1)
  }

  /** An auto-chosen hyperplane-LSH shape: `tables` hash tables of `bits`
    * planes each ([[hyperplaneBuckets]] layout).
    */
  final case class LshConfig(bits: Int, tables: Int) {
    def numPlanes: Int = bits * tables
    /** Collision probability of a pair at cosine exactly `threshold` —
      * the output's recall floor under this config.
      */
    def recallFloor(threshold: Double): Double =
      1.0 - math.pow(1.0 - math.pow(planeAgreement(threshold), bits), tables)
  }

  /** Choose (bits, tables) from the corpus size and the similarity
    * threshold:
    *
    *  - occupancy side: the smallest `bits` with
    *    `2^bits · targetOccupancy ≥ n` (computed in INTEGER arithmetic so
    *    an oracle hits no floating log2 boundary), holding expected bucket
    *    occupancy — and with it candidate volume per vector — constant as
    *    n grows;
    *  - recall side: the largest `bits` whose [[requiredTables]] still
    *    fits `maxTables` — more bits than that cannot reach `targetRecall`
    *    within the table budget, so extra granularity would silently buy
    *    candidate reduction with lost recall.
    *
    * `bits` is the SMALLER of the two (clamped to `[minBits, maxBits]`);
    * `tables` is `requiredTables` at that width, clamped to `maxTables`.
    * When the clamps bind (tiny corpora, or a low threshold where LSH
    * needs many tables — c is small so c^bits decays fast), the achieved
    * floor is visible via [[LshConfig.recallFloor]]; the choice stays
    * deterministic either way.
    */
  def lshAutoConfig(n: Long, threshold: Double, targetRecall: Double = 0.9,
                    targetOccupancy: Int = 64, minBits: Int = 4, maxBits: Int = 24,
                    maxTables: Int = 32): LshConfig = {
    require(targetOccupancy > 0 && minBits >= 1 && maxBits >= minBits && maxTables >= 1,
      "lshAutoConfig: invalid clamp parameters")
    val bitsOcc = (1 to maxBits)
      .find(b => (1L << b) * targetOccupancy >= n)
      .getOrElse(maxBits)
    val bitsRecall = (1 to maxBits)
      .filter(b => requiredTables(b, threshold, targetRecall) <= maxTables)
      .lastOption.getOrElse(1)
    val bits = math.max(minBits, math.min(bitsOcc, bitsRecall))
    LshConfig(bits, math.min(requiredTables(bits, threshold, targetRecall), maxTables))
  }

  /** Array-of-float column → array-of-double (cast BEFORE any arithmetic so
    * both engines do pure double math).
    */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Left-fold dot product — same summation order as a SQL
    * `list_reduce(list_transform(...))`, so results are bit-identical —
    * as the native codegen'd [[graft.functions.ArrayDotProduct]].
    */
  def dot(a: Column, b: Column): Column =
    column(ArrayDotProduct(expression(a), expression(b)))

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  /** One Literal node per plane (a 64-child `array(lit...)` tree per plane
    * makes analysis/optimization of the 16-plane bucket expression
    * disproportionately expensive).
    */
  def litArray(xs: Array[Double]): Column = typedlit(xs.toSeq)

  /** Multi-table hyperplane buckets: table `l` uses planes
    * `[l*bits, (l+1)*bits)`; its key is the sign-pattern integer. Returns
    * (idCol, tbl, key) — one row per (vector, table), ready for a
    * bucket-key shuffle. `planes` must have `numTables * bits` rows.
    */
  def hyperplaneBuckets(df: DataFrame, idCol: String, vecCol: String,
                        planes: Array[Array[Double]], bits: Int, numTables: Int): DataFrame = {
    require(planes.length == numTables * bits, "planes must be numTables*bits")
    val v = asDouble(col(vecCol))
    val bucketCols = (0 until numTables).map { l =>
      val key = (0 until bits).map { i =>
        when(dot(v, litArray(planes(l * bits + i))) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(l).as("tbl"), key.as("key")).as(s"_b_$l")
    }
    df.select(col(idCol) +: bucketCols: _*)
      .select(col(idCol), explode(array((0 until numTables).map(l => col(s"_b_$l")): _*)).as("b"))
      .select(col(idCol), col("b.tbl").as("tbl"), col("b.key").as("key"))
  }

  private def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .withColumn("_n", norm(col("_v")))

  /** Brute-force cosine top-k: broadcast the query vectors, scan the corpus
    * once, window top-k per query. Output: (q_id, idCol, cos, rank).
    */
  def topK(emb: DataFrame, idCol: String, vecCol: String,
           queryIds: Seq[Long], k: Int): DataFrame = {
    val base = withNorm(emb, idCol, vecCol)
    val q = base.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("q_id"), col("_v").as("_qv"), col("_n").as("_qn"))
    val scored = base.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos", round(dot(col("_v"), col("_qv")) / (col("_n") * col("_qn")), 6))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("q_id"), col(idCol), col("cos"), col("_rn").cast("long").as("rank"))
  }

  /** kNN label prediction: each query takes the MAJORITY label of its k
    * exact-cosine nearest neighbors (ties on the vote count break by the
    * smaller label — pinned, so two engines agree). Returns
    * `(q_id, label, n_votes)` — the similarity-based labeling /
    * weak-supervision primitive (propagate a small labeled set onto new
    * points by embedding proximity).
    *
    * Plan shape: the neighbor table is k×|queries| rows (metadata-sized
    * by construction), so it BROADCASTS into the labels join — the
    * corpus-sized label table never shuffles — and the vote is an
    * aggregation over k×|queries| rows. Swap [[topK]] for [[lshTopK]] /
    * [[ivfIndexTopK]] upstream when the corpus outgrows the brute-force
    * scan; the vote works on any `(q_id, <id>)` neighbor table via
    * [[knnVote]].
    */
  def knnPredict(emb: DataFrame, idCol: String, vecCol: String,
                 labels: DataFrame, labelIdCol: String, labelCol: String,
                 queryIds: Seq[Long], k: Int): DataFrame =
    knnVote(topK(emb, idCol, vecCol, queryIds, k), idCol,
      labels, labelIdCol, labelCol)

  /** The vote half of [[knnPredict]]: majority label over an arbitrary
    * `(q_id, <neighbor id>)` table (ties → smaller label).
    */
  def knnVote(neighbors: DataFrame, idCol: String,
              labels: DataFrame, labelIdCol: String, labelCol: String): DataFrame = {
    val votes = labels
      .select(col(labelIdCol).as(idCol), col(labelCol).as("label"))
      .join(broadcast(neighbors.select(col("q_id"), col(idCol))), idCol)
      .groupBy(col("q_id"), col("label")).agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("n_votes").desc, col("label"))
    votes.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("q_id"), col("label"), col("n_votes"))
  }

  /** LSH-bucketed approximate top-k: candidates are vectors sharing a
    * bucket with the query in ANY of the hash tables (OR-amplification),
    * re-ranked by exact cosine. Same output shape as [[topK]]; recall vs
    * brute force is measured in the ScalaTest spec.
    */
  /** Similarity band the no-config [[lshTopK]] tunes its granularity for:
    * hyperplane LSH needs a target cosine to size its recall tables, and a
    * top-k search has no explicit threshold — 0.4 is the "interesting
    * neighbor" floor (a random pair in high dimensions sits near 0), so
    * the derived config holds ≥ targetRecall on everything a user would
    * call a neighbor. Pass explicit planes/bits/tables to tune elsewhere.
    */
  val LshSearchThreshold = 0.4

  /** No-config [[lshTopK]]: bucket granularity derived from the ACTUAL
    * corpus size via [[lshAutoConfig]] at [[LshSearchThreshold]] — same
    * doctrine as the no-config [[cosineDup]]: per-bucket occupancy (and so
    * candidate volume per query) stays constant as the corpus grows where
    * fixed `bits` goes linear-per-bucket.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, queryIds: Seq[Long],
              k: Int): DataFrame = {
    val stats = emb.agg(count(lit(1)), max(size(col(vecCol)))).head()
    val n = stats.getLong(0)
    val dim = if (stats.isNullAt(1)) 1 else stats.getInt(1)
    val cfg = lshAutoConfig(n, LshSearchThreshold)
    lshTopK(emb, idCol, vecCol, queryIds, k,
      hyperplanes(cfg.numPlanes, dim), cfg.bits, cfg.tables)
  }

  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, queryIds: Seq[Long],
              k: Int, planes: Array[Array[Double]], bits: Int, numTables: Int,
              scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame = {
    val base = withNorm(emb, idCol, vecCol)
    // cache: the bucket table feeds both the query side and the corpus side
    // of the candidate join; uncached, the 16-dot bucket expression subtree
    // is planned and evaluated twice. Release via `scope` after consuming
    // (see [[graft.core.CacheScope]]).
    val buckets = scope.cache(hyperplaneBuckets(emb, idCol, vecCol, planes, bits, numTables))
    val qb = buckets.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("q_id"), col("tbl"), col("key"))
    val cand = buckets.join(broadcast(qb), Seq("tbl", "key"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol)).distinct()
    val q = base.select(col(idCol).as("q_id"), col("_v").as("_qv"), col("_n").as("_qn"))
    val scored = cand
      .join(base, idCol)
      .join(broadcast(q), "q_id")
      .withColumn("cos", round(dot(col("_v"), col("_qv")) / (col("_n") * col("_qn")), 6))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("q_id"), col(idCol), col("cos"), col("_rn").cast("long").as("rank"))
  }

  /** IVF coarse quantizer: `k` centroids trained by a few distributed
    * Lloyd iterations from deterministic seeds (the vectors whose ids hash
    * lowest — reproducible, no RNG state). Each iteration is one
    * aggregation: assign by best dot-to-centroid (norm-adjusted),
    * groupBy-average. Returns the centroid matrix; only k×dim doubles
    * ever reach the driver.
    */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 5): Array[Array[Double]] = {
    val base = emb.select(col(idCol), asDouble(col(vecCol)).as("_v")).cache()
    try {
      var cents: Array[Array[Double]] = base
        .withColumn("_h", xxhash64(col(idCol)))
        .orderBy("_h").limit(k)
        .select("_v").collect()
        .map(_.getSeq[Double](0).toArray)
      (0 until iters).foreach { _ =>
        val assign = bestCentroidCol(col("_v"), cents)
        // Per-dimension means via posexplode + groupBy(_c, dim): ONE
        // aggregate expression total, where the previous
        // `avg(element_at(_v, d+1))`-per-dimension form planned ~dim
        // aggregate expressions — fine at toy dims, an analysis/codegen
        // blowup at embedding dims of 768+. Shuffle volume is k×dim
        // partial means (map-side combine); still only k×dim doubles
        // reach the driver. Empty clusters keep their previous centroid.
        val sums = base.withColumn("_c", assign)
          .select(col("_c"), posexplode(col("_v")).as(Seq("_d", "_x")))
          .groupBy("_c", "_d").agg(avg(col("_x")).as("_mean"))
          .collect()
        val updated = cents.map(_.clone())
        sums.foreach { r =>
          updated(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        }
        cents = updated
      }
      cents
    } finally base.unpersist()
  }

  /** Index (0-based) of the nearest centroid by cosine. The vector's own
    * norm is constant across centroids, so the argmax only needs
    * `dot(v, c)/|c|`. Implemented as `array_sort` over (−score, index)
    * structs — a when/otherwise fold would duplicate the running-best
    * subtree at every step, growing the expression ~2^k; this is linear
    * in k and keeps the first-index tiebreak (min of (−s, i)).
    */
  def bestCentroidCol(v: Column, cents: Array[Array[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((-(dot(v, litArray(c)) / lit(cn))).as("ns"), lit(i).as("c"))
    }
    element_at(array_sort(array(scored.toIndexedSeq: _*)), 1).getField("c")
  }

  /** IVF approximate top-k: vectors are inverted-listed by nearest
    * centroid; a query probes its `nProbe` nearest lists and re-ranks
    * exactly within them. The centroid table is tiny and broadcast
    * implicitly as literals; candidate work is list-local.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, queryIds: Seq[Long],
              k: Int, cents: Array[Array[Double]], nProbe: Int = 2): DataFrame = {
    val base = withNorm(emb, idCol, vecCol)
      .withColumn("_c", bestCentroidCol(col("_v"), cents))
    // query → its nProbe nearest centroid ids (driver-side tiny cross of
    // query rows × centroids is avoided: compute ranks distributed)
    // probe ranking is also norm(q)-invariant
    val qScores = cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((dot(col("_v"), litArray(c)) / lit(cn)).as("s"), lit(i).as("c"))
    }
    val q = base.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("q_id"), col("_v").as("_qv"), col("_n").as("_qn"),
        slice(reverse(array_sort(array(qScores: _*))), 1, nProbe).as("_probes"))
      .select(col("q_id"), col("_qv"), col("_qn"), explode(col("_probes.c")).as("_c"))
    val scored = base.join(broadcast(q), Seq("_c"))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos", round(dot(col("_v"), col("_qv")) / (col("_n") * col("_qn")), 6))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("q_id"), col(idCol), col("cos"), col("_rn").cast("long").as("rank"))
  }

  /** Write the corpus as an IVF-PARTITIONED parquet index: every vector
    * lands in the directory of its coarse cell (`partitionBy("cell")`,
    * assignment = the SAME [[bestCentroidCol]] expression [[ivfTopK]]
    * uses), so a probed search reads ONLY its cells' files — partition
    * PRUNING at the source, where a monolithic layout scans everything
    * and filters after. This is the storage-side half of the IVF
    * contract: [[ivfTopK]] prunes compute, the layout prunes I/O; at
    * 100 TB a 2-of-64-cell probe reads ~3% of the bytes.
    */
  def writeIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Double]], path: String,
                    probe: Option[IvfProbeConfig] = None): Unit = {
    emb.withColumn("cell", bestCentroidCol(asDouble(col(vecCol)), cents))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeIvfCentroids(emb.sparkSession, path, cents)
    // calibrated probe widths (e.g. from [[ivfAutoProbe]]) freeze with
    // the index so a reader searches at the measured config by default
    probe.foreach(writeIvfProbeConfig(emb.sparkSession, path, _))
  }

  /** The frozen coarse quantizer lives INSIDE the index directory (an
    * underscore-prefixed file, invisible to parquet scans): an IVF index
    * is only searchable/appendable with the exact centroids it was built
    * under, so they are part of the artifact, not something the caller
    * must carry. Plain text — one centroid per line, comma-separated
    * `Double.toString` values (shortest-round-trip: parse returns the
    * identical bits) — via the Hadoop FS API so the path may be any
    * cluster filesystem.
    */
  private def centroidsFile(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_centroids.txt")

  def writeIvfCentroids(spark: org.apache.spark.sql.SparkSession, path: String,
                        cents: Array[Array[Double]]): Unit = {
    val p = centroidsFile(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(cents.map(_.mkString(",")).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[Array[Double]] = {
    val p = centroidsFile(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"readIvfCentroids: $p not found — not a graft IVF index?")
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
    text.split("\n").filter(_.nonEmpty).map(_.split(",").map(_.toDouble))
  }

  /** The CALIBRATED probe widths live inside the index artifact too —
    * the frozen-artifact doctrine the centroids follow: [[ivfAutoProbe]]
    * spends real measurement turning a recall target into
    * `(nProbeCoarse, nProbeFine)`, and an index whose reader must
    * re-calibrate (or guess) has thrown that measurement away. Same
    * plain-text convention as `_graft_centroids.txt`
    * (`coarse,fine,recall,met` — recall via `Double.toString`,
    * shortest-round-trip).
    */
  private def probeConfigFile(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_probe_config.txt")

  def writeIvfProbeConfig(spark: org.apache.spark.sql.SparkSession, path: String,
                          cfg: IvfProbeConfig): Unit = {
    val p = probeConfigFile(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"${cfg.nProbeCoarse},${cfg.nProbeFine},${cfg.recall},${cfg.met}\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** `None` when the index was written without a calibration — probe
    * widths are OPTIONAL metadata (an uncalibrated index is still
    * searchable at explicit widths), unlike the centroids, which are
    * the artifact's identity.
    */
  def readIvfProbeConfig(spark: org.apache.spark.sql.SparkSession,
                         path: String): Option[IvfProbeConfig] = {
    val p = probeConfigFile(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        buf.toString("UTF-8")
      } finally in.close()
      val parts = text.trim.split(",")
      Some(IvfProbeConfig(parts(0).toInt, parts(1).toInt,
        parts(2).toDouble, parts(3).toBoolean))
    }
  }

  /** Append new vectors to an existing [[writeIvfIndex]] layout: each is
    * assigned against the index's own FROZEN centroids (read back from the
    * artifact — the caller cannot accidentally append under a different
    * quantizer) and written into the existing cell partitioning, so an
    * index built in batches is file-layout-compatible and RESULT-IDENTICAL
    * to one built in a single shot (assignment is per-row and
    * batch-independent; pinned by spec and by the `ann_indexed_append`
    * oracle row).
    *
    * Maintenance contract: appending under frozen centroids keeps probes
    * correct but lets cells drift as the data distribution does — monitor
    * [[ivfIndexCellStats]] and RE-CLUSTER (retrain centroids, rewrite the
    * index) when the largest cell exceeds ~8× the median, or when any
    * cell outgrows what one probe task should scan (the `maxBucket`
    * doctrine): past that point probe cost is no longer
    * ~nProbe/k of the corpus and a rebuild pays for itself. Rebuild, not
    * in-place splitting — cell splits would change assignment semantics
    * and break result-identity with [[ivfTopK]] on the same centroids.
    */
  def appendToIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val cents = readIvfCentroids(emb.sparkSession, path)
    emb.withColumn("cell", bestCentroidCol(asDouble(col(vecCol)), cents))
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** Per-cell row counts of an IVF index plus the rebuild signal:
    * `(cell, n, frac_of_median)` — the metadata-sized health scan behind
    * [[appendToIvfIndex]]'s re-cluster trigger.
    */
  def ivfIndexCellStats(index: DataFrame): DataFrame = {
    val counts = index.groupBy("cell").agg(count(lit(1)).as("n"))
    val med = counts.agg(expr("median(n)").as("_med"))
    counts.crossJoin(broadcast(med))
      .withColumn("frac_of_median", round(col("n") / col("_med"), 6))
      .drop("_med")
  }

  /** Probed exact-re-rank top-k over a [[writeIvfIndex]] layout —
    * result-identical to [[ivfTopK]] on the same centroids (same probe
    * tiebreaks, same re-rank) with the corpus scan PRUNED to the probed
    * cells. The probe cells come from one metadata-sized collect
    * (DISTINCT cell ids — bounded by the centroid count, never by
    * |queries|), so they reach the scan as a LITERAL partition predicate
    * and pruning happens at PLAN time; `queries` carries
    * `(idCol, vecCol)` rows and is metadata-sized by contract.
    *
    * `maxPlanCells` caps the driver-side materialization (advisor,
    * round 13): when a large query batch probes MORE distinct cells than
    * the cap, the literal IN-list would bloat the plan (and the collect
    * the driver) for pruning that barely prunes — past the cap the cell
    * filter falls back to a broadcast semi-join (losing plan-time
    * pruning, keeping the scan-side filter at run time) and says so
    * loudly at WARN. The collect itself is `limit(cap+1)`-bounded either
    * way, so driver memory never scales with the probe set.
    */
  /** Search a [[writeIvfIndex]] artifact at its STORED configuration —
    * centroids from `_graft_centroids.txt`, probe breadth from the
    * calibrated `_graft_probe_config.txt` when present. The stored
    * two-level `(coarse, fine)` widths carry onto the flat cell layout
    * as their LIST BUDGET: the calibration chose "probe c·f inverted
    * lists to hit the recall target", and the flat index's unit of
    * probing is the cell, so `nProbe = min(c·f, nCells)`. An
    * uncalibrated index searches at `defaultNProbe`. Spec-pinned:
    * result-identical to the explicit-widths overload at the same
    * breadth (SimilaritySpec).
    */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, idCol: String, vecCol: String, k: Int,
                   defaultNProbe: Int, maxPlanCells: Int): DataFrame = {
    val cents = readIvfCentroids(spark, path)
    val nProbe = readIvfProbeConfig(spark, path)
      .map(c => math.min(c.nProbeCoarse * c.nProbeFine, cents.length))
      .getOrElse(defaultNProbe)
    ivfIndexTopK(spark.read.parquet(path), queries, idCol, vecCol, k, cents,
      nProbe, maxPlanCells)
  }
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame =
    ivfIndexTopK(spark, path, queries, idCol, vecCol, k, 2, 4096)

  def ivfIndexTopK(index: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                   k: Int, cents: Array[Array[Double]], nProbe: Int = 2,
                   maxPlanCells: Int = 4096): DataFrame = {
    require(k > 0 && nProbe > 0, "ivfIndexTopK: k and nProbe must be positive")
    require(maxPlanCells > 0, "ivfIndexTopK: maxPlanCells must be positive")
    val qScores = cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((dot(col("_v"), litArray(c)) / lit(cn)).as("s"), lit(i).as("c"))
    }
    val q = withNorm(queries, idCol, vecCol)
      .select(col(idCol).as("q_id"), col("_v").as("_qv"), col("_n").as("_qn"),
        explode(slice(reverse(array_sort(array(qScores.toIndexedSeq: _*))), 1, nProbe)
          .getField("c")).as("cell"))
    val qCells = q.select("cell").distinct()
    val cells = qCells.limit(maxPlanCells + 1).collect().map(_.getInt(0)).toSeq
    val pruned =
      if (cells.length <= maxPlanCells) index.filter(col("cell").isin(cells: _*))
      else {
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"ivfIndexTopK: probe set spans > $maxPlanCells distinct cells; " +
            "falling back from literal partition pruning to a broadcast " +
            "semi-join cell filter (plan-time pruning lost, run-time filter kept)")
        index.join(broadcast(qCells), Seq("cell"), "left_semi")
      }
    val base = pruned
      .select(col(idCol), asDouble(col(vecCol)).as("_v"), col("cell"))
      .withColumn("_n", norm(col("_v")))
    val scored = base.join(broadcast(q), Seq("cell"))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos", round(dot(col("_v"), col("_qv")) / (col("_n") * col("_qn")), 6))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("q_id"), col(idCol), col("cos"), col("_rn").cast("long").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: bucket with multi-table
    * hyperplane LSH, pair within buckets only, keep pairs with exact
    * cosine ≥ threshold. Output: (id_a, id_b, cos).
    *
    * MEGA-BUCKET CAP: an LSH bucket with more than `maxBucket` members
    * (e.g. a constant/zero-vector clique, or `bits` too small for the
    * corpus) would form C(k,2) in-bucket pairs in one straggler task. A
    * (tbl, key) bucket over the cap is dropped from pairing and the drop
    * is logged LOUDLY at WARN with its census — same guard as
    * [[graft.llm.Dedup.lshCandidatePairs]]; see
    * [[graft.core.Salting.dropOverCap]]. Recall caveat: a genuine
    * near-dup clique larger than the cap must be caught by exact dedup
    * upstream, or by raising `maxBucket` knowingly.
    *
    * GRANULARITY VS CORPUS SIZE: with `bits` fixed, each table has 2^bits
    * buckets, so bucket size grows ∝ corpus and in-bucket candidate
    * volume ∝ n² (measured: ~100× candidates on 10× vectors at the
    * 4-bit test config — BENCH_SF1). Scale `bits` ~ log2(n) to hold
    * per-bucket occupancy (and thus candidate volume per vector)
    * constant; the cap then only fires on genuine degenerate cliques.
    */
  /** No-config [[cosineDup]]: granularity derived from the ACTUAL corpus
    * size (= [[cosineDupAuto]]). The DEFAULT on purpose — fixed `bits`
    * behind the obvious name is the measured n² candidate trap (BENCH_SF1:
    * 46.6M candidates vs auto's 23.8M at sf1, at equal-or-better recall),
    * and deriving the config costs one aggregation job. Use the
    * explicit-planes overload below to reproduce a pinned configuration.
    */
  def cosineDup(emb: DataFrame, idCol: String, vecCol: String,
                threshold: Double): DataFrame =
    cosineDupAuto(emb, idCol, vecCol, threshold)

  def cosineDup(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
                planes: Array[Array[Double]], bits: Int, numTables: Int,
                scope: graft.core.CacheScope = graft.core.CacheScope.session,
                maxBucket: Int = 8192): DataFrame =
    cosineDupImpl(emb, idCol, vecCol, threshold, planes, bits, numTables,
      scope, maxBucket, probe = None)

  private def cosineDupImpl(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planes: Array[Array[Double]],
                            bits: Int, numTables: Int,
                            scope: graft.core.CacheScope, maxBucket: Int,
                            probe: Option[Column => Column]): DataFrame = {
    val base = withNorm(emb, idCol, vecCol)
    // ONE cached table: bucket rows WITH their vectors. Both sides of the
    // in-bucket scoring join and the cap census share it; release via
    // `scope` after consuming (see [[graft.core.CacheScope]]).
    //
    // SHUFFLE SHAPE (round 11): the cosine is computed BUCKET-LOCALLY and
    // the threshold filter runs BEFORE any pair-level shuffle. The former
    // shape (distinct id pairs first, then re-attach vectors by id)
    // shuffled ~candidates × |vec| bytes through the second attach join —
    // measured >70 GB of shuffle/spill at 200k vectors (sf10), i.e. disk
    // exhaustion, for an operator whose CANDIDATE volume is linear. This
    // shape shuffles n × tables × |vec| once (the bucket co-location),
    // scores pairs inside the bucket partition, and the only pair-level
    // rows that ever move are the ≥-threshold SURVIVORS entering the
    // final distinct — output-sized by definition. A pair colliding in
    // multiple tables is scored once per collision (bounded by `tables`);
    // cos is a pure function of the two vectors, so the distinct on
    // (id_a, id_b, cos) collapses duplicates exactly.
    val withVec = scope.cache(
      hyperplaneBuckets(emb, idCol, vecCol, planes, bits, numTables)
        .join(base, idCol))
    val buckets = graft.core.Salting.dropOverCap(
      withVec, Seq("tbl", "key"), maxBucket, s"cosineDup(maxBucket=$maxBucket)")
    // PROBE RESTRICTION: filter the LEFT pair side AFTER the cap census so
    // the buckets, config, and drop decisions are exactly the full query's
    // — the restricted output is then a literal subset (id_a ∈ probe set)
    // of the unrestricted output, which is what makes it usable as a
    // deterministic audit slice (see [[cosineDupProbe]]).
    val lSide = probe.fold(buckets)(p => buckets.filter(p(col(idCol))))
    val l = lSide.select(col("tbl"), col("key"), col(idCol).as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val r = buckets.select(col("tbl"), col("key"), col(idCol).as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    l.join(r, Seq("tbl", "key")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos").distinct()
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023:
    * k-means-cluster the embedding space, then compare ONLY within each
    * cluster — the cluster plays the candidate-blocking role LSH buckets
    * play in [[cosineDup]], but follows the data's own density instead of
    * random hyperplanes, so paraphrase-level duplicates that straddle a
    * random hyperplane still collide). Vectors are assigned to their
    * nearest centroid from `cents` (train with [[ivfCentroids]] — the
    * same coarse quantizer IVF search uses); within-cluster pairs with
    * exact cosine ≥ `threshold` are emitted as
    * `(id_a, id_b, cluster, cos)`. Feed the pairs to [[Dedup.clusters]]
    * for winner selection, exactly like the other near-dup families.
    *
    * Scale shape: assignment is a pure projection against k×dim centroid
    * literals (no join — centroids are metadata by construction); the
    * only shuffle is the self-join on the cluster id, and all pair work
    * is cluster-local. Grow k ∝ n to hold per-cluster occupancy (and so
    * candidate volume per vector) constant — the SemDeDup paper runs
    * 100k clusters; same knob as `bits` in [[cosineDup]]. A degenerate
    * mega-cluster (k far too small, or an embedding-collapse pathology)
    * is dropped from pairing by the same LOUD over-cap guard as every
    * other candidate generator ([[graft.core.Salting.dropOverCap]]).
    */
  def semanticDup(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
                  cents: Array[Array[Double]],
                  scope: graft.core.CacheScope = graft.core.CacheScope.session,
                  maxCluster: Int = 65536): DataFrame = {
    // cache: assignment (k dot products per row) feeds the cap census and
    // both sides of the cluster self-join; release via `scope`
    val base0 = scope.cache(withNorm(emb, idCol, vecCol)
      .withColumn("cluster", bestCentroidCol(col("_v"), cents).cast("long")))
    val base = graft.core.Salting.dropOverCap(
      base0, Seq("cluster"), maxCluster, s"semanticDup(maxCluster=$maxCluster)")
    val l = base.select(col("cluster"), col(idCol).as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val r = base.select(col("cluster"), col(idCol).as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    l.join(r, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cluster", "cos")
  }

  /** [[semanticDup]] with cluster count scaled to the corpus — the
    * SemDeDup recipe at sizes where literal-centroid codegen stops being
    * the right plan. Clusters come from a TWO-LEVEL deterministic seeded
    * quantizer (faiss-style IVF init, no Lloyd refinement): `k = ⌈n /
    * targetOccupancy⌉` total cells; the `k1 = ⌈√k⌉` vectors with the
    * smallest (md5(id), id) are coarse seeds; every vector goes to its
    * nearest coarse seed; within each coarse cell the `k2 = ⌈k/k1⌉`
    * smallest-hash members are fine seeds and every member goes to its
    * nearest fine seed. The cluster key IS the fine seed's vector id
    * (globally unique — each vector lives in exactly one coarse cell), so
    * no global index ranking is ever computed.
    *
    * Scale shape: assignment is n×(k1+k2) = n×2√(n/occ) dot products —
    * SUBQUADRATIC where single-level nearest-of-k assignment would be
    * n×k = n²/occ — done as two broadcast-join probes (coarse seeds are
    * √-sized metadata; fine seeds are cell-local joins on the coarse
    * key). Per-cluster occupancy stays ~`targetOccupancy` as n grows, so
    * in-cluster pair volume stays LINEAR in n — this is the knob the
    * fixed-k [[semanticDup]] documents but cannot turn. Everything is a
    * pure function of ids and vector values: the oracle re-derives the
    * whole construction dynamically from `count(*)`, no frozen-centroid
    * export needed. Seed selection is `orderBy(hash).limit(k1)` — a
    * TakeOrdered of a metadata-sized head, never a global sort of the
    * corpus.
    */
  /** Two-level seed counts for corpus size `n`: total cells
    * `k = ⌈n/occupancy⌉`, coarse `k1 = ⌈√k⌉`, fine-per-cell `k2 = ⌈k/k1⌉`.
    */
  private[llm] def twoLevelKs(n: Long, targetOccupancy: Int): (Int, Int) = {
    val k = math.max(1L, math.ceil(n.toDouble / targetOccupancy).toLong)
    val k1 = math.max(1L, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
    val k2 = math.max(1L, math.ceil(k.toDouble / k1).toLong).toInt
    (k1, k2)
  }

  /** The two-level deterministic seeded quantizer shared by
    * [[semanticDupAuto]] (candidate blocking) and [[ivfTopKAuto]]
    * (inverted-list search). `base` must carry `(_v, _n, _h)` (see the
    * callers) and be cached by the caller — it feeds seed selection and
    * both assignment probes. Returns `(assigned, coarseSeeds, fineSeeds)`:
    * assigned = `(idCol, _v, _n, cluster)` with cluster = the fine seed's
    * id; coarseSeeds = `(_s1, _cv, _cn)`; fineSeeds = `(_c1, _s2, _fv,
    * _fn)`. Nearest-seed argmax everywhere = max of a (score, -seedId)
    * struct — a groupBy+max, map-side combinable, never a per-vector
    * window sort.
    */
  private def twoLevelAssign(base: DataFrame, idCol: String,
                             k1: Int, k2: Int): (DataFrame, DataFrame, DataFrame) = {
    val cs = base.orderBy(col("_h"), col(idCol)).limit(k1)
      .select(col(idCol).as("_s1"), col("_v").as("_cv"), col("_n").as("_cn"))
    val a1 = base.crossJoin(broadcast(cs))
      .withColumn("_m", struct((dot(col("_v"), col("_cv")) / col("_cn")).as("s"),
        (-col("_s1")).as("ns")))
      .groupBy(col(idCol)).agg(max(col("_m")).as("_b"),
        first(col("_v")).as("_v"), first(col("_n")).as("_n"), first(col("_h")).as("_h"))
      .select(col(idCol), col("_v"), col("_n"), col("_h"), (-col("_b.ns")).as("_c1"))
    val w2 = Window.partitionBy("_c1").orderBy(col("_h"), col(idCol))
    val fs = a1.withColumn("_r", row_number().over(w2)).filter(col("_r") <= k2)
      .select(col("_c1"), col(idCol).as("_s2"), col("_v").as("_fv"), col("_n").as("_fn"))
    val a2 = a1.join(fs, "_c1")
      .withColumn("_m", struct((dot(col("_v"), col("_fv")) / col("_fn")).as("s"),
        (-col("_s2")).as("ns")))
      .groupBy(col(idCol)).agg(max(col("_m")).as("_b"),
        first(col("_v")).as("_v"), first(col("_n")).as("_n"))
      .select(col(idCol), col("_v"), col("_n"), (-col("_b.ns")).as("cluster"))
    (a2, cs, fs)
  }

  /** [[withNorm]] plus the seed-selection hash `_h` = md5₃₂ of the id. */
  private def withNormHash(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    withNorm(emb, idCol, vecCol)
      .withColumn("_h", Dedup.md5Hash32(col(idCol).cast("string")))

  def semanticDupAuto(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
                      targetOccupancy: Int = 64,
                      scope: graft.core.CacheScope = graft.core.CacheScope.session,
                      maxCluster: Int = 8192): DataFrame = {
    require(targetOccupancy > 0, "semanticDupAuto: targetOccupancy must be positive")
    val (k1, k2) = twoLevelKs(emb.count(), targetOccupancy)
    // cache: the hashed+normed table feeds seed selection, both assignment
    // probes, and both sides of the pair join; release via `scope`
    val base = scope.cache(withNormHash(emb, idCol, vecCol))
    val (a2, _, _) = twoLevelAssign(base, idCol, k1, k2)
    val capped = graft.core.Salting.dropOverCap(
      a2, Seq("cluster"), maxCluster, s"semanticDupAuto(maxCluster=$maxCluster)")
    val l = capped.select(col("cluster"), col(idCol).as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val r = capped.select(col("cluster"), col(idCol).as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    l.join(r, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cluster", "cos")
  }

  /** IVF approximate top-k over the SAME auto-scaled two-level quantizer
    * as [[semanticDupAuto]] — the search twin of the dedup operator, and
    * the scale path past [[ivfTopK]]'s literal-centroid plan (codegen of
    * k literal arms stops being the right plan in the hundreds; here seeds
    * live in DataFrames and k grows ∝ n). A query probes its
    * `nProbeCoarse` nearest coarse seeds, then the `nProbeFine` nearest
    * fine seeds among those cells, and re-ranks exactly within the probed
    * inverted lists. Same output contract as [[topK]]:
    * `(q_id, idCol, cos, rank)`.
    *
    * Scale shape: the corpus is touched by (1) the quantizer's two
    * broadcast assignment probes and (2) ONE join of the assigned table
    * against the broadcast (query, cluster) probe set — candidate work is
    * inverted-list-local and per-list occupancy stays ~`targetOccupancy`
    * as n grows. Probing MORE lists (recall) costs candidates linearly,
    * never quadratically.
    */
  def ivfTopKAuto(emb: DataFrame, idCol: String, vecCol: String, queryIds: Seq[Long],
                  k: Int, targetOccupancy: Int = 64,
                  nProbeCoarse: Int = 2, nProbeFine: Int = 2,
                  scope: graft.core.CacheScope = graft.core.CacheScope.session): DataFrame = {
    require(k > 0 && nProbeCoarse > 0 && nProbeFine > 0,
      "ivfTopKAuto: k and probe counts must be positive")
    val (k1, k2) = twoLevelKs(emb.count(), targetOccupancy)
    // cache: feeds seed selection, both corpus assignment probes, and the
    // query-side probe scans; release via `scope`
    val base = scope.cache(withNormHash(emb, idCol, vecCol))
    val (asg, cs, fs) = twoLevelAssign(base, idCol, k1, k2)
    ivfAutoSearch(base, asg, cs, fs, idCol, queryIds, k, nProbeCoarse, nProbeFine)
  }

  /** The query-side half of [[ivfTopKAuto]] given an already-built
    * two-level quantizer — factored out so [[ivfAutoProbe]]'s ladder
    * re-probes ONE cached assignment instead of rebuilding the quantizer
    * per candidate config.
    */
  private def ivfAutoSearch(base: DataFrame, asg: DataFrame, cs: DataFrame,
                            fs: DataFrame, idCol: String, queryIds: Seq[Long],
                            k: Int, nProbeCoarse: Int, nProbeFine: Int): DataFrame = {
    val q = base.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("q_id"), col("_v").as("_qv"), col("_n").as("_qn"))
    val w1 = Window.partitionBy("q_id").orderBy(col("_s").desc, col("_s1").asc)
    val q1 = q.crossJoin(broadcast(cs))
      .withColumn("_s", dot(col("_qv"), col("_cv")) / col("_cn"))
      .withColumn("_rn", row_number().over(w1)).filter(col("_rn") <= nProbeCoarse)
      .select(col("q_id"), col("_qv"), col("_qn"), col("_s1").as("_c1"))
    val w2 = Window.partitionBy("q_id").orderBy(col("_s").desc, col("_s2").asc)
    val q2 = q1.join(fs, "_c1")
      .withColumn("_s", dot(col("_qv"), col("_fv")) / col("_fn"))
      .withColumn("_rn", row_number().over(w2)).filter(col("_rn") <= nProbeFine)
      .select(col("q_id"), col("_qv"), col("_qn"), col("_s2").as("cluster"))
    val scored = asg.join(broadcast(q2), Seq("cluster"))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos", round(dot(col("_v"), col("_qv")) / (col("_n") * col("_qn")), 6))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("q_id"), col(idCol), col("cos"), col("_rn").cast("long").as("rank"))
  }

  /** A chosen IVF probe configuration: the smallest ladder rung whose
    * measured mean recall@k over the calibration sample met the target
    * (`recall` is that measurement; `met = false` means even the widest
    * rung fell short and the caller got the widest).
    */
  final case class IvfProbeConfig(nProbeCoarse: Int, nProbeFine: Int,
                                  recall: Double, met: Boolean)

  /** Recall-TARGETED probe auto-config — turn "I need recall ≥ r" into
    * `(nProbeCoarse, nProbeFine)` by MEASURING, not asserting: the
    * [[Dedup.minhashAutoConfig]] doctrine applied to the IVF knobs,
    * with [[recallAtK]] as the objective (the calibration loop every
    * ANN deployment runs before trusting an index). Candidate configs
    * are doubling rungs `(c, f) ∈ {1,2,4,…}²` ordered by candidate
    * volume `c·f` (then balance — widening the FINE probe first at
    * equal volume, since fine lists are the smaller unit); the first
    * rung whose mean recall@k over the calibration queries reaches
    * `targetRecall` wins. Calibration queries are the `nCalib` corpus
    * ids with smallest `(md5(id), id)` — the seed-selection hash, so
    * the sample is deterministic and engine-reproducible.
    *
    * Scale shape: ONE quantizer build (the corpus passes: seed probes +
    * assignment, cached via `scope`), ONE brute-force exact top-k over
    * the calibration queries (the documented price of ground truth —
    * nCalib query rows broadcast against the corpus), then ONE batched
    * job measures every rung's recall against the cached assignment
    * ([[ladderRecalls]] — candidate volume `nCalib · maxC·maxF ·
    * occupancy`, never corpus-shaped). At 100 TB, calibrate on a
    * corpus sample and carry the config to the full index — the config,
    * like the centroids, is a frozen artifact of the build.
    */
  def ivfAutoProbe(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   targetRecall: Double, nCalib: Int = 16,
                   targetOccupancy: Int = 64,
                   maxProbeCoarse: Int = 8, maxProbeFine: Int = 8,
                   scope: graft.core.CacheScope = graft.core.CacheScope.session,
                   knownCount: Option[Long] = None): IvfProbeConfig = {
    require(k > 0, "ivfAutoProbe: k must be positive")
    require(targetRecall > 0 && targetRecall <= 1,
      "ivfAutoProbe: targetRecall must be in (0, 1]")
    require(nCalib > 0 && maxProbeCoarse > 0 && maxProbeFine > 0,
      "ivfAutoProbe: nCalib and probe caps must be positive")
    // knownCount skips the sizing count() when the caller already knows
    // it — metadata-speed on a bare scan, a full extra pass on a
    // filtered/derived corpus (the Classifier.fit knownCount pattern)
    val (k1, k2) = twoLevelKs(knownCount.getOrElse(emb.count()), targetOccupancy)
    val base = scope.cache(withNormHash(emb, idCol, vecCol))
    val (asgRaw, cs, fs) = twoLevelAssign(base, idCol, k1, k2)
    val asg = scope.cache(asgRaw)
    val calIds = base.select(col(idCol), col("_h"))
      .orderBy(col("_h"), col(idCol)).limit(nCalib)
      .collect().map(_.getLong(0)).toSeq // nCalib ids — metadata-sized
    val exact = scope.cache(topK(emb, idCol, vecCol, calIds, k))
    def rungs(cap: Int) = Iterator.iterate(1)(_ * 2).takeWhile(_ <= cap).toSeq
    val ladder = (for (c <- rungs(maxProbeCoarse); f <- rungs(maxProbeFine))
      yield (c, f)).sortBy { case (c, f) => (c.toLong * f, c) }
    // ONE batched job measures EVERY rung: the sequential ladder paid a
    // full probe→re-rank→recall-aggregate→collect chain (≈5 jobs, two
    // window shuffles each) PER rung, and that fixed scheduling cost —
    // not the rung's candidate work (nCalib · c·f · occupancy rows) —
    // dominated the whole calibration. The choice rule is unchanged:
    // first rung in (volume, coarse-width) order whose mean recall
    // meets the target; the widest rung with its recall otherwise.
    val recalls = ladderRecalls(base, asg, cs, fs, exact, idCol, calIds, k,
      rungs(maxProbeCoarse), rungs(maxProbeFine))
    ladder.find { case (c, f) =>
      recalls.getOrElse((c, f), 0.0) >= targetRecall
    } match {
      case Some((c, f)) => IvfProbeConfig(c, f, recalls((c, f)), met = true)
      case None =>
        val (c, f) = ladder.last
        IvfProbeConfig(c, f, recalls.getOrElse((c, f), 0.0), met = false)
    }
  }

  /** Mean recall@k for EVERY rung `(c, f) ∈ cRungs × fRungs` in ONE job
    * over the cached quantizer — the batched form of running
    * [[ivfAutoSearch]] + [[recallAtK]] once per rung. Per-rung results
    * are identical to the sequential search's by construction:
    *
    *  - a probed cell's coarse rank is its row_number in the widest-cap
    *    window, so the rank-≤-c cut IS the per-rung coarse probe set
    *    (rank is prefix-stable under truncation of the same ordering);
    *  - the fine window re-ranks per (query, c) — the fine candidate
    *    set depends on the coarse cut, so fine ranks are NOT
    *    prefix-stable across c and each c gets its own partition;
    *  - each scored candidate fans out (`explode`) to exactly the
    *    f-rungs wide enough to include its fine rank, and one window
    *    per (query, c, f) takes every rung's top-k in a single pass.
    *
    * Everything here is calibration-sample-sized (nCalib × probe caps ×
    * occupancy); the one corpus-shaped input, the cached assignment,
    * is scanned once.
    */
  private def ladderRecalls(base: DataFrame, asg: DataFrame, cs: DataFrame,
                            fs: DataFrame, exact: DataFrame, idCol: String,
                            calIds: Seq[Long], k: Int,
                            cRungs: Seq[Int], fRungs: Seq[Int]): Map[(Int, Int), Double] = {
    val cArr = typedlit(cRungs)
    val fArr = typedlit(fRungs)
    val q = base.filter(col(idCol).isin(calIds: _*))
      .select(col(idCol).as("q_id"), col("_v").as("_qv"), col("_n").as("_qn"))
    val w1 = Window.partitionBy("q_id").orderBy(col("_s").desc, col("_s1").asc)
    val q1 = q.crossJoin(broadcast(cs))
      .withColumn("_s", dot(col("_qv"), col("_cv")) / col("_cn"))
      .withColumn("_rnc", row_number().over(w1)).filter(col("_rnc") <= cRungs.max)
      .withColumn("_c", explode(filter(cArr, c => c >= col("_rnc"))))
      .select(col("q_id"), col("_qv"), col("_qn"), col("_s1").as("_c1"), col("_c"))
    val w2 = Window.partitionBy("q_id", "_c").orderBy(col("_s").desc, col("_s2").asc)
    val q2 = q1.join(fs, "_c1")
      .withColumn("_s", dot(col("_qv"), col("_fv")) / col("_fn"))
      .withColumn("_rnf", row_number().over(w2)).filter(col("_rnf") <= fRungs.max)
      .select(col("q_id"), col("_qv"), col("_qn"), col("_c"), col("_rnf"),
        col("_s2").as("cluster"))
    val scored = asg.join(broadcast(q2), Seq("cluster"))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos", round(dot(col("_v"), col("_qv")) / (col("_n") * col("_qn")), 6))
      .withColumn("_f", explode(filter(fArr, f => f >= col("_rnf"))))
    val w = Window.partitionBy("q_id", "_c", "_f").orderBy(col("cos").desc, col(idCol))
    val approx = scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("_c"), col("_f"), col("q_id"), col(idCol), lit(1).as("_hit"))
    val rows = exact.select(col("q_id"), col(idCol))
      .withColumn("_c", explode(cArr))
      .withColumn("_f", explode(fArr))
      .join(approx, Seq("_c", "_f", "q_id", idCol), "left")
      .groupBy(col("_c"), col("_f"), col("q_id"))
      .agg(count(col("_hit")).as("hits"))
      .select(col("_c"), col("_f"), round(col("hits") / k.toDouble, 6).as("recall"))
      .groupBy(col("_c"), col("_f")).agg(avg(col("recall")).as("_r"))
      .collect()
    rows.map(r => ((r.getInt(0), r.getInt(1)),
      if (r.isNullAt(2)) 0.0 else r.getDouble(2))).toMap
  }

  /** [[cosineDup]] with the granularity chosen by [[lshAutoConfig]] from
    * the ACTUAL corpus size (one `count()` job — a long, not data, reaches
    * the driver): per-bucket occupancy stays ~`targetOccupancy` as the
    * corpus grows, so candidate volume stays linear in n where a fixed
    * `bits` goes quadratic, and `tables` grows to hold the recall floor.
    * This is the operator-level form of the scale knob [[cosineDup]]'s
    * Scaladoc documents; same output contract (id_a, id_b, cos).
    */
  def cosineDupAuto(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
                    targetRecall: Double = 0.9, targetOccupancy: Int = 64,
                    minBits: Int = 4, maxBits: Int = 24, maxTables: Int = 32,
                    scope: graft.core.CacheScope = graft.core.CacheScope.session,
                    maxBucket: Int = 8192): DataFrame =
    cosineDupAutoImpl(emb, idCol, vecCol, threshold, targetRecall,
      targetOccupancy, minBits, maxBits, maxTables, scope, maxBucket,
      probe = None)

  /** ONE code path derives the corpus stats + LSH config for BOTH the
    * full auto run and the probe slice — the documented identity
    * `cosineDupProbe == cosineDupAuto.filter(probe(id_a))` holds by
    * construction, not by keeping two derivations in sync (advisor,
    * round 12).
    */
  private def cosineDupAutoImpl(emb: DataFrame, idCol: String, vecCol: String,
                                threshold: Double, targetRecall: Double,
                                targetOccupancy: Int, minBits: Int, maxBits: Int,
                                maxTables: Int, scope: graft.core.CacheScope,
                                maxBucket: Int,
                                probe: Option[Column => Column]): DataFrame = {
    // one aggregation job for both stats (empty corpus → dim row is null)
    val stats = emb.agg(count(lit(1)), max(size(col(vecCol)))).head()
    val n = stats.getLong(0)
    val dim = if (stats.isNullAt(1)) 1 else stats.getInt(1)
    val cfg = lshAutoConfig(n, threshold, targetRecall, targetOccupancy,
      minBits, maxBits, maxTables)
    cosineDupImpl(emb, idCol, vecCol, threshold,
      hyperplanes(cfg.numPlanes, dim), cfg.bits, cfg.tables, scope, maxBucket,
      probe)
  }

  /** [[cosineDupAuto]] restricted to pairs whose SMALLER id satisfies
    * `probe` — a deterministic audit slice of the near-duplicate pair set.
    *
    * The restriction changes NOTHING about the machinery being exercised:
    * the LSH config still derives from the FULL corpus count, every vector
    * still buckets into every table (the full co-location shuffle), and
    * the mega-bucket cap census runs over the FULL buckets — only the left
    * side of the in-bucket pair scoring filters to the probe set, so the
    * output is exactly `cosineDupAuto(...).filter(probe(id_a))` (pinned by
    * spec) at a pair-stage cost of |probe|/n of the full run.
    *
    * Why this exists: at corpus scales where NO single-node engine can
    * materialize the full pair set (the sf10 DuckDB oracle dies on >79 GB
    * of spill — and so did this operator's pre-round-11 shuffle shape), a
    * deterministic slice is the auditable unit: an independent engine can
    * re-derive the slice exactly and hash-compare it, and a production
    * pipeline can spot-audit 1/k of its dedup decisions per day at 1/k
    * cost. Use a content-hash probe (e.g. `md5(id)` prefix) rather than a
    * modulus so the slice is uncorrelated with any id-assignment scheme.
    */
  def cosineDupProbe(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, probe: Column => Column,
                     targetRecall: Double = 0.9, targetOccupancy: Int = 64,
                     minBits: Int = 4, maxBits: Int = 24, maxTables: Int = 32,
                     scope: graft.core.CacheScope = graft.core.CacheScope.session,
                     maxBucket: Int = 8192): DataFrame =
    cosineDupAutoImpl(emb, idCol, vecCol, threshold, targetRecall,
      targetOccupancy, minBits, maxBits, maxTables, scope, maxBucket,
      probe = Some(probe))

  // ----- product quantization (Jégou et al. 2011, the faiss PQ/ADC recipe) -----

  /** A whole codebook as ONE nested-array Literal node. Expanding m×ksub
    * codewords into per-scalar literal arms (the [[bestCentroidCol]]
    * shape) works at IVF's k=8 but makes Catalyst ANALYSIS of the PQ
    * expressions the dominant cost (~10 s per query at 128 codewords,
    * measured) — the same analysis blowup `ivfTopKAuto`'s Scaladoc
    * warns about, solved the same way: the constants live in one value,
    * the arithmetic in O(1)-size HOFs.
    */
  private def cwLit(book: Array[Array[Double]]): Column =
    typedlit(book.map(_.toSeq).toSeq)

  /** Per-codeword squared-L2 TICK distances of subspace `j` of `v`: an
    * array of ksub longs. The fold runs in dimension order from a 0.0
    * seed — bit-identical to the oracle's written-out left-associated
    * `+` chain (0.0 + t1 == t1 exactly; every term is ≥ 0) — and each
    * distance is quantized to 1e-6 BIGINT ticks (`round` is half-up on
    * non-negative doubles in both engines), so every downstream ADC sum
    * is pure integer arithmetic, immune to float summation order.
    */
  private def subDistTicksArr(v: Column, book: Array[Array[Double]], j: Int): Column = {
    val d = book(0).length
    val sv = slice(v, j * d + 1, d)
    transform(cwLit(book), c =>
      round(aggregate(zip_with(sv, c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t) * lit(1e6)).cast("long"))
  }

  /** PQ code for subspace `j`: index of the L2-nearest codeword,
    * first-index tiebreak — the argmin runs on TICK distances
    * ([[subDistTicksArr]]'s arithmetic) so the comparison the oracle
    * replays is integer-exact. One generated loop,
    * [[graft.functions.PqSubCode]]: left-to-right accumulation, Spark's
    * HALF_UP tick rounding, low-index ties, pinned bit-equal to the HOF
    * argmin by NativeEquivalenceSpec. The native expression is ENCODE's
    * whole cost model: the HOF form allocates per (row, subspace,
    * codeword) and evaluates interpreted (lambdas are CodegenFallback),
    * measured ~7× of the ann_pq query at sf1.
    */
  private def subCode(v: Column, book: Array[Array[Double]], j: Int): Column =
    column(PqSubCode(expression(v), book, j * book(0).length))

  /** Train per-subspace PQ codebooks: `m` subspaces of `dim/m` dims, each
    * with `ksub` codewords from a few L2 Lloyd iterations. Training runs
    * on a DETERMINISTIC sample — the `sampleCap` lowest-`xxhash64(id)`
    * rows (a per-partition top-N heap, no global sort) — because at
    * corpus scale k-means never sees every row (faiss trains PQ on
    * ~O(256·k) samples); encoding DOES see every row, as one projection.
    * Only m×ksub×(dim/m) doubles reach the driver.
    */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, iters: Int = 4,
                  sampleCap: Int = 16384): Array[Array[Array[Double]]] = {
    require(sampleCap >= ksub, s"pqCodebooks: sampleCap < ksub=$ksub")
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m $m")
    val d = dim / m
    // orderBy().limit() materializes as ONE partition — without the
    // repartition every Lloyd iteration would run single-threaded over
    // the cached sample (measured: the whole training cost at sf1)
    val sample = emb
      .select(asDouble(col(vecCol)).as("_v"), xxhash64(col(idCol)).as("_h"))
      .orderBy("_h").limit(sampleCap)
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .cache()
    try {
      // seeds: the ksub lowest-hash sample rows (deterministic across
      // runs and partitionings, the ivfCentroids recipe), sliced per
      // subspace on the driver — ONE job for all m codebooks
      val seedRows = sample.orderBy("_h").limit(ksub).select("_v").collect()
        .map(_.getSeq[Double](0).toArray)
      require(seedRows.length == ksub, s"pqCodebooks: corpus smaller than ksub=$ksub")
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m)(j => seedRows.map(_.slice(j * d, (j + 1) * d)))
      // each Lloyd iteration is ONE aggregation job covering ALL m
      // subspaces (a per-subspace loop would pay m× the fixed job cost
      // for the same shuffle volume): every row explodes to its m
      // (subspace, code, subvector) assignments, then to per-dimension
      // values; m×ksub×d partial means reach the driver. Empty cells
      // keep their previous codeword.
      (0 until iters).foreach { _ =>
        val subStructs = (0 until m).map { j =>
          struct(lit(j).as("_j"), subCode(col("_v"), books(j), j).as("_c"),
            slice(col("_v"), j * d + 1, d).as("_sv"))
        }
        // the d dims aggregate as d COLUMNS of one (j, c) group row — a
        // posexplode here would multiply the aggregated row count by d
        // for the same means (measured ~1.5× of the training pass)
        val sums = sample
          .select(explode(array(subStructs: _*)).as("s"))
          .select(col("s._j").as("_j"), col("s._c").as("_c"), col("s._sv").as("_sv"))
          .groupBy("_j", "_c")
          .agg(avg(col("_sv")(0)).as("_m0"),
            (1 until d).map(i => avg(col("_sv")(i)).as(s"_m$i")): _*)
          .collect()
        val updated = books.map(_.map(_.clone()))
        sums.foreach { r =>
          val (j, c) = (r.getInt(0), r.getInt(1))
          (0 until d).foreach(i => updated(j)(c)(i) = r.getDouble(2 + i))
        }
        books = updated
      }
      books
    } finally sample.unpersist()
  }

  /** Encode the corpus to PQ codes: `(idCol, code_0 … code_{m-1})`, one
    * pure projection — ZERO shuffle at any corpus size. The codes are
    * `m` small ints per vector (m bytes on disk after dictionary/bit
    * packing) vs `dim` floats — a ~dim·4/m compression of the searchable
    * representation; at 100 TB of embeddings that is the difference
    * between an index that fits hot storage and one that doesn't.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[Array[Double]]]): DataFrame = {
    val v = asDouble(col(vecCol))
    val codeCols = books.indices.map(j => subCode(v, books(j), j).as(s"code_$j"))
    emb.select(col(idCol) +: codeCols: _*)
  }

  /** PQ asymmetric-distance top-k: the query keeps its EXACT vector; each
    * corpus vector is represented only by its code, scored as the sum of
    * per-subspace query→codeword distances (ADC). Per query the distance
    * table is ksub×m TICK literals built by the same expression the
    * encoder used, so the scan does m `element_at` lookups + an integer
    * sum per row — no per-row vector math at all. Candidates rank by
    * (adc_ticks ASC, id ASC); output `(q_id, idCol, adc_ticks, rank)`.
    *
    * Plan shape: one codes projection scan × broadcast of the per-query
    * distance tables, then the same per-query top-k window as [[topK]].
    * The approximation is graded against brute force in the ScalaTest
    * spec (recall floor), and the oracle replays encode+ADC exactly.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, queryIds: Seq[Long],
             k: Int, books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val codes = pqEncode(emb, idCol, vecCol, books)
    val v = asDouble(col(vecCol))
    // per-query distance tables: for subspace j an array of ksub tick
    // values, computed DISTRIBUTED on the query rows (metadata-sized
    // result, broadcast to the scan)
    val dtCols = (0 until m).map { j =>
      subDistTicksArr(v, books(j), j).as(s"_dt_$j")
    }
    val qd = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("q_id") +: dtCols: _*)
    val adc = (0 until m).map(j =>
      element_at(col(s"_dt_$j"), col(s"code_$j") + 1)).reduce(_ + _)
    val scored = codes.crossJoin(broadcast(qd))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("adc_ticks", adc)
    // two-phase top-k (TopK.perKey): a single per-query window would
    // concentrate |queries| × |corpus| rows into |queries| tasks; the
    // per-partition pre-truncation ships ≤ k × partitions rows per query
    graft.core.TopK.perKey(
        scored.select(col("q_id"), col(idCol), col("adc_ticks")),
        Seq("q_id"), Seq(col("adc_ticks").asc, col(idCol)), k)
      .select(col("q_id"), col(idCol), col("adc_ticks"), col("rank"))
  }

  /** Recall@k of an approximate neighbor result against the exact one —
    * the measurement every ANN deployment runs before trusting an index
    * (probes/bits/cells are tuned against THIS number, not asserted).
    * Both inputs are `(qCol, idCol)` neighbor tables (extra columns
    * ignored); output `(qCol, hits, recall)` — `hits` the intersection
    * size per query, `recall` = hits / k rounded to 6.
    *
    * Scale shape: recall evaluation always runs over a BOUNDED query
    * sample (the inputs are top-k tables — k·|queries| rows, metadata-
    * sized by construction), so the join here is never data-sized; the
    * corpus cost lives in producing the two inputs, and the exact side
    * is the one brute-force scan you pay to calibrate the cheap path.
    * A query with no approximate results still reports (its exact rows
    * drive the left side).
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, qCol: String,
                idCol: String, k: Int): DataFrame = {
    require(k >= 1, "Similarity.recallAtK: k must be >= 1")
    val hit = approx.select(col(qCol), col(idCol))
      .withColumn("_hit", lit(1))
    exact.select(col(qCol), col(idCol))
      .join(hit, Seq(qCol, idCol), "left")
      .groupBy(qCol).agg(count(col("_hit")).as("hits"))
      .select(col(qCol), col("hits"),
        round(col("hits") / k.toDouble, 6).as("recall"))
  }
}
