package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.analysis.{Pca, Sketches, Stats}
import graft.core.{ColumnMeta, Opset, Profile, RangeJoin, SessionArtifacts}
import graft.llm.MinhashIndex
import graft.dsp.SignalOps
import graft.instants.{Indicators, Selector, Splits}
import graft.instants.Indicators.IndicatorCode
import graft.events.EventOps
import graft.llm.{Dedup, Html, Multimodal, Pipeline, Retrieval, Similarity, TextAnalysis, Web}
import graft.plots.PlotData
import graft.tubes.Tube

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` where the
  * semantics are ANSI-SQL-expressible) per implemented operator of
  * SURVEY.md §2.
  *
  * Conventions shared by every query/oracle pair:
  *   - column names are identical on both sides (the driver sorts columns
  *     by name before hashing);
  *   - every result carries a deterministic ORDER BY on both sides;
  *   - doubles are `round(x, 6)` (or coarser for accumulated sums) so both
  *     engines hash identical values;
  *   - counts / row numbers are cast to BIGINT on both sides.
  */
object SparkEntry {

  // ----- shared query fragments ------------------------------------------

  /** The signal table: `events` viewed as an Opset (record = user id,
    * t = 1-based sample index ordered by (ts, event_id)).
    */
  private def opset(s: SparkSession, dir: String): Opset = Opset.fromEvents(s, dir)

  /** Width-pinned opset for per-record-EXPENSIVE chains (indicator banks,
    * tube estimate/score windows): see Opset.fromEvents(wide = true).
    * Cheap consumers keep the plain form — the pinned exchange costs a
    * sub-second row more in tiny-task churn than the width buys (measured).
    */
  private def opsetWide(s: SparkSession, dir: String): Opset =
    Opset.fromEvents(s, dir, wide = true)

  /** DuckDB CTE equivalent of [[Opset.fromEvents]]. */
  private val OpsetCte =
    """opset AS (
      |  SELECT CAST(user_id AS VARCHAR) AS record,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS t,
      |         event_type, value
      |  FROM events
      |)""".stripMargin

  private val RecordIdxCte =
    """idx AS (
      |  SELECT record, CAST(row_number() OVER (ORDER BY record) - 1 AS BIGINT) AS pos
      |  FROM (SELECT DISTINCT record FROM opset)
      |)""".stripMargin

  /** Argmax instants (0-based position of each record's max value). */
  private val InstantsCte =
    """instants AS (
      |  SELECT record, CAST(t - 1 AS BIGINT) AS i
      |  FROM (SELECT record, t,
      |               row_number() OVER (PARTITION BY record ORDER BY value DESC, t) AS rn
      |        FROM opset)
      |  WHERE rn = 1
      |)""".stripMargin

  // SavGol parameters used by the sg_* queries (records are 49+ samples
  // long at every SF, so w=7 always fits).
  private val SgW = 7
  private val SgDeg = 2
  private val IndSigma = 2.0

  /** lineitem numeric columns for the PCA queries. */
  private val PcaCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  // Instants-pipeline parameters shared by the instants_* queries/oracles.
  private val IndCodes = Seq(
    IndicatorCode("value", 3, 1, 2.0),   // w=7, d=1, upward crossings
    IndicatorCode("value", 3, 1, -2.0),  // downward crossings
    IndicatorCode("value", -3, 1, 2.0),  // reversed variant of the first
  )
  private val InstFeatCols =
    Seq("LEN", "REV", "PERCENT", "value") ++ IndCodes.map(_.name)

  /** Two-signal indicator grid for instants_multi: exercises the fused
    * multi-column bank path (one shared (rn, n) pair, one epsilons job
    * covering BOTH columns' noise floors, both SG chains in the same
    * WindowExec batch).
    */
  private val MultiCodes = Seq(
    IndicatorCode("value", 3, 1, 2.0), // upward crossings of the raw signal
    IndicatorCode("v2", 3, 1, -2.0),   // downward crossings of the squared signal
  )

  /** Indicator bank per sf dir, computed once and cached (all four
    * instants_* queries and the fit below share it — recomputing the
    * window chains per query would multiply the benchmark for no semantic
    * difference). Every shared artifact below lives in [[SessionArtifacts]].
    */
  private def cachedBank(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "bank")(
      Indicators.bank(opsetWide(s, dir).df, "record", "t", IndCodes, SgDeg)._1.cache())

  /** Labels + fitted tree per sf dir: a user fits once and predicts many
    * times, so instants_fit/predict/scores share one fit.
    */
  private def fittedSelector(s: SparkSession, dir: String): (DataFrame, Selector.SelectorModel) = {
    val r = SessionArtifacts.getOrBuild(s, dir, "selector") {
      val selected = Splits.argmaxInstants(opset(s, dir), "value")
      val sel = Selector.fit(cachedBank(s, dir), selected, "record", "t", InstFeatCols)
      (selected, sel)
    }
    // refresh OUTSIDE the miss path: the export is a single most-recent
    // slot, so a cache HIT (dir A queried again after dir B) must still
    // leave the export describing A's tree for the oracle dump
    treeExport = Some(Selector.treeSql(r._2))
    r
  }

  /** SQL export of the most recently fitted tree. Verify runs every query
    * (fitting at the graded dir) BEFORE dumping oracleSql, so the dump
    * carries the exact tree the Spark-side instants_fit/predict/scores
    * results used; until a fit has run the three oracle entries are
    * omitted and the driver records the weaker rows-only check.
    */
  @volatile private var treeExport: Option[String] = None

  /** The tube_fit factor pool and the kept ensemble models, exported at
    * Verify time so the oracle can re-score each model's held-out r2
    * independently (same pattern as [[treeExport]]).
    */
  private val TubeFitPool = Seq("TIME", "TIME2", "SGV", "MEDIAN", "CAUSAL")
  private val TubeFitPct = 0.01 // 1 bucket of 100 trains, the next validates
  private val TubeFitSeed = 42L
  @volatile private var tubeFitExport: Option[Seq[Tube.TubeModel]] = None

  /** text_classifier: hashed-gram dim, the heuristic-quality label
    * threshold (~the corpus median, so labels split evenly), and the
    * trained model exported at Verify time so the oracle re-scores every
    * document from the quantized tick weights (the tubeFitExport
    * pattern).
    */
  private val ClsDim = 512
  private val ClsLabelThreshold = 0.78
  // Per-label exact-k training budget: fit cost is a function of this
  // cap, not the corpus — the oracle re-scores from the exported ticks
  // either way, so the cap is graded transparently.
  private val ClsTrainCap = 2048

  // Model trained INSIDE the composed pipe_funnel run (on extracted
  // text), exported for its oracle exactly like clsExport.
  @volatile private var funnelClsExport: Option[graft.llm.Classifier.TextClassifierModel] = None
  @volatile private var clsExport: Option[graft.llm.Classifier.TextClassifierModel] = None

  /** pca_circle's eigenvectors (rows) + row count, exported at Verify
    * time; eigenVALUES are deliberately NOT exported — the oracle
    * re-derives them from its own correlation matrix.
    */
  @volatile private var pcaEigenExport: Option[(Array[Array[Double]], Long)] = None

  /** Predicted instants per sf dir (belief + argmax over the cached bank),
    * shared by instants_predict and instants_scores.
    */
  private def computedInstants(s: SparkSession, dir: String): DataFrame = {
    // fittedSelector refreshes treeExport even on ITS cache hit; call it
    // here unconditionally (not only in the miss path) so a cache HIT at
    // dir A after a fit at dir B still leaves the export describing A's
    // tree for the oracle dump.
    val (_, sel) = fittedSelector(s, dir)
    SessionArtifacts.getOrBuild(s, dir, "computed")(
      Selector.predictInstants(
        Selector.belief(sel, cachedBank(s, dir), "record", "t"), "record", "t").cache())
  }

  /** MinHash near-dup pairs per sf dir, computed once and cached:
    * dedup_clusters consumes the SAME pair table dedup_minhash_pairs
    * grades (real usage: pair once, then cluster), so the shingle →
    * signature → band chain runs once per session/dir, not once per query.
    */
  private def cachedMinhashPairs(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "pairs") {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.minhashLsh(docs, "doc_id", "text",
        MhShingle, MhHashes, MhBands, MhThreshold,
        graft.core.CacheScope.session).cache()
    }

  /** Perceptual-hash table per sf dir, computed once and cached: the
    * pair and cluster queries consume the SAME hash table mm_phash
    * grades (real usage: decode + hash the image corpus once, then pair,
    * then cluster), so the PNG decode — the dominant cost of all three —
    * runs once per session/dir instead of once per query.
    */
  private def cachedImageHashes(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "phash")(
      Multimodal.imageHashes(phashFixture(s, dir)).toDF().cache())

  /** Co-purchase edge pairs per sf dir, computed once and cached: FIVE
    * graph queries (triangles, clustering, both probes, kcore) analyze
    * the SAME graph — real usage builds the edge list once, then runs
    * each analysis over it — so the lineitem self-join that derives it
    * runs once per session/dir instead of once per query.
    */
  private def cachedCoPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "graphEdges") {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_linenumber") <= TriMaxLine)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.select(col("ok"), col("pk").as("p1"))
        .join(li.select(col("ok").as("ok2"), col("pk").as("p2")),
          col("ok") === col("ok2") && col("p1") < col("p2"))
        .select("p1", "p2").cache()
    }

  /** Full and probe-sliced triangle tables per sf dir, cached: the
    * clustering twins consume the SAME numerator their triangle queries
    * grade ("count triangles once, then coefficient" — the phash
    * doctrine), so wedge generation, the dominant cost, runs once.
    */
  private def cachedTriangles(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "tri")(
      graft.graph.Graph.triangles(cachedCoPurchaseEdges(s, dir), "p1", "p2").cache())
  private def cachedTrianglesProbe(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "triProbe")(
      graft.graph.Graph.trianglesProbe(cachedCoPurchaseEdges(s, dir), "p1", "p2",
        a => substring(md5(a.cast("string")), 1, 1) === GraphProbeResidue).cache())

  /** IVF coarse-quantizer centroids (k = IvfK, IvfIters Lloyd rounds) per
    * sf dir, trained once and cached: FIVE ivf queries (ann_ivf,
    * ann_recall, ann_indexed, ann_indexed_append, stream_ivf_assign) each
    * deterministically train the SAME quantizer over the same corpus —
    * real usage trains it once and FREEZES it in the index artifact
    * (writeIvfIndex's `_graft_centroids.txt` doctrine). The cached value
    * is a metadata-sized driver array (k × dim doubles), dropped with the
    * session caches between bench passes like every other memoized model.
    */
  private def cachedIvfCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    SessionArtifacts.getOrBuild(s, dir, "centroid")(
      Similarity.ivfCentroids(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        k = IvfK, iters = IvfIters))

  /** DSIR importance weights per sf dir, computed once and cached: both
    * resampling twins (top-k and histogram-threshold) consume the SAME
    * weight table dsir_weights grades — real usage weighs the corpus
    * once, then draws samples — so the gram-bucket census runs once per
    * session/dir instead of once per query.
    */
  private def cachedDsirWeights(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "dsir") {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Pipeline.importanceWeights(docs,
        docs.filter(col("source") === DsirTargetSource),
        "doc_id", "text", Seq(1, 2), DsirBuckets).cache()
    }

  /** Drop every memoized plan/model bound to `s` and unpersist its cached
    * data. Bench calls this between timing passes so every pass is a cold
    * run; long-lived sessions can call it to release driver/executor memory.
    */
  def clearSessionCaches(s: SparkSession): Unit = SessionArtifacts.clear(s)

  /** Recursively delete a directory tree now; missing paths are fine. */
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }

  /** Register a directory tree for recursive deletion at JVM exit — for
    * per-invocation staging dirs the returned lazy plan still reads from.
    */
  private def deleteAtExit(p: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))

  /** Run a bounded stream replay (build → start → awaitTermination) with
    * `spark.sql.shuffle.partitions` — which for a streaming query is the
    * STATE STORE width, frozen into the checkpoint at first start —
    * derived from the replayed input's size instead of inherited from the
    * session's core count. This is the production doctrine: state
    * partition count is a per-query artifact sized by expected state
    * volume when the checkpoint is created (it CANNOT follow the executor
    * count of the moment — Spark refuses to re-partition existing state),
    * so sizing it by core count was the arbitrary choice, not this.
    * Operationally each micro-batch pays per state partition (delta file
    * + commit + sink part-file), so an over-wide tiny stream spends its
    * whole wall on file ops (measured: 32-wide state on a 2 MB replay ran
    * ~1.6× slower than data-derived width across the stream suite).
    * ~8 MB of compressed input per partition keeps partitions in the
    * guide's efficient range at any scale; the session width is restored
    * on exit (the graded read-back below runs at session settings).
    */
  private def withStreamWidth[T](s: SparkSession, inputPath: String)(body: => T): T = {
    val width = math.max(1L,
      math.min(32768L, regularFileBytes(inputPath) / (8L << 20) + 1)).toString
    // The override is session-global and the streaming plans are built on
    // `s` (a child session would not see them), so the set/run/restore is
    // serialized per session: two overlapping replays would otherwise
    // race the shared conf. The harness runs queries sequentially — the
    // lock is insurance for a concurrent caller, at worst serializing its
    // replays; truly concurrent streams should use separate sessions with
    // pinned widths (the stream_ij pattern).
    widthLocks.computeIfAbsent(s, _ => new Object).synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", width)
      try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  private val widthLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Object]())

  /** Total size of the regular files under `path` (the path itself if it
    * is one). `File.length` on a DIRECTORY-shaped dataset (any
    * Spark-written parquet) returns the directory inode size (~4 KB) and
    * would silently collapse a stream's state width to 1 partition; the
    * testdata inputs are single files today, but the width derivation
    * must not degrade if the fixture shape changes.
    */
  private def regularFileBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally s.close()
    }
  }

  /** DuckDB CTEs computing the epsilon noise floor of column `x` of
    * relation `src` for (w=SgW, d=1): max over records of
    * stddev_pop(SG_w(x,1) − SG_{2w+1}(SG_w(x,1), 1)). Final relation
    * `${p}ev` has the single scalar column `eps`; `p` prefixes every CTE
    * so several epsilon chains can coexist in one query.
    */
  private def epsilonCtesFor(src: String, x: String, p: String): String = {
    val (b, bRel) = SignalOps.sgOracleCtes(src, x, "record", "t", SgW, SgDeg, 1, "_eb", s"${p}e1")
    val (c, cRel) = SignalOps.sgOracleCtes(bRel, "_eb", "record", "t", 2 * SgW + 1, SgDeg, 1, "_ec", s"${p}e2")
    s"""$b, $c, ${p}erd AS (
       |  SELECT b.record, b.t, b._eb - c._ec AS r
       |  FROM $bRel b JOIN $cRel c ON b.record = c.record AND b.t = c.t
       |), ${p}esd AS (
       |  SELECT record, stddev_pop(r) AS s FROM ${p}erd GROUP BY record
       |), ${p}ev AS (
       |  SELECT max(s) AS eps FROM ${p}esd
       |)""".stripMargin
  }

  /** The single-signal epsilon chain every instants_* oracle shares
    * (relation `ev`).
    */
  private def epsilonCtes: String = epsilonCtesFor("opset", "value", "")

  /** The instants_multi oracle: two independent epsilon chains (raw
    * `value`, derived `v2 = value²`) and two indicator chains over the
    * same two-signal relation, joined per (record, t) — the DuckDB twin
    * of [[graft.instants.Indicators.bank]]'s multi-column path.
    */
  private def instantsMultiOracle: String = {
    val w = 2 * 3 + 1
    val (i1, r1) = SignalOps.indicatorOracleCtes("op2", "value", "record", "t",
      w, SgDeg, 1, "_sg > 2.0 * (SELECT eps FROM ev)", "m1")
    val (i2, r2) = SignalOps.indicatorOracleCtes("op2", "v2", "record", "t",
      w, SgDeg, 1, "_sg < -2.0 * (SELECT eps FROM v2ev)", "m2")
    s"""WITH $OpsetCte, op2 AS (
       |  SELECT record, t, value, value * value AS v2 FROM opset
       |), ${epsilonCtesFor("op2", "value", "")}, ${epsilonCtesFor("op2", "v2", "v2")}, $i1, $i2
       |SELECT z1.record, z1.t, round(z1.z, 6) AS "${MultiCodes(0).name}",
       |       round(z2.z, 6) AS "${MultiCodes(1).name}"
       |FROM $r1 z1 JOIN $r2 z2 ON z1.record = z2.record AND z1.t = z2.t
       |ORDER BY z1.record, z1.t""".stripMargin
  }

  /** DuckDB CTE chain computing the UNROUNDED indicator bank — the instants
    * feature columns exactly as Spark's cachedBank computes them; final
    * relation `bankq`. Shared by instants_features (which rounds in its
    * final select) and the tree-export oracles (which must evaluate the
    * tree CASE on unrounded features, as spark.ml's transform does).
    */
  private def bankOracleCtes: String = {
    val w = 2 * 3 + 1
    val (i1, r1) = SignalOps.indicatorOracleCtes("opset", "value", "record", "t",
      w, SgDeg, 1, "_sg > 2.0 * (SELECT eps FROM ev)", "i1")
    val (i2, r2) = SignalOps.indicatorOracleCtes("opset", "value", "record", "t",
      w, SgDeg, 1, "_sg < -2.0 * (SELECT eps FROM ev)", "i2")
    s"""$epsilonCtes, $i1, $i2, pos AS (
       |  SELECT record, t, value,
       |         CAST(t - 1 AS DOUBLE) AS "LEN",
       |         CAST(count(*) OVER (PARTITION BY record) - t AS DOUBLE) AS "REV",
       |         CASE WHEN count(*) OVER (PARTITION BY record) > 1
       |              THEN CAST(t - 1 AS DOUBLE) / CAST(count(*) OVER (PARTITION BY record) - 1 AS DOUBLE)
       |              ELSE 0.0 END AS pct
       |  FROM opset
       |), bankq AS (
       |  SELECT p.record, p.t, p.value, p."LEN", p."REV", p.pct AS "PERCENT",
       |         z1.z AS "${IndCodes(0).name}",
       |         z2.z AS "${IndCodes(1).name}",
       |         (last_value(z1.z) OVER (PARTITION BY p.record ORDER BY p.t ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) - z1.z AS "${IndCodes(2).name}"
       |  FROM pos p JOIN $r1 z1 ON p.record = z1.record AND p.t = z1.t
       |             JOIN $r2 z2 ON p.record = z2.record AND p.t = z2.t
       |)""".stripMargin
  }

  /** DuckDB CTE chain turning the tree's per-sample class into a predicted
    * instant, mirroring [[Selector.belief]] (w=21, deg 2, deriv 1 SG of the
    * ±1 class signal, positive part, per-record normalization) and
    * [[Selector.predictInstants]] (argmax of the belief rounded to
    * `Selector.BeliefTieDecimals`, first-max tiebreak — the rounding keeps
    * a one-ulp FP plateau tie from resolving differently per engine).
    * Relations:
    * `ipq` (±1 class signal), `predq` (record, i).
    */
  private def treePredictCtes(tree: String): String = {
    val (dp, dpRel) = SignalOps.sgOracleCtes("ipq", "_ip", "record", "t", 21, SgDeg, 1, "_dp", "bl")
    // the abs(_dp) <= 1e-12 floor mirrors Selector.BeliefNoiseFloor: SG of
    // a constant class signal is cancellation noise the engines order
    // differently; both must agree it is exactly zero
    val pSql = "greatest(CASE WHEN abs(_dp) <= 1.0e-12 THEN 0.0 ELSE _dp END, 0.0)"
    s"""ipq AS (
       |  SELECT record, t, ($tree) * 2 - 1 AS _ip FROM bankq
       |), $dp, belq AS (
       |  SELECT record, t, $pSql AS p,
       |         sum($pSql) OVER (PARTITION BY record) AS z
       |  FROM $dpRel
       |), predq AS (
       |  SELECT record, CAST(t - 1 AS BIGINT) AS i FROM (
       |    SELECT record, t,
       |           row_number() OVER (PARTITION BY record
       |             ORDER BY round(p / (CASE WHEN z = 0.0 THEN 1.0 ELSE z END),
       |                            ${Selector.BeliefTieDecimals}) DESC, t) AS rn
       |    FROM belq
       |  ) WHERE rn = 1
       |)""".stripMargin
  }

  /** The three tree-pipeline oracles, derivable only once a fit has run
    * (the tree CASE is data-dependent); merged into [[oracleSql]].
    */
  private def treeOracles: Map[String, String] = treeExport match {
    case None => Map.empty
    case Some(tree) => Map(
      "instants_fit" ->
        s"""WITH $OpsetCte, $bankOracleCtes
           |SELECT record, t, CAST(($tree) AS BIGINT) AS cls
           |FROM bankq ORDER BY record, t""".stripMargin,
      "instants_predict" ->
        s"""WITH $OpsetCte, $bankOracleCtes, ${treePredictCtes(tree)}
           |SELECT record, i FROM predq ORDER BY record""".stripMargin,
      "instants_scores" ->
        s"""WITH $OpsetCte, $bankOracleCtes, ${treePredictCtes(tree)}, $InstantsCte
           |SELECT s.record, s.i AS t0, p.i AS t1, p.i - s.i AS gap
           |FROM instants s JOIN predq p USING (record)
           |ORDER BY s.record""".stripMargin,
    )
  }

  /** The ann_ivf oracle over the frozen centroids, mirroring
    * [[Similarity.ivfTopK]]: per-(vector, centroid) scores, assignment by
    * (score DESC, index ASC), query probes by (score DESC, index DESC) —
    * the exact tiebreaks of the Spark side's struct array_sorts — then
    * exact cosine re-rank within the probed lists.
    */
  private def ivfOracle: Map[String, String] = ivfCentsExport match {
    case None => Map.empty
    case Some(cents) =>
      val arms = cents.zipWithIndex.map { case (c, i) =>
        val cn = math.sqrt(c.map(x => x * x).sum)
        val clit = c.mkString("[", ", ", "]::DOUBLE[]")
        s"SELECT vec_id, $i AS i, ${dotSql("v", s"($clit)")} / $cn AS s FROM nrm"
      }.mkString("\n  UNION ALL\n  ")
      // ann_indexed answers the SAME search through the cell-partitioned
      // index layout — its oracle is the identical frozen-centroid SQL;
      // ann_indexed_append builds that layout in two batches (append under
      // the frozen centroids is result-identical by construction).
      val keys = Seq("ann_ivf", "ann_indexed", "ann_indexed_append")
      // shared frozen-centroid CTE chain up to the approximate score set —
      // reused verbatim by the ann_recall composition below
      val ivfChain =
        s"""csc AS (
           |  $arms
           |), asg AS (
           |  SELECT vec_id, i AS c FROM (
           |    SELECT vec_id, i,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
           |    FROM csc
           |  ) WHERE rn = 1
           |), prb AS (
           |  SELECT vec_id AS q_id, i AS c FROM (
           |    SELECT vec_id, i,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i DESC) AS rn
           |    FROM csc WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
           |  ) WHERE rn <= $IvfProbe
           |), q AS (
           |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
           |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
           |), cand AS (
           |  SELECT p.q_id, a.vec_id
           |  FROM prb p JOIN asg a ON a.c = p.c
           |  WHERE a.vec_id <> p.q_id
           |), scored AS (
           |  SELECT c.q_id, c.vec_id,
           |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
           |  FROM cand c JOIN nrm ON nrm.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id
           |)""".stripMargin
      val ivfTopkSql =
        s"""WITH $EmbCte, $ivfChain
           |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
           |  FROM scored
           |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin
      val recallSql =
        s"""WITH $EmbCte, $ivfChain, ivfk AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
           |    FROM scored
           |  ) WHERE rn <= $AnnK
           |), bscored AS (
           |  SELECT q.q_id, nrm.vec_id,
           |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
           |  FROM nrm CROSS JOIN q WHERE nrm.vec_id <> q.q_id
           |), bk AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
           |    FROM bscored
           |  ) WHERE rn <= $AnnK
           |)
           |SELECT b.q_id AS q_id, CAST(count(i.vec_id) AS BIGINT) AS hits,
           |       round(count(i.vec_id) / CAST($AnnK AS DOUBLE), 6) AS recall
           |FROM bk b LEFT JOIN ivfk i ON i.q_id = b.q_id AND i.vec_id = b.vec_id
           |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin
      (keys.map(_ -> ivfTopkSql) :+ ("ann_recall" -> recallSql)).toMap ++
      // the streamed cell-partitioned landing grades against the SAME
      // frozen-centroid assignment, projected to (vec_id, cell)
      Map("stream_ivf_assign" ->
        s"""WITH $EmbCte, csc AS (
           |  $arms
           |)
           |SELECT vec_id, CAST(i AS BIGINT) AS cell FROM (
           |  SELECT vec_id, i,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
           |  FROM csc
           |) WHERE rn = 1 ORDER BY vec_id""".stripMargin)
  }

  /** The ann_pq oracle over the frozen PQ codebooks, mirroring
    * [[Similarity.pqTopK]] integer-exactly: per-(vector, subspace,
    * codeword) squared-L2 TICKS (the same global-index `+` chain and
    * half-up 1e-6 quantization as the Spark expressions), encode =
    * argmin (ticks ASC, codeword ASC) per (vector, subspace), ADC =
    * integer sum of the query's tick to each candidate's codeword.
    */
  private def pqOracle: Map[String, String] = pqBooksExport match {
    case None => Map.empty
    case Some(books) =>
      val d = books(0)(0).length
      val arms = (for {
        j <- books.indices
        (c, i) <- books(j).zipWithIndex
      } yield {
        val dexpr = (0 until d).map { dd =>
          val g = j * d + dd + 1
          s"(v[$g] - (${c(dd)})) * (v[$g] - (${c(dd)}))"
        }.mkString(" + ")
        s"SELECT vec_id, $j AS j, $i AS i, CAST(round(($dexpr) * 1000000.0) AS BIGINT) AS t FROM emb"
      }).mkString("\n  UNION ALL\n  ")
      Map("ann_pq" ->
        s"""WITH $EmbCte, dst AS (
           |  $arms
           |), cod AS (
           |  SELECT vec_id, j, i AS c FROM (
           |    SELECT vec_id, j, i,
           |           row_number() OVER (PARTITION BY vec_id, j ORDER BY t ASC, i ASC) AS rn
           |    FROM dst
           |  ) WHERE rn = 1
           |), qdt AS (
           |  SELECT vec_id AS q_id, j, i, t FROM dst
           |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
           |), adc AS (
           |  SELECT q.q_id, c.vec_id, CAST(sum(q.t) AS BIGINT) AS adc_ticks
           |  FROM cod c JOIN qdt q ON q.j = c.j AND q.i = c.c
           |  WHERE c.vec_id <> q.q_id
           |  GROUP BY q.q_id, c.vec_id
           |)
           |SELECT q_id, vec_id, adc_ticks, CAST(rn AS BIGINT) AS rank FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_ticks ASC, vec_id ASC) AS rn
           |  FROM adc
           |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin)
  }

  /** The dedup_semantic oracle over the frozen SemDeDup centroids,
    * mirroring [[Similarity.semanticDup]]: per-(vector, centroid) scores,
    * assignment by (score DESC, index ASC) — [[Similarity.bestCentroidCol]]'s
    * tiebreak — then within-cluster pairs with exact cosine ≥ threshold.
    */
  private def semOracle: Map[String, String] = semCentsExport match {
    case None => Map.empty
    case Some(cents) =>
      val arms = cents.zipWithIndex.map { case (c, i) =>
        val cn = math.sqrt(c.map(x => x * x).sum)
        val clit = c.mkString("[", ", ", "]::DOUBLE[]")
        s"SELECT vec_id, $i AS i, ${dotSql("v", s"($clit)")} / $cn AS s FROM nrm"
      }.mkString("\n  UNION ALL\n  ")
      Map("dedup_semantic" ->
        s"""WITH $EmbCte, csc AS (
           |  $arms
           |), asg AS (
           |  SELECT vec_id, i AS c FROM (
           |    SELECT vec_id, i,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
           |    FROM csc
           |  ) WHERE rn = 1
           |), prs AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(la.c AS BIGINT) AS cluster,
           |         round(${dotSql("a.v", "b.v")} / (a.n * b.n), 6) AS cos
           |  FROM asg la JOIN asg lb ON la.c = lb.c AND la.vec_id < lb.vec_id
           |       JOIN nrm a ON a.vec_id = la.vec_id
           |       JOIN nrm b ON b.vec_id = lb.vec_id
           |)
           |SELECT id_a, id_b, cluster, cos FROM prs
           |WHERE cos >= $SemThreshold ORDER BY id_a, id_b""".stripMargin)
  }

  /** [[semOracle]]'s twin over TEXT-derived vectors: the txtEmbChain
    * re-derives every embedding integer, then the identical
    * frozen-quantizer assign + cluster-blocked pair chain runs over them.
    */
  private def semTextOracle: Map[String, String] = semTextCentsExport match {
    case None => Map.empty
    case Some(cents) =>
      val arms = cents.zipWithIndex.map { case (c, i) =>
        val cn = math.sqrt(c.map(x => x * x).sum)
        val clit = c.mkString("[", ", ", "]::DOUBLE[]")
        s"SELECT vec_id, $i AS i, ${dotSql("v", s"($clit)")} / $cn AS s FROM nrm"
      }.mkString("\n  UNION ALL\n  ")
      Map("dedup_text" ->
        s"""WITH $txtEmbChain, ev AS (
           |  SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v
           |  FROM dense GROUP BY doc_id
           |), nrm AS (
           |  SELECT doc_id AS vec_id, v, sqrt(${dotSql("v", "v")}) AS n FROM ev
           |), csc AS (
           |  $arms
           |), asg AS (
           |  SELECT vec_id, i AS c FROM (
           |    SELECT vec_id, i,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
           |    FROM csc
           |  ) WHERE rn = 1
           |), prs AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(la.c AS BIGINT) AS cluster,
           |         round(${dotSql("a.v", "b.v")} / (a.n * b.n), 6) AS cos
           |  FROM asg la JOIN asg lb ON la.c = lb.c AND la.vec_id < lb.vec_id
           |       JOIN nrm a ON a.vec_id = la.vec_id
           |       JOIN nrm b ON b.vec_id = lb.vec_id
           |)
           |SELECT id_a, id_b, cluster, cos FROM prs
           |WHERE cos >= $TxtSemThreshold ORDER BY id_a, id_b""".stripMargin)
  }

  // Tube parameters shared by the tube_* queries/oracles.
  private val TubeQ = Tube.TubeFactor // 2.0
  private val TubeFactors = Seq("TIME", "TIME2", "SGV")

  /** Opset signal + derived tube factors: TIME (0-based index), TIME²,
    * and the SG-smoothed signal (records shorter than the SG window drop,
    * matching the sgDf contract).
    */
  private def tubeBase(s: SparkSession, dir: String): DataFrame =
    SignalOps.sgDf(opsetWide(s, dir).df, "value", "record", "t", SgW, SgDeg, 0, "SGV")
      .withColumn("TIME", (col("t") - 1).cast("double"))
      .withColumn("TIME2", col("TIME") * col("TIME"))

  private def olsB1Sql(sx: String, sxx: String, sxy: String): String =
    s"CASE WHEN abs(n * $sxx - $sx * $sx) > 1e-9 THEN (n * $sxy - $sx * sy) / (n * $sxx - $sx * $sx) ELSE 0.0 END"

  /** DuckDB CTE chain mirroring [[Tube.estimate]] over [[tubeBase]] with
    * the three TubeFactors; final relation `est` exposes
    * (record, t, y, z, zmin, zmax) unrounded. Arithmetic is written in the
    * exact operation order of the Spark side so both engines round the
    * same doubles.
    */
  private def tubeEstimateCtes: String = {
    val (sgCtes, sgRel) = SignalOps.sgOracleCtes("opset", "value", "record", "t", SgW, SgDeg, 0, "sgv")
    s"""$sgCtes, tb AS (
       |  SELECT o.record, o.t, o.value AS y,
       |         CAST(o.t - 1 AS DOUBLE) AS tm,
       |         CAST(o.t - 1 AS DOUBLE) * CAST(o.t - 1 AS DOUBLE) AS tm2,
       |         s.sgv AS sgv
       |  FROM opset o JOIN $sgRel s ON o.record = s.record AND o.t = s.t
       |), ts AS (
       |  SELECT record, t, y, tm, tm2, sgv,
       |         CAST(count(*) OVER wr AS DOUBLE) AS n,
       |         sum(y) OVER wr AS sy,
       |         sum(tm) OVER wr AS sx1, sum(tm * tm) OVER wr AS sxx1, sum(tm * y) OVER wr AS sxy1,
       |         sum(tm2) OVER wr AS sx2, sum(tm2 * tm2) OVER wr AS sxx2, sum(tm2 * y) OVER wr AS sxy2,
       |         sum(sgv) OVER wr AS sx3, sum(sgv * sgv) OVER wr AS sxx3, sum(sgv * y) OVER wr AS sxy3
       |  FROM tb WINDOW wr AS (PARTITION BY record)
       |), tc AS (
       |  SELECT record, t, y, tm, tm2, sgv, n, sy, sx1, sx2, sx3,
       |         ${olsB1Sql("sx1", "sxx1", "sxy1")} AS b11,
       |         ${olsB1Sql("sx2", "sxx2", "sxy2")} AS b12,
       |         ${olsB1Sql("sx3", "sxx3", "sxy3")} AS b13
       |  FROM ts
       |), tp AS (
       |  SELECT record, t, y,
       |         (sy - b11 * sx1) / n + b11 * tm AS p1,
       |         (sy - b12 * sx2) / n + b12 * tm2 AS p2,
       |         (sy - b13 * sx3) / n + b13 * sgv AS p3
       |  FROM tc
       |), tz AS (
       |  SELECT record, t, y, (p1 + p2 + p3) / 3 AS z,
       |         least(least(p1, p2), p3) AS pmin,
       |         greatest(greatest(p1, p2), p3) AS pmax
       |  FROM tp
       |), est AS (
       |  SELECT record, t, y, z,
       |         z - $TubeQ * (z - pmin) AS zmin,
       |         z + $TubeQ * (pmax - z) AS zmax
       |  FROM tz
       |)""".stripMargin
  }

  /** DuckDB twin of [[Tube.scoresMatrix]] over [[tubeBase]] with targets
    * `value ~ (TIME, TIME2, SGV)` and `SGV ~ (TIME, TIME2)` — the same
    * single window pass (one `wr` spec), arithmetic written in the Spark
    * expressions' operation order.
    */
  private def tubeScoresMultiSql: String = {
    val (sgCtes, sgRel) = SignalOps.sgOracleCtes("opset", "value", "record", "t", SgW, SgDeg, 0, "sgv")
    def b1Sql(sx: String, sxx: String, sxy: String, sy: String): String =
      s"CASE WHEN abs(n * $sxx - $sx * $sx) > 1e-9 THEN (n * $sxy - $sx * $sy) / (n * $sxx - $sx * $sx) ELSE 0.0 END"
    s"""WITH $OpsetCte, $sgCtes, tb AS (
       |  SELECT o.record, o.t, o.value AS y,
       |         CAST(o.t - 1 AS DOUBLE) AS tm,
       |         CAST(o.t - 1 AS DOUBLE) * CAST(o.t - 1 AS DOUBLE) AS tm2,
       |         s.sgv AS sgv
       |  FROM opset o JOIN $sgRel s ON o.record = s.record AND o.t = s.t
       |), ts AS (
       |  SELECT record, t, y, tm, tm2, sgv,
       |         CAST(count(*) OVER wr AS DOUBLE) AS n,
       |         sum(y) OVER wr AS sy,
       |         sum(tm) OVER wr AS sx1, sum(tm * tm) OVER wr AS sxx1, sum(tm * y) OVER wr AS sxy1,
       |         sum(tm2) OVER wr AS sx2, sum(tm2 * tm2) OVER wr AS sxx2, sum(tm2 * y) OVER wr AS sxy2,
       |         sum(sgv) OVER wr AS sx3, sum(sgv * sgv) OVER wr AS sxx3, sum(sgv * y) OVER wr AS sxy3,
       |         sum(sgv) OVER wr AS sy2,
       |         sum(tm * sgv) OVER wr AS sxyb1,
       |         sum(tm2 * sgv) OVER wr AS sxyb2
       |  FROM tb WINDOW wr AS (PARTITION BY record)
       |), tc AS (
       |  SELECT record, t, y, tm, tm2, sgv, n, sy, sy2, sx1, sx2, sx3,
       |         ${b1Sql("sx1", "sxx1", "sxy1", "sy")} AS b11,
       |         ${b1Sql("sx2", "sxx2", "sxy2", "sy")} AS b12,
       |         ${b1Sql("sx3", "sxx3", "sxy3", "sy")} AS b13,
       |         ${b1Sql("sx1", "sxx1", "sxyb1", "sy2")} AS b21,
       |         ${b1Sql("sx2", "sxx2", "sxyb2", "sy2")} AS b22
       |  FROM ts
       |), tp AS (
       |  SELECT record, t, y, sgv,
       |         (sy - b11 * sx1) / n + b11 * tm AS p11,
       |         (sy - b12 * sx2) / n + b12 * tm2 AS p12,
       |         (sy - b13 * sx3) / n + b13 * sgv AS p13,
       |         (sy2 - b21 * sx1) / n + b21 * tm AS p21,
       |         (sy2 - b22 * sx2) / n + b22 * tm2 AS p22
       |  FROM tc
       |), tz AS (
       |  SELECT record, t, y, sgv,
       |         (p11 + p12 + p13) / 3 AS z1,
       |         least(least(p11, p12), p13) AS pmin1,
       |         greatest(greatest(p11, p12), p13) AS pmax1,
       |         (p21 + p22) / 2 AS z2,
       |         least(p21, p22) AS pmin2,
       |         greatest(p21, p22) AS pmax2
       |  FROM tp
       |), est AS (
       |  SELECT record, t, y, sgv,
       |         z1 - $TubeQ * (z1 - pmin1) AS zmin1, z1 + $TubeQ * (pmax1 - z1) AS zmax1,
       |         z2 - $TubeQ * (z2 - pmin2) AS zmin2, z2 + $TubeQ * (pmax2 - z2) AS zmax2
       |  FROM tz
       |)
       |SELECT record, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(CASE WHEN y > zmax1 OR y < zmin1 THEN 1 ELSE 0 END) AS BIGINT) AS value,
       |       CAST(sum(CASE WHEN sgv > zmax2 OR sgv < zmin2 THEN 1 ELSE 0 END) AS BIGINT) AS "SGV"
       |FROM est GROUP BY record ORDER BY record""".stripMargin
  }

  /** The pca_circle oracle: DuckDB computes its OWN correlation matrix of
    * [[PcaCols]], recovers eigenvalue k as the Rayleigh quotient
    * `v_k' C v_k` of the exported (unit) eigenvector, and re-derives the
    * loadings `v_ik * sqrt(max(lambda_k * n/(n-1), 0))` and EVR
    * `lambda_k / sum(lambda)`. The Jacobi sweep converges off-diagonals
    * to ~1e-12 (Pca.jacobiEigen), so the recovered eigenvalues agree with
    * the Spark side's far inside the shared round-6.
    */
  private def pcaCircleOracle: Map[String, String] = pcaEigenExport match {
    case None => Map.empty
    case Some((vecs, _)) =>
      val p = PcaCols.size
      def cName(i: Int, j: Int) = s"c_${math.min(i, j)}_${math.max(i, j)}"
      val corrExprs = (for (i <- 0 until p; j <- i until p)
        yield s"corr(${PcaCols(i)}, ${PcaCols(j)}) AS ${cName(i, j)}").mkString(",\n         ")
      def lam(k: Int): String =
        (for (i <- 0 until p; j <- 0 until p)
          yield s"${vecs(k)(i)} * ${vecs(k)(j)} * ${cName(i, j)}").mkString("(", " + ", ")")
      val lamCols = (0 until p).map(k => s"${lam(k)} AS l_$k").mkString(",\n         ")
      val lamSum = (0 until p).map(k => s"l_$k").mkString("(", " + ", ")")
      val arms = (for (k <- 0 until p; i <- 0 until p) yield
        s"""SELECT '${PcaCols(i)}' AS variable, CAST(${k + 1} AS BIGINT) AS component,
           |       round(${vecs(k)(i)} * sqrt(greatest(l_$k * n / (n - 1.0), 0.0)), 6) AS x,
           |       round(l_$k / $lamSum, 6) AS evr
           |FROM lam""".stripMargin).mkString("\nUNION ALL\n")
      Map("pca_circle" ->
        s"""WITH cagg AS (
           |  SELECT $corrExprs,
           |         CAST(count(*) AS DOUBLE) AS n
           |  FROM lineitem
           |), lam AS (
           |  SELECT n,
           |         $lamCols
           |  FROM cagg
           |)
           |$arms
           |ORDER BY component, variable""".stripMargin)
  }

  /** The tube_fit oracle: re-score every exported ensemble model. DuckDB
    * rebuilds the factor table (including window MEDIAN/CAUSAL), selects
    * the SAME md5-bucket validation rows the Spark fit held out, evaluates
    * the exported (intercept, coefs) literally, and recomputes the
    * held-out r2 — arithmetic written in the Spark expressions' operation
    * order, rounded to 4 decimals on both sides.
    */
  private def tubeFitOracle: Map[String, String] = tubeFitExport match {
    case None => Map.empty
    case Some(models) =>
      val (sgCtes, sgRel) = SignalOps.sgOracleCtes("opset", "value", "record", "t", SgW, SgDeg, 0, "sgv")
      val factorSql = Map("TIME" -> "tm", "TIME2" -> "tm2", "SGV" -> "sgv",
        "MEDIAN" -> "med", "CAUSAL" -> "cau")
      val pct = math.max(1, math.round(TubeFitPct * 100).toInt)
      val arms = models.zipWithIndex.map { case (m, i) =>
        val p = m.factors.zip(m.coefs.toIndexedSeq)
          .foldLeft(m.intercept.toString) { case (acc, (f, c)) =>
            s"($acc + ${factorSql(f)} * $c)" }
        s"""SELECT CAST($i AS BIGINT) AS model_id, '${m.factors.mkString(",")}' AS factors,
           |       round(CASE WHEN abs(syy - sy * sy / n) > 1e-9
           |                  THEN 1.0 - ssres / (syy - sy * sy / n)
           |                  ELSE 0.0 END, 4) AS r2
           |FROM (
           |  SELECT sum((y - $p) * (y - $p)) AS ssres, sum(y) AS sy,
           |         sum(y * y) AS syy, CAST(count(*) AS DOUBLE) AS n
           |  FROM vld
           |)""".stripMargin
      }.mkString("\nUNION ALL\n")
      Map("tube_fit" ->
        s"""WITH $OpsetCte, $sgCtes, tbf AS (
           |  SELECT o.record, o.t, o.value AS y,
           |         CAST(o.t - 1 AS DOUBLE) AS tm,
           |         CAST(o.t - 1 AS DOUBLE) * CAST(o.t - 1 AS DOUBLE) AS tm2,
           |         s.sgv AS sgv,
           |         median(o.value) OVER (PARTITION BY o.record) AS med,
           |         first_value(o.value) OVER (PARTITION BY o.record ORDER BY o.t) AS cau
           |  FROM opset o JOIN $sgRel s ON o.record = s.record AND o.t = s.t
           |), vld AS (
           |  SELECT * FROM tbf
           |  WHERE CAST(concat('0x', substr(md5(concat_ws('|', record, t, '$TubeFitSeed')), 1, 8)) AS BIGINT) % 100
           |        BETWEEN $pct AND ${2 * pct - 1}
           |)
           |$arms
           |ORDER BY model_id""".stripMargin)
  }

  /** The text_classifier oracle: re-score every document from the
    * exported quantized tick weights — integer-tick gram-instance sum,
    * the exact [[graft.llm.Classifier.logitTicks]] contract in SQL.
    */
  private def clsOracle: Map[String, String] = clsExport match {
    case None => Map.empty
    case Some(m) =>
      val values = m.coefTicks.zipWithIndex
        .map { case (v, b) => s"($b, $v)" }.mkString(", ")
      // The gram arms are a pure function of the EXPORTED model's ns —
      // if fit ever runs with non-default gram orders, the oracle follows.
      val arms = m.ns.map(n => gramListSql(n, m.dim))
      val gramsSql =
        if (arms.size == 1) arms.head else s"list_concat(${arms.mkString(", ")})"
      Map("text_classifier" ->
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
           |ORDER BY d.doc_id""".stripMargin)
  }

  // MinHash-LSH parameters shared by the dedup_minhash_* queries/oracles.
  private val MhShingle = 5
  private val MhHashes = 8
  private val MhBands = 4
  private val MhThreshold = 0.6

  // Auto-banding parameters shared by the dedup_minhash_auto query/oracle.
  // targetRecall 0.83 = the fixed (4-band × 2-row) config's own floor at
  // threshold 0.6 (1 − (1 − 0.6²)⁴), so fixed-vs-auto is an equal-recall
  // comparison isolating the candidate-volume effect — the same design as
  // the dedup_cosine_auto pairing. At 500 documents the auto choice IS
  // the fixed config (2 rows × 4 bands); at 5k it is 3 × 8, at 50k 4 × 13.
  private val MinAutoRecall = 0.83
  private val MinAutoS0 = 0.1
  private val MinAutoCandPerBand = 16
  private val MinAutoMinRows = 2
  private val MinAutoMaxRows = 12
  private val MinAutoMaxBands = 32

  /** DuckDB CTE: doc_id + distinct md5-based 32-bit shingle hashes,
    * mirroring `Dedup.distinctNgramHashes(text, MhShingle)`.
    */
  private val ShingleCte =
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
  private def sigExprs: Seq[String] =
    (0 until MhHashes).map { k =>
      val (a, b) = Dedup.minhashCoeff(k)
      s"list_min(list_transform(hs, h -> (h * $a + $b) % ${Dedup.MinhashP})) AS sig_$k"
    }

  /** DuckDB CTE chain mirroring the shared MinHash banding front end:
    * `banded(doc_id, band, h_0..h_{rpb-1})`, one row per (document, band).
    * Shared by the pair oracles AND the stream_neardup oracle (the stream
    * reuses these exact banding expressions by construction).
    */
  private def minhashBandedCtes: String = {
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

  /** DuckDB CTE chain mirroring [[Dedup.minhashLsh]] end to end; final
    * relation `mhp(id_a, id_b, jaccard)` holds the kept near-dup pairs.
    * Shared by the dedup_minhash_pairs and dedup_clusters oracles.
    */
  private def minhashPairsCtes: String = {
    val rpb = MhHashes / MhBands
    val hEq = (0 until rpb).map(i => s"l.h_$i = r.h_$i").mkString(" AND ")
    s"""$minhashBandedCtes, cand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND $hEq AND l.doc_id < r.doc_id
       |), mhp AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT id_a, id_b,
       |           round(len(list_intersect(a.hs, b.hs)) * 1.0
       |                 / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jaccard
       |    FROM cand JOIN sh a ON a.doc_id = cand.id_a
       |              JOIN sh b ON b.doc_id = cand.id_b
       |  ) WHERE jaccard >= $MhThreshold
       |)""".stripMargin
  }

  // Word-ngram Jaccard parameters shared by dedup_jaccard query/oracle.
  private val JacN = 3
  private val JacMod = 8
  private val JacThreshold = 0.5
  private val JacMinShared = 2
  private val JacMaxDf = 128

  // Decontamination parameters shared by the decon_* query/oracles: the
  // eval set is every DecBenchMod-th document; DecN = 4 because the test
  // vocabulary is ~30 words (real corpora use 8-13-gram overlap), which
  // flags 7 / 19 / 1219 train docs at sf0.001/0.01/0.1 — present but
  // discriminating at every graded SF.
  private val DecN = 4
  private val DecBenchMod = 50
  private val DecMinHits = 1

  /** DuckDB CTEs for decontamination: word-`DecN`-gram hash sets (same
    * md5-prefix idiom as the Jaccard oracle), eval-set distinct grams
    * (`dbg`), training grams (`dtg`), per-doc overlap counts (`dhits`).
    */
  private def deconCtes: String =
    s"""$TokCte, dg AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(ts) - ${DecN - 1}, 1)),
       |    i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${DecN - 1}), ' ')), 1, 8)) AS BIGINT))) AS gh
       |  FROM tok
       |), dbg AS (
       |  SELECT DISTINCT unnest(gh) AS g FROM dg WHERE doc_id % $DecBenchMod = 0
       |), dtg AS (
       |  SELECT doc_id, unnest(gh) AS g FROM dg WHERE doc_id % $DecBenchMod <> 0
       |), dhits AS (
       |  SELECT dtg.doc_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM dtg JOIN dbg USING (g)
       |  GROUP BY dtg.doc_id HAVING count(*) >= $DecMinHits
       |)""".stripMargin

  // Corpus-assembly parameters shared by the pipe_* query/oracles.
  private val PipeFractions = Map("en" -> 0.3, "zh" -> 1.0)
  private val PipeDefaultFrac = 0.1
  private val PipeSeed = 7L
  private val PipeBudget = 512
  private val PipeShards = 8
  private val VocabK = 20

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

  /** DuckDB expression: the word-`n`-gram instance stream of token list
    * `ts`, hashed into [0, DsirBuckets) — the NON-distinct twin of the
    * decontamination gram CTE (DSIR counts every occurrence).
    */
  /** DuckDB list of hashed word-n-gram INSTANCE buckets over `tok.ts` —
    * the SQL twin of `graft_gram_buckets` (one element per position,
    * short texts yield one empty-string gram).
    */
  private def gramListSql(n: Int, buckets: Int): String =
    s"list_transform(generate_series(1, greatest(len(ts) - ${n - 1}, 1)), " +
      s"i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${n - 1}), ' ')), 1, 8)) AS BIGINT) % $buckets)"

  private def dsirGramSql(n: Int): String = gramListSql(n, DsirBuckets)

  /** DuckDB twin of the struct-max latest-record compaction — shared by
    * `events_latest` (batch) and `stream_latest` (the same aggregation
    * as a stateful streaming query with one-row-per-key state; the
    * landed Update emissions max-fold idempotently): window formulation
    * of max (tus, event_id) per key.
    */
  private def latestSql: String =
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
  private def outliersSql: String =
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

  /** Lineitem columns × profile kind, name-sorted like the Spark side's
    * schema sort; drives [[profileSql]].
    */
  private val ProfileCols: Seq[(String, String)] = Seq(
    "l_discount" -> "num", "l_extendedprice" -> "num", "l_linenumber" -> "num",
    "l_linestatus" -> "str", "l_orderkey" -> "num", "l_partkey" -> "num",
    "l_quantity" -> "num", "l_returnflag" -> "str", "l_shipdate" -> "ts",
    "l_suppkey" -> "num", "l_tax" -> "num")

  /** DuckDB twin of the HLL register table + estimator — shared by
    * `sketch_hll` (batch) and `stream_hll` (landed-register fold, which
    * is idempotent and therefore grades against the identical SQL):
    * registers re-derived exactly (top-9 md5 bits bucket, rank = leading
    * zeros of the low 23 bits), fixed-point register sum in pure
    * integers; the only float ops are the two estimator branches, once
    * per GROUP, quantized to 1e-6 like every ln here.
    */
  private def hllSql: String = {
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
  private def kmvSketchSql: String = {
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

  /** DuckDB twin of the count-min sketch build + probe — shared by
    * `sketch_cms` (whole-corpus weighted build) and `sketch_cms_merge`
    * (disjoint-half counters merged by sum, == the whole build by
    * construction): d count arms over events union into the counter
    * table; the probe re-addresses each row's counter and takes the
    * least — all exact integer arithmetic on md5-prefix hashes.
    */
  private def cmsSketchSql: String = {
    def pos(keyExpr: String, j: Int) =
      s"(CAST(concat('0x', substr(md5(concat(CAST($keyExpr AS VARCHAR), '#$j')), 1, 8)) AS BIGINT) % $CmsWidth)"
    val arms = (0 until CmsDepth).map(j =>
      s"SELECT $j AS row, ${pos("user_id", j)} AS col FROM events").mkString("\n  UNION ALL\n  ")
    val joins = (0 until CmsDepth).map(j =>
      s"LEFT JOIN cnt b$j ON b$j.row = $j AND ${pos("u.user_id", j)} = b$j.col").mkString("\n")
    val est = (0 until CmsDepth).map(j => s"coalesce(b$j.cnt, 0)").mkString("least(", ", ", ")")
    s"""WITH inst AS (
       |  $arms
       |), cnt AS (
       |  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM inst GROUP BY row, col
       |), u AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_true FROM events GROUP BY user_id
       |)
       |SELECT u.user_id, u.n_true, CAST($est AS BIGINT) AS est
       |FROM u
       |$joins
       |ORDER BY u.user_id""".stripMargin
  }

  /** DuckDB twin of the Bloom word table + k probe arms — shared by
    * `sketch_bloom` (whole build) and `sketch_bloom_union` (disjoint-half
    * word tables merged by bit_or, == the whole build): every operation
    * is exact integer arithmetic on md5-prefix hashes.
    */
  private def bloomSketchSql: String = {
    def pos(keyExpr: String, i: Int) =
      s"(CAST(concat('0x', substr(md5(concat(CAST($keyExpr AS VARCHAR), ':$i')), 1, 8)) AS BIGINT) % $BloomBits)"
    val buildArms = (0 until BloomK).map(i => pos("o_custkey", i)).mkString(", ")
    val joins = (0 until BloomK).map(i =>
      s"LEFT JOIN w b$i ON ${pos("c.c_custkey", i)} // 32 = b$i.word_idx").mkString("\n")
    val hits = (0 until BloomK).map { i =>
      val m = s"(CAST(1 AS BIGINT) << CAST(${pos("c.c_custkey", i)} % 32 AS INTEGER))"
      s"(b$i.bits IS NOT NULL AND (b$i.bits & $m) = $m)"
    }.mkString("\n       AND ")
    s"""WITH bp AS (
       |  SELECT unnest([$buildArms]) AS p FROM orders
       |), w AS (
       |  SELECT p // 32 AS word_idx,
       |         CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS BIGINT) AS bits
       |  FROM bp GROUP BY p // 32
       |)
       |SELECT c.c_custkey, $hits AS may_contain
       |FROM customer c
       |$joins
       |ORDER BY c.c_custkey""".stripMargin
  }

  /** One UNION ALL branch per profiled column — the DuckDB twin of
    * [[Profile.profile]]'s unpivoted single-pass aggregation (numeric
    * bounds as rounded doubles, timestamps as epoch micros, string
    * bounds as lengths).
    */
  private def profileSql: String =
    ProfileCols.map { case (c, kind) =>
      val (minN, maxN) = kind match {
        case "num" => (s"round(CAST(min($c) AS DOUBLE), 6)", s"round(CAST(max($c) AS DOUBLE), 6)")
        case "ts" => (s"round(CAST(min(epoch_us($c)) AS DOUBLE), 6)",
          s"round(CAST(max(epoch_us($c)) AS DOUBLE), 6)")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      val (minL, maxL) =
        if (kind == "str") (s"CAST(min(length($c)) AS BIGINT)", s"CAST(max(length($c)) AS BIGINT)")
        else ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)")
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  $minN AS min_num, $maxN AS max_num,
         |  $minL AS min_len, $maxL AS max_len
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  /** DuckDB twin of [[Profile.profileApprox]] (p=9): per column, the
    * pinned canonical hash string (numerics as 1e-6 tick longs,
    * timestamps as epoch micros, strings as themselves), the exact
    * hllSql register derivation, and the estimator with the same 1e-6
    * quantization — one UNION ALL arm per profiled column.
    */
  private def profileApproxSql: String = {
    val a = Sketches.alphaNumerator(9)
    ProfileCols.map { case (c, kind) =>
      val canon = kind match {
        case "num" => s"CAST(CAST(floor($c * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)"
        case "ts" => s"CAST(epoch_us($c) AS VARCHAR)"
        case _ => c
      }
      val (minN, maxN) = kind match {
        case "num" => (s"round(CAST(min($c) AS DOUBLE), 6)", s"round(CAST(max($c) AS DOUBLE), 6)")
        case "ts" => (s"round(CAST(min(epoch_us($c)) AS DOUBLE), 6)",
          s"round(CAST(max(epoch_us($c)) AS DOUBLE), 6)")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      val (minL, maxL) =
        if (kind == "str") (s"CAST(min(length($c)) AS BIGINT)", s"CAST(max(length($c)) AS BIGINT)")
        else ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)")
      s"""SELECT '$c' AS "column", b.n_rows, b.n_null,
         |  CASE WHEN s.zeros > 0 AND $a / s.s_fixed <= 1280.0
         |       THEN floor(512.0 * ln(512.0 / s.zeros) * 1000000.0 + 0.5) / 1000000.0
         |       ELSE floor($a / s.s_fixed * 1000000.0 + 0.5) / 1000000.0 END AS distinct_est,
         |  b.min_num, b.max_num, b.min_len, b.max_len
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |         $minN AS min_num, $maxN AS max_num,
         |         $minL AS min_len, $maxL AS max_len
         |  FROM lineitem) b
         |CROSS JOIN (
         |  SELECT CAST(512 - count(*) AS BIGINT) AS zeros,
         |         coalesce(sum(CAST(1 AS BIGINT) << (24 - mj)), 0)
         |           + (512 - count(*)) * 16777216 AS s_fixed
         |  FROM (
         |    SELECT hv >> 23 AS bucket,
         |           max(CASE WHEN hv & 8388607 = 0 THEN 24
         |                    ELSE 24 - length(bin(hv & 8388607)) END) AS mj
         |    FROM (SELECT CAST(concat('0x', substr(md5($canon), 1, 8)) AS BIGINT) AS hv
         |          FROM lineitem WHERE $c IS NOT NULL)
         |    GROUP BY bucket)) s""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

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

  // SemDeDup parameters shared by the dedup_semantic query/oracle
  // (row 51). Same 0.4 threshold as dedup_cosine so the two candidate
  // generators (data-driven clusters vs random hyperplanes) are directly
  // comparable on the same corpus.
  private val SemK = 6
  private val SemIters = 2
  private val SemThreshold = 0.4

  // Auto-scaled SemDeDup occupancy (row 51, scaled path): cluster count
  // k = ceil(n/64) grows with the corpus, holding in-cluster pair volume
  // linear where the fixed-k path goes quadratic (BENCH_SF1).
  private val SemAutoOcc = 64

  // Probe widths for the ann_ivf_auto query/oracle (row 33, scaled path):
  // 2 coarse cells × 3 fine lists — a recall/candidate-volume point the
  // ScalaTest recall spec measures against brute force.
  private val AnnAutoProbe1 = 2
  private val AnnAutoProbe2 = 3

  // Target for the recall-calibrated probe search (ann_probe_auto): the
  // ladder choice itself is ScalaTest-pinned (AutoConfigSpec — the
  // measurement loop is driver-side library behavior like
  // minhashAutoConfig); the SEARCH at the chosen config is oracle-graded
  // via the exported (coarse, fine) literals below.
  private val ProbeAutoTarget = 0.9
  @volatile private var probeAutoExport: Option[(Int, Int)] = None

  /** The two-level probed IVF search over the dynamically re-derived
    * quantizer, parameterized by the probe widths — shared by
    * ann_ivf_auto (fixed widths) and ann_probe_auto (widths chosen by
    * [[graft.llm.Similarity.ivfAutoProbe]] at Verify time and exported
    * as literals, the frozen-artifact oracle pattern of ivfCentsExport).
    */
  private def ivfAutoTopkSql(p1: Int, p2: Int): String =
    s"""WITH $EmbCte, $semAutoCtes, aqv AS (
       |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM semk
       |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
       |), aq1 AS (
       |  SELECT q_id, qv, qn, c1 FROM (
       |    SELECT aqv.q_id, aqv.qv, aqv.qn, semcs.s1 AS c1,
       |           row_number() OVER (PARTITION BY aqv.q_id
       |             ORDER BY ${dotSql("aqv.qv", "semcs.cv")} / semcs.cn DESC, semcs.s1 ASC) AS rn
       |    FROM aqv CROSS JOIN semcs
       |  ) WHERE rn <= $p1
       |), aq2 AS (
       |  SELECT q_id, qv, qn, cluster FROM (
       |    SELECT aq1.q_id, aq1.qv, aq1.qn, semfs.s2 AS cluster,
       |           row_number() OVER (PARTITION BY aq1.q_id
       |             ORDER BY ${dotSql("aq1.qv", "semfs.fv")} / semfs.fn DESC, semfs.s2 ASC) AS rn
       |    FROM aq1 JOIN semfs ON aq1.c1 = semfs.c1
       |  ) WHERE rn <= $p2
       |), ascored AS (
       |  SELECT aq2.q_id, a.vec_id,
       |         round(${dotSql("a.v", "aq2.qv")} / (a.n * aq2.qn), 6) AS cos
       |  FROM aq2 JOIN sema2 a ON a.cluster = aq2.cluster
       |  WHERE a.vec_id <> aq2.q_id
       |)
       |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM ascored
       |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin

  private def probeAutoOracle: Map[String, String] = probeAutoExport match {
    case None => Map.empty
    case Some((p1, p2)) => Map("ann_probe_auto" -> ivfAutoTopkSql(p1, p2))
  }

  /** The composed-funnel oracle: the pipe_clean_html extraction +
    * cleaning chain with the funnel-trained classifier's tick predicate
    * spliced into the heuristic filter (exported weights, the clsOracle
    * pattern), then the pipe_pack and pipe_shuffle constructions
    * replayed over the survivor set.
    */
  private def pipeFunnelOracle: Map[String, String] = funnelClsExport match {
    case None => Map.empty
    case Some(m) =>
      val values = m.coefTicks.zipWithIndex
        .map { case (v, b) => s"($b, $v)" }.mkString(", ")
      val arms = m.ns.map(n => gramListSql(n, m.dim))
      val gramsSql =
        if (arms.size == 1) arms.head else s"list_concat(${arms.mkString(", ")})"
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
      Map("pipe_funnel" ->
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
           |ORDER BY c.doc_id""".stripMargin)
  }

  /** DuckDB CTE chain re-deriving the two-level seeded quantizer of
    * [[Similarity.semanticDupAuto]]/[[Similarity.ivfTopKAuto]] DYNAMICALLY
    * (k from count(*), coarse/fine seeds by smallest (md5(id), id),
    * nearest-seed argmax by (score DESC, seed id ASC) — the exact
    * tiebreak of the Spark side's max-of-(s, -id)-struct). Relations:
    * `semk` (hashed corpus), `par3` (k, k1, k2), `semcs` (coarse seeds),
    * `sema1` (coarse assignment), `semfs` (fine seeds), `sema2` (final
    * assignment, cluster = fine-seed id). Requires [[EmbCte]].
    */
  private def semAutoCtes: String =
    s"""semk AS (
       |  SELECT vec_id, v, n,
       |         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
       |  FROM nrm
       |), par AS (
       |  SELECT CAST(greatest(1, ceil(count(*) / ${SemAutoOcc}.0)) AS BIGINT) AS k FROM semk
       |), par2 AS (
       |  SELECT k, CAST(greatest(1, ceil(sqrt(CAST(k AS DOUBLE)))) AS BIGINT) AS k1 FROM par
       |), par3 AS (
       |  SELECT k, k1, CAST(greatest(1, ceil(CAST(k AS DOUBLE) / k1)) AS BIGINT) AS k2 FROM par2
       |), semcs AS (
       |  SELECT vec_id AS s1, v AS cv, n AS cn FROM (
       |    SELECT *, row_number() OVER (ORDER BY h, vec_id) AS rn FROM semk
       |  ) WHERE rn <= (SELECT k1 FROM par3)
       |), sema1 AS (
       |  SELECT vec_id, v, n, h, c1 FROM (
       |    SELECT semk.vec_id, semk.v, semk.n, semk.h, semcs.s1 AS c1,
       |           row_number() OVER (PARTITION BY semk.vec_id
       |             ORDER BY ${dotSql("semk.v", "semcs.cv")} / semcs.cn DESC, semcs.s1 ASC) AS rn
       |    FROM semk CROSS JOIN semcs
       |  ) WHERE rn = 1
       |), semfs AS (
       |  SELECT c1, vec_id AS s2, v AS fv, n AS fn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY c1 ORDER BY h, vec_id) AS rn FROM sema1
       |  ) WHERE rn <= (SELECT k2 FROM par3)
       |), sema2 AS (
       |  SELECT vec_id, v, n, cluster FROM (
       |    SELECT sema1.vec_id, sema1.v, sema1.n, semfs.s2 AS cluster,
       |           row_number() OVER (PARTITION BY sema1.vec_id
       |             ORDER BY ${dotSql("sema1.v", "semfs.fv")} / semfs.fn DESC, semfs.s2 ASC) AS rn
       |    FROM sema1 JOIN semfs ON sema1.c1 = semfs.c1
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** Subword vocab shared by the text_tokens_bpe query/oracle: lowercase
    * letters EXCEPT `u` (so real unknowns exercise the −1 path on the
    * corpus's u-words) plus multi-char merges with overlapping prefixes
    * (sp/spark, ta/tab, th/the, que covering the only sanctioned `u`) so
    * greedy longest-match genuinely discriminates. Ids = list positions.
    */
  private val BpeVocab: Seq[String] =
    ("abcdefghijklmnopqrstvwxyz".map(_.toString) ++ // no 'u'
      Seq("th", "the", "er", "or", "ar", "ta", "tab", "sp", "spark",
        "win", "dow", "window", "que", "jo", "in", "join", "row", "ba", "batch")).toSeq

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

  /** The pinned binned-quantile estimator in DuckDB — equal-width bins
    * over [min, max], type-7 rank, uniform interpolation inside the
    * crossing bin (cumBefore <= r < cum picks it uniquely). Shared by
    * `stats_quantiles_binned` (batch) and `stream_quantiles` (the
    * streaming count-table twin): both maintain the identical
    * register-bounded (group, bin) table and answer through the
    * identical formula, so one oracle grades both.
    */
  private lazy val binnedQuantilesOracle: String = {
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
  private val C4PageCte: String =
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

  private def c4Injected: Column = concat(
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
  private def htmlInjected: Column = concat(
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

  /** Gradient-PNG fixture shared by mm_phash/dedup_phash: pixel (x, y)
    * of doc `id` is a closed form of (base = id − id%4, off = id%4) —
    * quad members share dims and differ by a small constant channel
    * offset (near-identical images, the near-dup ground truth), while
    * different quads get different gradients. Bytes travel the REAL
    * PNG encoder here and the real decoder in [[Multimodal.imageHashes]].
    */
  private def phashFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // no fanOut: the fixture images are ~10×8 px, so the encode/decode
    // is NOT the expensive pass — measured, the extra exchange (and the
    // wider cached layout it leaves for the banded pair join and the
    // component rounds downstream) cost more than the serial scan
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val base = id - id % 4
        val off = id % 4
        val w = (9 + base % 12).toInt
        val h = (7 + base % 9).toInt
        // gradient SLOPES derive from base too: different quads get
        // different comparison patterns (distinct dHashes), while quad
        // members still differ only by the constant channel offset —
        // without per-quad slopes every image shares one dHash and the
        // pair table degenerates to all-pairs
        // STEEP per-quad slopes (wrap every 2-8 pixels): a shallow
        // monotone gradient makes every row-adjacent luma comparison
        // false and collapses dHash to 0 corpus-wide (measured: 127 of
        // 500 identical hashes, a degenerate all-pairs table); steep
        // wrapping slopes make the comparison pattern pseudo-random per
        // quad while quad members still differ only by the constant
        // channel offset
        (id, Multimodal.pixelPng(w, h, (x, y) => (
          ((base + (29 + base % 151) * x + (17 + base % 113) * y + off) % 256).toInt,
          ((3 * base + (41 + base % 127) * x + (23 + base % 89) * y + 2 * off) % 256).toInt,
          ((7 * base + (53 + base % 101) * x + (31 + base % 71) * y + off) % 256).toInt)))
      }).toDF("doc_id", "payload")
  }

  /** DuckDB twin of the [[phashFixture]] pixel closed forms + the pinned
    * luma: SQL text for luma(xExpr, yExpr) over the `phd` CTE columns
    * (base, off, w, h).
    */
  private def phashLumaSql(x: String, y: String): String =
    s"((299 * ((base + (29 + base % 151)*($x) + (17 + base % 113)*($y) + off) % 256)" +
      s" + 587 * ((3*base + (41 + base % 127)*($x) + (23 + base % 89)*($y) + 2*off) % 256)" +
      s" + 114 * ((7*base + (53 + base % 101)*($x) + (31 + base % 71)*($y) + off) % 256)) // 1000)"

  /** CTE chain re-deriving [[Multimodal.imageHashes]] analytically over
    * the fixture: `phd` (per-doc base/off/dims), `phh` (dhash via the
    * 9×7 sample grid, ahash via the 8×7 grid against the floored mean).
    */
  private def phashCtes: String = {
    val cols = graft.llm.Multimodal.PhashCols
    val rows = graft.llm.Multimodal.PhashRows
    // dHash: 56 CASE terms over the 9×7 nearest-neighbor sample grid
    val dTerms = (for (j <- 0 until rows; i <- 0 until cols) yield {
      val y = s"(($j * h) // $rows)"
      val x1 = s"(($i * w) // ${cols + 1})"
      val x2 = s"((${i + 1} * w) // ${cols + 1})"
      s"(CASE WHEN ${phashLumaSql(x1, y)} > ${phashLumaSql(x2, y)} " +
        s"THEN ${1L << (j * cols + i)} ELSE 0 END)"
    }).mkString("\n      + ")
    // aHash: the 56 grid lumas as a list, mean floored, bit per sample
    val aList = (for (j <- 0 until rows; i <- 0 until cols) yield
      phashLumaSql(s"(($i * w) // $cols)", s"(($j * h) // $rows)")).mkString(",\n      ")
    val aTerms = (0 until rows * cols).map(k =>
      s"(CASE WHEN als[${k + 1}] > amean THEN ${1L << k} ELSE 0 END)")
      .mkString("\n      + ")
    s"""phd AS (
       |  SELECT doc_id, doc_id - doc_id % 4 AS base, doc_id % 4 AS off,
       |         9 + (doc_id - doc_id % 4) % 12 AS w,
       |         7 + (doc_id - doc_id % 4) % 9 AS h
       |  FROM documents
       |), pha AS (
       |  SELECT doc_id, [$aList] AS als FROM phd
       |), phm AS (
       |  SELECT doc_id, als, list_sum(als) // ${rows * cols} AS amean FROM pha
       |), phh AS (
       |  SELECT phd.doc_id,
       |    CAST($dTerms AS BIGINT) AS dhash,
       |    CAST($aTerms AS BIGINT) AS ahash
       |  FROM phd JOIN phm ON phd.doc_id = phm.doc_id
       |)""".stripMargin
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

  // Event-analytics parameters shared by the events_* query/oracles.
  // 6 h gap: the synthetic events run ~30 days × 150 users with a median
  // per-user inter-event gap of ~7.3 h, so 6 h splits every user into
  // many multi-event sessions (a web-style 30 min gap would make nearly
  // every event its own session here — parameter, not semantics).
  private val SessionGapUs = 6L * 3600 * 1000000
  private val FunnelSteps = Seq("view", "click", "purchase")

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

  // HLL precision shared by the sketch_hll query/oracle: p=9 -> 512
  // registers (~4.6% relative error) -- small enough that the linear-
  // counting branch is EXERCISED at the gate SFs (150 distinct users
  // << 2.5m) while the raw-estimator branch is exercised by the spec's
  // generated corpora.
  private val HllP = 9

  // Bigram-LM bucket sizes shared by the text_perplexity query/oracle:
  // the test vocabulary is ~30 words (~900 possible bigrams), so 2048/8192
  // buckets keep hash collisions rare without making the broadcast tables
  // less than trivially metadata-sized.
  private val PplUniBuckets = 2048
  private val PplBigBuckets = 8192

  // Attribution window shared by the stream_join query/oracle: views in
  // the hour before each click of the same user (46 pairs at sf0.01).
  private val JoinLookback = "1 hour"
  private val JoinLookbackUs = 3600L * 1000000

  // PageRank rounds shared by the graph_pagerank query/oracle.
  private val PrIters = 5

  // Count-min geometry shared by the sketch_cms query/oracle: 256x4
  // over 150-15k users -> real collisions at the larger SFs (the
  // overestimate guarantee is exercised, not vacuous).
  private val CmsWidth = 256
  private val CmsDepth = 4

  // Z-order geometry shared by the layout_zorder query/oracle: 8 bits
  // per column over (l_partkey, l_suppkey).
  private val ZBits = 8
  private val ZCols = Seq("l_partkey", "l_suppkey")

  // Bloom-filter geometry shared by the sketch_bloom query/oracle:
  // 2^14 bits / 4 hashes over ~1k build keys -> fp rate ~ (k*n/m)^k well
  // under 1%, so the probe output contains real negatives AND real
  // positives at every graded SF.
  private val BloomBits = 16384
  private val BloomK = 4

  // Quantile probes shared by the stats_quantiles query/oracle.
  private val QuantilePs = Seq(0.5, 0.9, 0.99)

  // stats_quantiles_binned bin count: the deterministic approximate
  // estimator's resolution (rank error <= the crossing bin's mass).
  private val QuantileBins = 4096

  // stats_histogram bucket count: interior boundaries at i/8 are exact
  // binary fractions, so the two engines' p·(n−1) ranks agree bit-for-bit.
  private val HistBuckets = 8

  // KMV sample sketch parameters shared by the sketch_kmv* query/oracles.
  private val KmvK = 512
  private val KmvSeed = 42L

  // Incident-window length shared by the join_range query/oracle: 10 min
  // windows anchored at every 'error' event, so window density (and with
  // it the per-window point count) scales with SF on both sides.
  private val RangeWinUs = 600000000L

  // join_interval: purchase attribution windows reach 5 min BACK from
  // each purchase; overlap with the 10-min error windows above asks
  // "which purchases were decided while an incident was live".
  private val AttrWinUs = 300000000L

  // join_asof: a click enriches with the user's latest purchase at most
  // 6 h old — long enough for real matches at sf0.001's event density,
  // short enough that staleness gating actually fires.
  private val AsofTolUs = 21600000000L

  // graph_triangles: per-order co-purchase fan-out cap — keeping only
  // l_linenumber <= 3 bounds edges at 3 per order AT THE SCAN (pushed
  // filter, no sampling job) so the edge count stays linear in SF.
  private val TriMaxLine = 3

  // graph_*_probe apex slice: md5 first hex char — 1/16 of apexes, the
  // same content-hash residue convention as dedup_cosine_probe (a hash,
  // not a modulus, so the slice is uncorrelated with id assignment).
  private val GraphProbeResidue = "0"

  // graph_kcore: k chosen so the peel is non-trivial but non-empty on
  // the co-purchase graph (k=12 keeps ~90% of vertices after peeling);
  // 8 pinned rounds ≥ the measured convergence depth at every graded SF
  // (6 at sf0.1), so the fixed-round contract IS the k-core there.
  private val KcoreK = 12
  private val KcoreRounds = 8

  // Collocation parameters shared by the text_collocations query/oracle:
  // the ~30-word test vocabulary repeats pairs heavily, so minCount=5
  // actually filters and k=50 cuts a real boundary.
  private val CollMinCount = 5L
  private val CollK = 50

  // Hashing-trick text-embedding parameters (text_embed query/oracle).
  private val TxtEmbDim = 64
  private val TxtEmbNs = Seq(1, 2)

  // Embedding-LSH parameters shared by ann_* / dedup_cosine query/oracles.
  private val EmbDim = 64
  private val LshBits = 4
  private val LshTables = 4
  private val AnnK = 3
  private val AnnQueryIds = Seq(0L, 1L, 2L, 3L, 4L)
  private val CosDupThreshold = 0.4
  private lazy val Planes = Similarity.hyperplanes(LshBits * LshTables, EmbDim)

  // Auto-granularity parameters shared by the dedup_cosine_auto
  // query/oracle. targetRecall is 0.5 at this threshold: cosine 0.4 is a
  // WEAK similarity (66° — per-plane agreement c ≈ 0.63), where holding a
  // high floor needs many tables (requiredTables(9, 0.4, 0.9) = 44); 0.5
  // matches the recall floor the fixed (4-bit, 4-table) config already
  // has at this threshold, making fixed-vs-auto an equal-recall
  // comparison that isolates the candidate-volume effect.
  private val AutoRecall = 0.5
  private val AutoOcc = 64
  private val AutoMinBits = 4
  private val AutoMaxBits = 24
  private val AutoMaxTables = 32

  // IVF parameters shared by the ann_ivf query/oracle.
  private val IvfK = 8
  private val IvfIters = 3
  private val IvfProbe = 2

  // PQ parameters shared by the ann_pq query/oracle: 8 subspaces × 8 dims,
  // 16 codewords each → 8 codes ≈ 8 B/vector vs 256 B of floats (32×).
  private val PqM = 8
  private val PqKsub = 16
  private val PqIters = 3

  /** Centroids of the most recent ann_ivf run, frozen as literals for the
    * oracle (same Verify-time pattern as [[treeExport]]): the oracle checks
    * the assign + probe + re-rank math given the trained centroids, which
    * both engines then share bit-for-bit.
    */
  @volatile private var ivfCentsExport: Option[Array[Array[Double]]] = None

  /** PQ codebooks of the most recent ann_pq run, frozen for the oracle
    * exactly like [[ivfCentsExport]]: DuckDB re-derives the per-subspace
    * encoding argmin and the ADC tick sums from the shared codewords,
    * integer-exact.
    */
  @volatile private var pqBooksExport: Option[Array[Array[Array[Double]]]] = None

  /** Centroids of the most recent dedup_semantic run, frozen for the
    * oracle exactly like [[ivfCentsExport]]: DuckDB re-derives the
    * assignment and the within-cluster pair math from the shared
    * centroids, bit-for-bit.
    */
  @volatile private var semCentsExport: Option[Array[Array[Double]]] = None
  // SemDeDup over TEXT-derived hashed embeddings (dedup_text): its own
  // frozen-quantizer export; threshold sits where the synthetic corpus's
  // shared-vocabulary cosine mass thins (0.84 -> 31 pairs at sf0.01, 856
  // at sf0.1 — meaningful and non-quadratic, measured).
  @volatile private var semTextCentsExport: Option[Array[Array[Double]]] = None
  private val TxtSemThreshold = 0.84

  /** DuckDB CTE: lowercased whitespace tokens of each document —
    * parameterized on the source relation so a composed oracle (e.g.
    * pipe_clean_html's extracted-text CTE) can tokenize its own table.
    */
  private def tokCteFor(rel: String): String =
    s"""tok AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
       |  FROM $rel
       |)""".stripMargin

  private val TokCte = tokCteFor("documents")

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

  /** Shared hashing-trick embed CTE chain (tok -> dense int counts per
    * (doc, bucket)) — the closed form of `graft_hash_embed`, reused by
    * the text_embed and ann_text oracles.
    */
  private def txtEmbChain: String = {
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
  private val EmbCte =
    """emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
      |), nrm AS (
      |  SELECT vec_id, v,
      |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
      |  FROM emb
      |)""".stripMargin

  /** DuckDB left-fold dot product of two DOUBLE-list expressions. */
  private def dotSql(va: String, vb: String): String =
    s"list_reduce(list_transform(generate_series(1, len($va)), i -> $va[i] * $vb[i]), (a, b) -> a + b)"

  /** The hyperplane-sign bucket key of table `tbl` (same literal plane
    * components as the Spark side — exact doubles, so buckets agree).
    */
  private def bucketKeySql(v: String, tbl: Int): String =
    (0 until LshBits).map { i =>
      val plane = Planes(tbl * LshBits + i).mkString("[", ", ", "]::DOUBLE[]")
      s"(CASE WHEN ${dotSql(v, s"($plane)")} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB CTEs re-deriving [[Similarity.lshAutoConfig]] + the LCG
    * hyperplanes DYNAMICALLY, so ONE static SQL string stays correct at
    * every SF (n differs per dir, so bits does too). All n-independent
    * pieces (`bitsRecall`, the bits→tables map) are Scala-computed
    * literals — the SQL never does floating-point config math whose ceil
    * boundaries could drift between engines; the only data-dependent step
    * (occupancy bits) is an exact INTEGER comparison over a generate_series,
    * mirroring the integer `find` in `lshAutoConfig`. Plane components are
    * the same `md5("hp|idx") first-32-bits / 2^32 − 0.5` derivation as
    * [[Similarity.hyperplanes]] — dyadic-exact doubles, so bucket signs
    * agree bit-for-bit.
    */
  private def autoCfgCte(recall: Double = AutoRecall): String = {
    val tablesCase = "CASE bits " + (1 to AutoMaxBits).map(b =>
      s"WHEN $b THEN ${math.min(Similarity.requiredTables(b, CosDupThreshold, recall), AutoMaxTables)}")
      .mkString(" ") + " END"
    val bitsRecall = (1 to AutoMaxBits)
      .filter(b => Similarity.requiredTables(b, CosDupThreshold, recall) <= AutoMaxTables)
      .lastOption.getOrElse(1)
    s"""cfg0 AS (
       |  SELECT COALESCE(MIN(b), $AutoMaxBits) AS bits_occ
       |  FROM (SELECT unnest(generate_series(1, $AutoMaxBits)) AS b), (SELECT count(*) AS n FROM embeddings)
       |  WHERE (CAST(1 AS BIGINT) << b) * $AutoOcc >= n
       |), cfg AS (
       |  SELECT bits, $tablesCase AS tables FROM (
       |    SELECT GREATEST($AutoMinBits, LEAST(bits_occ, $bitsRecall)) AS bits FROM cfg0
       |  )
       |), planes AS (
       |  SELECT p,
       |         list_transform(generate_series(0, ${EmbDim - 1}),
       |           d -> CAST(concat('0x', substr(md5('hp|' || CAST(CAST(p AS BIGINT) * $EmbDim + d AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 - 0.5) AS pl
       |  FROM (SELECT unnest(generate_series(0, bits * tables - 1)) AS p FROM cfg)
       |), sgn AS (
       |  SELECT e.vec_id, CAST(pp.p // cfg.bits AS INT) AS tbl,
       |         CASE WHEN ${dotSql("e.v", "pp.pl")} >= 0
       |              THEN (CAST(1 AS BIGINT) << (pp.p % cfg.bits)) ELSE 0 END AS bit
       |  FROM emb e, planes pp, cfg
       |), abkt AS (
       |  SELECT vec_id, tbl, sum(bit) AS bkey FROM sgn GROUP BY vec_id, tbl
       |)""".stripMargin
  }

  /** DuckDB CTE: one (vec_id, tbl, bkey) row per vector and hash table. */
  private def bktCte: String = {
    val arms = (0 until LshTables).map(l =>
      s"SELECT vec_id, $l AS tbl, ${bucketKeySql("v", l)} AS bkey FROM emb")
      .mkString("\n  UNION ALL\n  ")
    s"bkt AS (\n  $arms\n)"
  }

  /** DuckDB CTEs re-deriving [[Dedup.minhashAutoConfig]] + the dynamic
    * banding, so ONE static SQL string grades `dedup_minhash_auto` at
    * every SF. Same parity discipline as [[autoCfgCte]]: the n-independent
    * pieces (occupancy thresholds `candPerBand/s0^r`, the rows→bands map,
    * the recall-budget row cap, the minhash coefficients) are
    * Scala-computed literals, and the only data-dependent step is the
    * exact comparison `count(*) ≤ <literal>` over a generate_series of r.
    * The signature is built DYNAMICALLY as (doc, k) rows joined to the
    * literal coefficient table with `k < rows·bands`, and band keys are
    * `list(sig ORDER BY k)` per `k // rows` — list equality in the
    * self-join reproduces the Spark side's band-struct equality.
    */
  private def minhashAutoCtes: String = {
    val rRange = MinAutoMinRows to MinAutoMaxRows
    val occCase = "CASE r " + rRange.map(r =>
      s"WHEN $r THEN ${MinAutoCandPerBand / math.pow(MinAutoS0, r)}").mkString(" ") + " END"
    val bandsFor = rRange.map(r =>
      r -> math.min(Dedup.requiredBands(r, MhThreshold, MinAutoRecall), MinAutoMaxBands)).toMap
    val bandsCase = "CASE rpb " + rRange.map(r =>
      s"WHEN $r THEN ${bandsFor(r)}").mkString(" ") + " END"
    val rRecall = rRange
      .filter(r => Dedup.requiredBands(r, MhThreshold, MinAutoRecall) <= MinAutoMaxBands)
      .lastOption.getOrElse(MinAutoMinRows)
    val maxNh = rRange.filter(_ <= rRecall).map(r => r * bandsFor(r)).max
    val coefRows = (0 until maxNh).map { k =>
      val (a, b) = Dedup.minhashCoeff(k)
      s"($k, $a, $b)"
    }.mkString(", ")
    s"""mcfg0 AS (
       |  SELECT COALESCE(MIN(r), $MinAutoMaxRows) AS r_occ
       |  FROM (SELECT unnest(generate_series($MinAutoMinRows, $MinAutoMaxRows)) AS r),
       |       (SELECT count(*) AS n FROM documents)
       |  WHERE n <= $occCase
       |), mcfg AS (
       |  SELECT rpb, $bandsCase AS bands FROM (
       |    SELECT LEAST(r_occ, $rRecall) AS rpb FROM mcfg0
       |  )
       |), mcoef AS (
       |  SELECT * FROM (VALUES $coefRows) AS t(k, ca, cb)
       |), sigk AS (
       |  SELECT s.doc_id, c.k,
       |         list_min(list_transform(s.hs, h -> (h * c.ca + c.cb) % ${Dedup.MinhashP})) AS sv
       |  FROM sh s, mcoef c, mcfg m
       |  WHERE c.k < m.rpb * m.bands
       |), mbanded AS (
       |  SELECT sk.doc_id, CAST(sk.k // m.rpb AS INT) AS band,
       |         list(sk.sv ORDER BY sk.k) AS bkey
       |  FROM sigk sk, mcfg m
       |  GROUP BY sk.doc_id, CAST(sk.k // m.rpb AS INT)
       |), mcand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM mbanded l JOIN mbanded r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
       |)""".stripMargin
  }

  /** Labels exercising the `"NAME [unit]"` metadata utilities. */
  private val MetaLabels = Seq("ALT [m]", "TEMP [C]", "EGT [C]", "N1 [%]", "N2 [%]", "TIME")

  /** lineitem numeric signal columns with reference-style unit labels. */
  private val LineitemLabels = Seq(
    "l_quantity" -> "QTY [u]",
    "l_extendedprice" -> "PRICE [$]",
    "l_discount" -> "DISC [%]",
    "l_tax" -> "TAX [%]",
  )

  private def lineitemLabeled(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    li.select(
      col("l_orderkey") :: col("l_linenumber") ::
      LineitemLabels.map { case (c, lab) => col(c).as(lab) }.toList: _*)
  }

  private val LineitemLabeledCte =
    """li AS (
      |  SELECT l_orderkey, l_linenumber,
      |         l_quantity AS "QTY [u]", l_extendedprice AS "PRICE [$]",
      |         l_discount AS "DISC [%]", l_tax AS "TAX [%]"
      |  FROM lineitem
      |)""".stripMargin

  // ----- flagship --------------------------------------------------------

  /** Flagship: text analysis joined with exact dedup winners on sf0.001
    * (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val winners = Dedup.exact(docs, "doc_id", Seq("text")).select("doc_id", "dup_count")
    TextAnalysis.analyze(docs).join(winners, "doc_id").orderBy("doc_id")
  }

  // ----- the graded inventory --------------------------------------------

  // a ListMap so iteration preserves DECLARATION order, which is pipeline
  // order: every query that warms a shared per-(session,dir) cache (fit,
  // minhash pairs, bank) is declared before the queries that consume it,
  // so a declaration-order bench charges the base compute to the producer
  // (dedup_minhash_pairs pays the shingle→band→pair chain; dedup_clusters
  // pays only the component loop) instead of whichever name sorts first.
  def queries: Map[String, (SparkSession, String) => DataFrame] = scala.collection.immutable.ListMap(
    // -- Opset core (SURVEY §2 rows 1-5) --
    "opset_records" -> ((s, dir) => opset(s, dir).records),

    "opset_get" -> ((s, dir) =>
      opset(s, dir).get("1").orderBy("t")),

    "opset_slice" -> ((s, dir) =>
      opset(s, dir).slice(2, 5).df.orderBy("record", "t")),

    "opset_put" -> { (s, dir) =>
      val os = opset(s, dir)
      val incoming = os.get("1").withColumn("value", col("value") + 100.0)
      Splits.argmaxInstants(os.put(incoming), "value") // reuse: navigate post-put
        .orderBy("record")
        .select(col("record"), col("i"))
    },

    "opset_nav" -> ((s, dir) =>
      opset(s, dir).recordIndex.filter(col("pos") === 3L).select("pos", "record")),

    "opset_clean" -> ((s, dir) =>
      opset(s, dir).clean.df.agg(count(lit(1)).cast("long").as("n"))),

    "opset_sorted" -> ((s, dir) =>
      // custom sortkey (opset.py:74): records in DESCENDING numeric order
      opset(s, dir).withSortKey(c => -c.cast("long")).recordIndex
        .orderBy("pos")),

    "opset_asof" -> { (s, dir) =>
      // as-of alignment: every sample joined with the signal's value at
      // the latest 5-periodic "slow channel" sample time <= t
      val os = opset(s, dir)
      val slow = os.df.filter((col("t") - 1) % 5 === 0)
        .select("record", "t", "value")
      os.asof(slow, Seq("value"), "_ref").df
        .select("record", "t", "value", "value_ref")
        .orderBy("record", "t")
    },

    // -- column metadata (rows 8-10) --
    "meta_nameunit" -> { (s, _) =>
      val rows = MetaLabels.map { lab =>
        val (n, u) = ColumnMeta.nameunit(lab); (lab, n, u)
      }
      s.createDataFrame(rows).toDF("label", "name", "unit").orderBy("label")
    },

    "meta_byunits" -> { (s, _) =>
      val rows = ColumnMeta.byunits(MetaLabels).zipWithIndex.flatMap {
        case ((unit, cols), gi) => cols.map(c => (gi.toLong, unit, c))
      }
      s.createDataFrame(rows).toDF("unit_order", "unit", "label")
        .orderBy("unit_order", "label")
    },

    // -- signal processing (row 17) --
    "sg_smooth" -> { (s, dir) =>
      SignalOps.sgDf(opset(s, dir).df, "value", "record", "t", SgW, SgDeg, 0, "x")
        .select(col("record"), col("t"), round(col("x"), 6).as("x"))
        .orderBy("record", "t")
    },

    "sg_deriv" -> { (s, dir) =>
      SignalOps.sgDf(opset(s, dir).df, "value", "record", "t", SgW, SgDeg, 1, "x")
        .select(col("record"), col("t"), round(col("x"), 6).as("x"))
        .orderBy("record", "t")
    },

    "sg_indicator" -> { (s, dir) =>
      val df = SignalOps.sgDf(opset(s, dir).df, "value", "record", "t", SgW, SgDeg, 1, "_sg")
      SignalOps.indicatorDf(df, "_sg", "record", "t", IndSigma, "z")
        .select(col("record"), col("t"), round(col("z"), 6).as("z"))
        .orderBy("record", "t")
    },

    // -- record splits (row 21) --
    // -- Signal outlier flags (row 17 sibling: exact-moment z-scores) --
    "sg_outliers" -> { (s, dir) =>
      SignalOps.outliers(opset(s, dir).df, "value", "record", "t", 3.0)
        .orderBy("record", "t")
    },

    // -- Per-record cross-correlation at integer lags (row 17 sibling) --
    // Autocorrelation fixture (A == B): lag structure of each record's
    // signal, exact 1e-12-unit integer sums carried as strings.
    "sg_xcorr" -> { (s, dir) =>
      SignalOps.crossCorr(opset(s, dir).df, "value", "value", "record", "t", 3)
        .orderBy("record", "lag")
    },

    // -- Signal resampling (row 17 sibling: the downsampling pass) --
    "sg_resample" -> { (s, dir) =>
      SignalOps.resample(opset(s, dir).df, "value", "record", "t", 20)
        .orderBy("record", "t0")
    },

    "split_left" -> { (s, dir) =>
      val os = opset(s, dir)
      Splits.left(os, Splits.argmaxInstants(os, "value")).df
        .select("record", "t", "event_type", "value").orderBy("record", "t")
    },

    "split_right" -> { (s, dir) =>
      val os = opset(s, dir)
      Splits.right(os, Splits.argmaxInstants(os, "value")).df
        .select("record", "t", "event_type", "value").orderBy("record", "t")
    },

    "split_between" -> { (s, dir) =>
      val os = opset(s, dir)
      val lr = Splits.argmaxInstants(os, "value")
        .select(col("record"), col("i"), least(col("i") + 10L, lit(Long.MaxValue)).as("j"))
      Splits.between(os, lr).df
        .select("record", "t", "event_type", "value").orderBy("record", "t")
    },

    // -- PCA correlation circle (row 16) --
    "pca_corr" -> { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val cols = PcaCols
      val pairs = for (a <- cols; b <- cols if a <= b) yield (a, b)
      val agg = li.agg(
        pairs.map { case (a, b) => corr(col(a), col(b)).as(s"${a}__$b") }.head,
        pairs.tail.map { case (a, b) => corr(col(a), col(b)).as(s"${a}__$b") }: _*)
      val entries = pairs.flatMap { case (a, b) =>
        Seq(lit(s"$a|$b"), round(col(s"${a}__$b"), 6))
      }
      agg.select(explode(map(entries: _*)).as(Seq("pair", "corr")))
        .select(
          substring_index(col("pair"), "|", 1).as("var_a"),
          substring_index(col("pair"), "|", -1).as("var_b"),
          col("corr"))
        .orderBy("var_a", "var_b")
    },

    "pca_circle" -> { (s, dir) =>
      // eigenVECTORS export only: the oracle recovers each eigenvalue as
      // the Rayleigh quotient v'Cv over DuckDB's OWN correlation matrix,
      // then re-derives loadings and EVR — the eigensystem property is
      // checked, not echoed.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val (df, vecs, n) = Pca.circleWithEigen(li, PcaCols, s)
      pcaEigenExport = Some((vecs, n))
      df.orderBy("component", "variable")
    },

    // -- instants pipeline (rows 18-20, 22) --
    "instants_epsilon" -> { (s, dir) =>
      import s.implicits._
      val eps = Indicators.epsilon(opset(s, dir).df, "record", "t", "value", SgW, 1, SgDeg)
      val r = BigDecimal(eps).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((SgW, 1, r)).toDF("w", "d", "eps")
    },

    "instants_features" -> { (s, dir) =>
      cachedBank(s, dir).select(Seq(col("record"), col("t"), col("LEN"), col("REV"),
          round(col("PERCENT"), 6).as("PERCENT"), col("value")) ++
          IndCodes.map(c => round(col(c.name), 6).as(c.name)): _*)
        .orderBy("record", "t")
    },

    // graded surface of the fit: every leaf decision of the fitted tree,
    // hash-checked against the oracle evaluating Selector.treeSql's CASE
    // export over independently computed features (importances remain
    // available via SelectorModel.importances, spec-tested)
    "instants_fit" -> { (s, dir) =>
      val (_, sel) = fittedSelector(s, dir)
      Selector.classify(sel, cachedBank(s, dir), "record", "t").orderBy("record", "t")
    },

    "instants_predict" -> ((s, dir) => computedInstants(s, dir).orderBy("record")),

    "instants_multi" -> { (s, dir) =>
      // multi-signal indicator bank (Indicators.bank's multi-column path):
      // raw signal + derived v2 = value², one fused epsilons/window pass
      val base = opsetWide(s, dir).df.withColumn("v2", col("value") * col("value"))
      val (bankDf, _) = Indicators.bank(base, "record", "t", MultiCodes, SgDeg)
      bankDf.select(col("record"), col("t"),
          round(col(MultiCodes(0).name), 6).as(MultiCodes(0).name),
          round(col(MultiCodes(1).name), 6).as(MultiCodes(1).name))
        .orderBy("record", "t")
    },

    "instants_scores" -> { (s, dir) =>
      val (selected, _) = fittedSelector(s, dir)
      Selector.allScores(selected, computedInstants(s, dir), "record").orderBy("record")
    },

    // -- tubes (rows 23-26) --
    "tube_highlight" -> { (s, dir) =>
      val os = opset(s, dir)
      val lr = Splits.argmaxInstants(os, "value")
        .select(col("record"), col("i"), (col("i") + 10L).as("j"))
      Tube.highlight(os, Splits.between(os, lr)).df
        .select("record", "t", "value", "INTERVAL").orderBy("record", "t")
    },

    "tube_fit1" -> { (s, dir) =>
      val df = opset(s, dir).df.withColumn("TIME", (col("t") - 1).cast("double"))
      Tube.ols1PerRecord(df, "record", "TIME", "value")
        .select(col("record"), round(col("b0"), 6).as("b0"),
          round(col("b1"), 6).as("b1"), round(col("r2"), 6).as("r2"))
        .orderBy("record")
    },

    "tube_fit" -> { (s, dir) =>
      // Ensemble fit over the full factor pool. The kept models are
      // exported as literals (same Verify-time pattern as treeExport) and
      // the oracle RE-SCORES each one: DuckDB reproduces the md5-bucket
      // validation sample, evaluates the exported coefficients, and must
      // land on the same held-out r2 — an independent check of the
      // sampling, the factor algebra, and the scoring.
      val base = Tube.withDerivedFactors(tubeBase(s, dir), "record", "t", "value")
      val models = Tube.fit(base, "record", "t", "value", TubeFitPool,
        samplesPct = TubeFitPct, seed = TubeFitSeed)
      tubeFitExport = Some(models)
      import s.implicits._
      models.zipWithIndex
        .map { case (m, i) => (i.toLong, m.factors.mkString(","),
          BigDecimal(m.r2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toDF("model_id", "factors", "r2").orderBy("model_id")
    },

    "tube_estimate" -> { (s, dir) =>
      Tube.estimate(tubeBase(s, dir), "record", "t", "value", TubeFactors, TubeQ)
        .select(col("record"), col("t"), col("y"), round(col("z"), 6).as("z"),
          round(col("zmin"), 6).as("zmin"), round(col("zmax"), 6).as("zmax"))
        .orderBy("record", "t")
    },

    "tube_scores" -> { (s, dir) =>
      val est = Tube.estimate(tubeBase(s, dir), "record", "t", "value", TubeFactors, TubeQ)
      Tube.scores(est, "record").orderBy("record")
    },

    "tube_scores_multi" -> { (s, dir) =>
      // the reference's records×targets score matrix (tubes.py:392): two
      // fitted targets, one shared shuffle/window pass
      Tube.scoresMatrix(tubeBase(s, dir), "record",
        Seq("value" -> TubeFactors, "SGV" -> Seq("TIME", "TIME2")), TubeQ)
        .orderBy("record")
    },

    // -- LLM: exact dedup (row 27) --
    "dedup_exact" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.exact(docs, "doc_id", Seq("text"))
        .select(col("doc_id"), col("n_chars"), col("dup_count"))
        .orderBy("doc_id")
    },

    "dedup_exact_salted" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.core.Salting.saltedDedupExact(docs, "doc_id", Seq("text"))
        .select("doc_id", "dup_count").orderBy("doc_id")
    },

    // -- LLM: MinHash-LSH near-dedup (row 28) --
    "dedup_minhash_sig" -> { (s, dir) =>
      val docs = graft.core.Fanout.fanOut(
        s.read.parquet(s"$dir/documents.parquet"))
      val base = docs.select(col("doc_id"),
        Dedup.distinctNgramHashes(col("text"), MhShingle).as("sh"))
      Dedup.minhashSignature(base, "sh", MhHashes).drop("sh").orderBy("doc_id")
    },

    "dedup_minhash_pairs" -> ((s, dir) =>
      cachedMinhashPairs(s, dir).orderBy("id_a", "id_b")),

    // Auto-banding twin: rows-per-band/bands chosen from the ACTUAL corpus
    // size by minhashAutoConfig (longer band keys as n grows — the
    // linear-candidate scale path), graded at every SF by ONE static
    // oracle that re-derives the banding dynamically (see minhashAutoCtes).
    "dedup_minhash_auto" -> { (s, dir) =>
      Dedup.minhashLshAuto(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          MhShingle, MhThreshold, targetRecall = MinAutoRecall, s0 = MinAutoS0,
          candPerBand = MinAutoCandPerBand, minRows = MinAutoMinRows,
          maxRows = MinAutoMaxRows, maxBands = MinAutoMaxBands)
        .orderBy("id_a", "id_b")
    },

    // -- Persistent MinHash index: incremental near-dedup (row 28) --
    // The production path: 90% of the corpus (doc_id % 10 != 0) is
    // indexed once (bands + shingle sets + frozen config persisted), the
    // 10% "new batch" dedups against the artifact WITHOUT re-shingling
    // the corpus. Exactness contract: equals the whole-corpus
    // dedup_minhash_pairs run restricted to batch-touching pairs — which
    // is literally what the oracle SQL says.
    "dedup_minhash_incr" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_mh_index_${math.abs(dir.hashCode)}"
      MinhashIndex.write(docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        path, MinhashIndex.Config(MhShingle, MhHashes, MhBands, MhThreshold),
        graft.core.CacheScope.session)
      MinhashIndex.dedupAgainst(docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", path)
        .orderBy("id_a", "id_b")
    },

    "dedup_clusters" -> { (s, dir) =>
      // near-dup CLUSTER assignment: minhash pairs → connected components
      // (min-label propagation) → every document labeled with its
      // component representative + cluster size
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.clusters(docs, "doc_id", cachedMinhashPairs(s, dir)).orderBy("doc_id")
    },

    // -- Structured Streaming near-dup ingestion filter (row 39) --
    // The one streaming row with a batch-SQL oracle: documents replays as
    // a BOUNDED file stream (one parquet file, no maxFilesPerTrigger cap →
    // one micro-batch) with event time monotone in doc_id, the per-bucket
    // first-owner claims land in parquet via foreachBatch (the stateful
    // operator emits updates, which the file sink proper cannot accept),
    // and the landed claims fold to one verdict per document. Under that
    // event-time order, "first owner" of a band
    // bucket is min(doc_id) over the docs sharing the band signature —
    // exactly what the oracle's GROUP BY reproduces, so the stream's
    // no-re-rank claim semantics are graded by DuckDB like any batch
    // operator. Fresh sink+checkpoint dirs per call: a bench pass re-runs
    // the real stream, never a warm checkpoint no-op.
    "stream_neardup" -> { (s, dir) =>
      val path = s"$dir/documents.parquet"
      val schema = s.read.parquet(path).schema
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-nd")
      // the returned (lazy) plan reads claims parquet from this dir, so it
      // cannot be deleted here — but without cleanup a multi-pass bench at
      // sf1 accumulates gigabytes of /tmp staging copies; reap at JVM exit
      // (the input copy + checkpoint, the bulk, go eagerly below)
      deleteAtExit(outPath)
      val out = outPath.toString
      // the file stream source reads a DIRECTORY; stage the single test
      // file into one (a production ingest already points at a landing dir)
      val in = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(out, "in"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        in.resolve("documents.parquet"))
      // +1000s: an event time of exactly epoch 0 (doc_id 0) is not ">"
      // the stateful operator's initial watermark of 0 and gets dropped
      // as late; any positive offset keeps the order monotone in doc_id
      val docs = s.readStream.schema(schema).parquet(in.toString)
        .withColumn("ts", timestamp_seconds(col("doc_id") + 1000))
      val claims = graft.streaming.StreamOps.streamingNearDupClaims(
        docs, "doc_id", "text", "ts",
        shingleLen = MhShingle, numHashes = MhHashes, bands = MhBands)
      withStreamWidth(s, path)(
        graft.streaming.StreamOps.landUpdates(
          claims.toDF(), s"$out/claims", s"$out/ckpt").awaitTermination())
      // the stream is done: the staged input copy and the checkpoint (the
      // bulk of the staging) are dead weight now — only claims/ is read by
      // the returned plan
      deleteTree(in)
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      val verdicts = graft.streaming.StreamOps.nearDupVerdicts(
        s.read.parquet(s"$out/claims"))
      s.read.parquet(path).select(col("doc_id"))
        .join(verdicts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy("doc_id")
    },

    // -- Structured Streaming windowed aggregation (row 39) --
    // Same land-and-grade shape as stream_neardup: events replays as a
    // bounded file stream (one parquet file, no maxFilesPerTrigger cap ->
    // one micro-batch, so every group's single Update-mode emission IS its
    // final aggregate), the watermarked 10 s tumbling windows land via
    // foreachBatch, and the landed rows equal a batch GROUP BY on the
    // window start. The event-time column branches on the READ schema of
    // ts: TIMESTAMP(NANOS) parquet decodes as LONG nanos under the rig's
    // nanosAsLong conf (truncating to micros cannot move an event across
    // a 10 s boundary — boundaries are multiples of 1000 ns), while
    // timestamp[us] parquet decodes as a timestamp type directly (NTZ →
    // the cast to the session type is identity on the stored micros under
    // the UTC sessions this rig pins). Both branches yield the same
    // window grid as the DuckDB oracle's epoch_us floor.
    "stream_counts" -> { (s, dir) =>
      val path = s"$dir/events.parquet"
      val schema = s.read.parquet(path).schema
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-cnt")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(out, "in"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        in.resolve("events.parquet"))
      // The NTZ branch is only window-grid-correct when the session zone
      // is UTC (the cast re-interprets the stored micros in session
      // time); every rig entrypoint pins it, but enforce the invariant at
      // the query site so a caller's non-UTC session fails loudly instead
      // of landing shifted windows.
      val tz = s.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"stream_counts requires spark.sql.session.timeZone=UTC (got $tz): " +
          "the timestamp-schema branch re-interprets stored micros in session time")
      val etCol = schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // ns-vintage: LONG nanos
          timestamp_micros(expr("ts div 1000"))
        case org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.TimestampNTZType =>
          col("ts").cast("timestamp")
        case other => // schema drift: fail here, not as a wrong-but-plausible grid
          throw new IllegalArgumentException(
            s"stream_counts: unsupported events.ts type $other — expected " +
              "LONG (nanos vintage), TIMESTAMP, or TIMESTAMP_NTZ")
      }
      val ev = s.readStream.schema(schema).parquet(in.toString)
        .withColumn("et", etCol)
      val counts = graft.streaming.StreamOps.windowedEventCounts(
        ev, "et", "10 seconds", "10 seconds")
      withStreamWidth(s, path)(
        graft.streaming.StreamOps.landUpdates(
          counts, s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(in)
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      s.read.parquet(s"$out/rows")
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"),
          round(col("avg_value"), 6).as("avg_value"))
        .orderBy("win_start", "event_type")
    },

    // -- Structured Streaming exact dedup (row 39) --
    // dropDuplicatesWithinWatermark replaying documents as the same
    // bounded one-batch stream: with the initial watermark at 0 no state
    // expires mid-batch, so the kept set is exactly one row per distinct
    // text — the streaming form of dedup_exact's GROUP BY. Which physical
    // row wins per key is task-order-dependent, so the graded output is
    // projected to content-derived columns only (md5 + length of the text
    // the key preserves), never the nondeterministic doc_id.
    "stream_dedup" -> { (s, dir) =>
      val path = s"$dir/documents.parquet"
      val schema = s.read.parquet(path).schema
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-dd")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(out, "in"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        in.resolve("documents.parquet"))
      val docs = s.readStream.schema(schema).parquet(in.toString)
        .withColumn("ts", timestamp_seconds(col("doc_id") + 1000))
      val kept = graft.streaming.StreamOps.streamingDedup(docs, Seq("text"), "ts")
      withStreamWidth(s, path)(
        graft.streaming.StreamOps.writeOpsetStore(
          kept.select("text"), s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(in)
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      s.read.parquet(s"$out/rows")
        .select(md5(col("text").cast("binary")).as("fp"),
          length(col("text")).cast("long").as("len"))
        .orderBy("fp")
    },

    // -- Structured Streaming session windows (row 39) --
    // Land-and-grade for StreamOps.sessionWindowCounts: events replays
    // as a bounded stream with ONE sentinel event staged a year past the
    // data's horizon — session windows only support APPEND output (a
    // session emits exactly once, when the watermark closes it), so the
    // sentinel pushes the final watermark beyond every real session's
    // end and the closing no-data micro-batch flushes them all. The
    // sentinel's own session never closes and so never lands (it is
    // also filtered defensively). Oracle = the lag/running-sum batch
    // sessionization with session_window's >= gap break, integer
    // micros end to end.
    "stream_sessions" -> { (s, dir) =>
      import s.implicits._
      val path = s"$dir/events.parquet"
      val ev = s.read.parquet(path)
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-sw")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = s"$out/in"
      val prepped = ev.select(col("user_id"),
        timestamp_micros(EventOps.eventMicros(ev, "ts")).as("et"))
      val horizon = prepped.agg(max(unix_micros(col("et")))).head().getLong(0)
      prepped.unionAll(Seq((-1L, horizon + 365L * 86400 * 1000000))
          .toDF("user_id", "us").select(col("user_id"),
            timestamp_micros(col("us")).as("et")))
        .write.parquet(in)
      val sess = graft.streaming.StreamOps.sessionWindowCounts(
        s.readStream.schema(prepped.schema).parquet(in),
        "et", "user_id", "6 hours", "1 hour")
      withStreamWidth(s, path)(
        graft.streaming.StreamOps.writeOpsetStore(
          sess, s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(java.nio.file.Paths.get(in))
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      s.read.parquet(s"$out/rows")
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          unix_micros(col("session.start")).as("sess_start_us"),
          unix_micros(col("session.end")).as("sess_end_us"),
          col("n_events"))
        .orderBy("user_id", "sess_start_us")
    },

    // -- Structured Streaming HLL sketch maintenance (rows 39 + 58) --
    // Sketches.hllRegisters applies UNCHANGED to a stream: its groupBy
    // (group, bucket) → max(rho) is a stateful aggregation whose state
    // is register-bounded by construction (≤ groups × 2^p rows, ever) —
    // the defining property that makes a sketch streaming-native where
    // exact count-distinct state grows with the keys. Update-mode
    // emissions land per batch; the read-back max-fold is idempotent
    // (re-emitted registers only re-assert their max), and the final
    // estimate is the BATCH estimator over the folded registers. Oracle
    // = the same register + estimator SQL as sketch_hll.
    "stream_hll" -> { (s, dir) =>
      val path = s"$dir/events.parquet"
      val schema = s.read.parquet(path).schema
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-hll")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(out, "in"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        in.resolve("events.parquet"))
      val regs = Sketches.hllRegisters(
        s.readStream.schema(schema).parquet(in.toString),
        Seq("event_type"), col("user_id"), HllP)
      withStreamWidth(s, path)(
        graft.streaming.StreamOps.landUpdates(
          regs, s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(in)
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      val folded = s.read.parquet(s"$out/rows")
        .groupBy("event_type", "bucket")
        .agg(max(col("mj")).cast("int").as("mj"))
      Sketches.hllEstimate(folded, Seq("event_type"), HllP)
        .orderBy("event_type")
    },

    // -- Structured Streaming binned quantiles (rows 39 + 61) --
    // The count table that made binnedQuantiles the no-sort batch plan is
    // register-bounded state (<= groups x nBins rows) — the HLL property —
    // so it streams: fixed bounds (a static reference table) broadcast
    // onto the flow, the SAME pinned bin rule, a stateful (group, bin)
    // count in update mode. Counts only grow, so the landed-emission fold
    // is max per (group, bin), and the final estimator is the shared
    // Stats.binnedQuantilesFromCounts — graded against the IDENTICAL
    // batch oracle as stats_quantiles_binned.
    "stream_quantiles" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("value"))
      val bounds = ev.filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(min(col("value").cast("double")).as("_mn"),
          max(col("value").cast("double")).as("_mx"))
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-q")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = s"$out/in"
      ev.repartition(4).write.parquet(in)
      val cnts = graft.streaming.StreamOps.streamingBinCounts(
        s.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1")
          .parquet(in),
        Seq("event_type"), col("value"), bounds, QuantileBins)
      withStreamWidth(s, s"$dir/events.parquet")(
        graft.streaming.StreamOps.landUpdates(
          cnts, s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(java.nio.file.Paths.get(in))
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      val folded = s.read.parquet(s"$out/rows")
        .groupBy("event_type", "_bin")
        .agg(max(col("_c")).as("_c"))
      Stats.binnedQuantilesFromCounts(folded, bounds,
          Seq("event_type"), QuantilePs, QuantileBins)
        .orderBy("event_type", "p")
    },

    // -- Structured Streaming KMV sketch maintenance (rows 39 + 58) --
    // The corpus replays as a 4-file stream (maxFilesPerTrigger=1 → 4
    // disjoint micro-batches); each batch lands its OWN bottom-k slice,
    // and the read-back kmvMerge re-truncates to the global bottom-k —
    // EXACT vs the whole-corpus sketch because bottom-k under the total
    // (md5, id) order composes over disjoint slices (the oracle-proven
    // sketch_kmv_merge property; the batches are disjoint by id since
    // each event lands once). Zero state store: ≤ k rows per (group,
    // batch) of landed artifact IS the state. Oracle = sketch_kmv's.
    "stream_kmv" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("event_id"), col("value"))
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-kmv")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = s"$out/in"
      ev.repartition(4).write.parquet(in)
      withStreamWidth(s, s"$dir/events.parquet")(
        graft.streaming.StreamOps.streamingKmv(
          s.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1")
            .parquet(in),
          Seq("event_type"), col("event_id"), col("value"), KmvK, KmvSeed,
          s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(java.nio.file.Paths.get(in))
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      Sketches.kmvQuantiles(
          Sketches.kmvMerge(Seq(graft.streaming.StreamOps.readSlices(s, s"$out/rows")),
            Seq("event_type"), KmvK),
          Seq("event_type"), QuantilePs)
        .orderBy("event_type", "p")
    },

    // -- Structured Streaming exact top-k per key (rows 39 + 67) --
    // The continuous leaderboard: events_topk's exact semantics running
    // as a stream — per-batch ≤ k-per-key slices land, the read-back
    // TopK fold IS the global top-k (top-k under a total order composes
    // over disjoint batches). Same oracle family as events_topk.
    "stream_topk" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("value"))
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-topk")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = s"$out/in"
      ev.repartition(4).write.parquet(in)
      withStreamWidth(s, s"$dir/events.parquet")(
        graft.streaming.StreamOps.streamingTopK(
          s.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1")
            .parquet(in),
          Seq("user_id"), Seq(col("value").desc, col("event_id")), 3,
          s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(java.nio.file.Paths.get(in))
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      graft.core.TopK.perKey(graft.streaming.StreamOps.readSlices(s, s"$out/rows"),
          Seq("user_id"), Seq(col("value").desc, col("event_id")), 3)
        .orderBy("user_id", "rank")
    },

    // -- Structured Streaming CDC compaction (row 39) --
    // The streaming twin of events_latest: the SAME struct-max
    // aggregation runs as a stateful streaming query whose state is ONE
    // row per key by construction (the latestSnapshot/sketch property —
    // a changelog compaction never needs more), Update emissions land
    // per batch, and the read-back max-fold is idempotent. Grades
    // against the IDENTICAL batch oracle.
    "stream_latest" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-lt")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = s"$out/in"
      ev.select(col("user_id"), col("event_type"),
          EventOps.eventMicros(ev, "ts").as("tus"), col("event_id"), col("value"))
        .write.parquet(in)
      val stream = s.readStream
        .schema(s.read.parquet(in).schema).parquet(in)
        .groupBy("user_id", "event_type")
        .agg(max(struct(col("tus"), col("event_id"), col("value"))).as("_m"))
      withStreamWidth(s, s"$dir/events.parquet")(
        graft.streaming.StreamOps.landUpdates(
          stream, s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(java.nio.file.Paths.get(in))
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      s.read.parquet(s"$out/rows")
        .groupBy("user_id", "event_type").agg(max(col("_m")).as("_m"))
        .select(col("user_id"), col("event_type"), col("_m.tus").as("last_us"),
          col("_m.event_id").as("event_id"), col("_m.value").as("value"))
        .orderBy("user_id", "event_type")
    },

    // -- Structured Streaming stream-static enrichment (row 39) --
    // The stateless-enrichment claim made graded: per-record mean/sigma
    // train in BATCH (the exact-tick moment pipeline of sg_outliers),
    // broadcast-join into a bounded stream replay of the same signal,
    // and the row-local z-score filter emits in append mode — no state,
    // no watermark, the dimension-probe shape every streaming scorer
    // uses. Oracle = the identical batch sg_outliers SQL.
    "stream_outliers" -> { (s, dir) =>
      val sig = opset(s, dir).df.select(col("record"), col("t"),
        col("value").cast("double").as("value"))
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-ol")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = s"$out/in"
      sig.write.parquet(in)
      val tk = sig.withColumn("_tk", floor(col("value") * 1e6 + 0.5).cast("long"))
      val st = tk.groupBy(col("record")).agg(
        count(lit(1)).as("_n"),
        sum(col("_tk").cast("decimal(38,0)")).as("_s1"),
        sum((col("_tk").cast("decimal(38,0)") * col("_tk")).cast("decimal(38,0)")).as("_s2"))
      val mu = col("_s1").cast("double") / col("_n")
      val sd = sqrt(col("_s2").cast("double") / col("_n") - mu * mu)
      val stats = st.select(col("record"), mu.as("_mu"), sd.as("_sd"))
      val stream = s.readStream.schema(sig.schema).parquet(in)
        .withColumn("_tk", floor(col("value") * 1e6 + 0.5).cast("long"))
        .join(broadcast(stats), Seq("record"))
        .filter(col("_sd") > 0 && abs(col("_tk") - col("_mu")) > lit(3.0) * col("_sd"))
        .select(col("record"), col("t"), col("value"),
          round((col("_tk") - col("_mu")) / col("_sd"), 6).as("z"))
      withStreamWidth(s, s"$dir/events.parquet")(
        graft.streaming.StreamOps.writeOpsetStore(
          stream, s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(java.nio.file.Paths.get(in))
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      s.read.parquet(s"$out/rows").orderBy("record", "t")
    },

    // -- Structured Streaming interval join (row 39) --
    // Land-and-grade for StreamOps.intervalJoin: events replays as a
    // bounded one-file stream read TWICE (clicks side, views side, each
    // its own scan of the staged file), the watermarked time-range inner
    // join runs in append mode, and with one micro-batch every matched
    // pair lands exactly once. The event-time column branches on the ts
    // vintage like stream_counts (interval arithmetic is exact micros on
    // both branches), and the graded surface is integer micros only.
    // Oracle = the batch self-join with the same range predicate.
    "stream_join" -> { (s0, dir) =>
      // stateful-streaming sizing rule: state-store partition count =
      // spark.sql.shuffle.partitions AT QUERY START, and every state
      // partition pays a per-batch commit (delta file + rename) whatever
      // its size. This join's state is KB-sized, so 32 partitions ×
      // 4 stores × batches = hundreds of near-empty commits whose IO
      // latency IS the measured wall (run ≫ cpu, zero fetchWait — the
      // round-11→12 "regression" was the rig's per-commit latency, not a
      // plan change). Size the state to the state, not to the CPU count:
      // an isolated child session pins 8 partitions for the streaming
      // query without mutating the caller's conf. At 100 TB the same
      // rule sizes it UP — partitions ~ state volume / executor memory.
      val s = s0.newSession()
      val path = s"$dir/events.parquet"
      // the same input-size-derived width withStreamWidth applies
      // elsewhere (this query pre-dated the helper with a pinned 8; the
      // child session makes the set-without-restore safe)
      s.conf.set("spark.sql.shuffle.partitions", math.max(1L,
        math.min(32768L, regularFileBytes(path) / (8L << 20) + 1)).toString)
      val schema = s.read.parquet(path).schema
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-ij")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(out, "in"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        in.resolve("events.parquet"))
      def et: Column = schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.TimestampNTZType =>
          col("ts").cast("timestamp")
        case other => throw new IllegalArgumentException(
          s"stream_join: unsupported events.ts type $other")
      }
      def side(tpe: String, prefix: String): DataFrame =
        s.readStream.schema(schema).parquet(in.toString)
          .filter(col("event_type") === tpe)
          .select(col("user_id").as(s"${prefix}_user"),
            col("event_id").as(s"${prefix}_id"), et.as(s"${prefix}_et"))
      val joined = graft.streaming.StreamOps.intervalJoin(
          side("click", "c"), side("view", "v"),
          col("c_user") === col("v_user"), "c_et", "v_et",
          JoinLookback, "1 hour")
        .select(col("c_id").as("click_id"), col("v_id").as("view_id"),
          (unix_micros(col("c_et")) - unix_micros(col("v_et"))).as("delay_us"))
      graft.streaming.StreamOps.writeOpsetStore(
        joined, s"$out/rows", s"$out/ckpt").awaitTermination()
      deleteTree(in)
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      s.read.parquet(s"$out/rows").orderBy("click_id", "view_id")
    },

    // -- Structured Streaming running argmax (row 39) --
    // Land-and-grade for StreamOps.runningArgmax: the canonical opset
    // signal frame (record, t, value) — batch-prepared so stream and
    // oracle agree on the t ordering — replays as a bounded stream, the
    // per-record flatMapGroupsWithState detector emits its running
    // (instant, best) in Update mode, and with ONE micro-batch each
    // record's single emission IS its full-data argmax. The staging
    // write keeps its natural parallelism (32 part files at local[32]):
    // the file source's default maxFilesPerTrigger (1000) puts every
    // staged file in the first AvailableNow batch, so the single-batch
    // contract holds without a coalesce(1) serializing a 10M-row write
    // at the larger SFs. The fold is iteration-order-independent (max
    // value, min t on ties), so the grade is deterministic regardless
    // of file count or order; oracle = batch argmax per record.
    "stream_argmax" -> { (s, dir) =>
      import s.implicits._
      val sig = opset(s, dir).df.select(col("record"), col("t"),
        col("value").cast("double").as("value"))
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-am")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = s"$out/in"
      sig.write.parquet(in)
      val stream = s.readStream.schema(sig.schema).parquet(in)
        .as[graft.streaming.StreamOps.SigEvent]
      val am = graft.streaming.StreamOps.runningArgmax(stream)
        .toDF("record", "instant", "best")
      withStreamWidth(s, s"$dir/events.parquet")(
        graft.streaming.StreamOps.landUpdates(
          am, s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(java.nio.file.Paths.get(in))
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      s.read.parquet(s"$out/rows")
        .select(col("record"), col("instant"), round(col("best"), 6).as("best"))
        .orderBy("record")
    },

    // -- batch event analytics (row 56) --
    "events_sessions" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      EventOps.sessionize(ev, "user_id", EventOps.eventMicros(ev, "ts"),
          "event_id", SessionGapUs)
        .orderBy("user_id", "session_id")
    },

    "events_funnel" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      EventOps.funnel(ev, "user_id", EventOps.eventMicros(ev, "ts"),
          "event_type", FunnelSteps)
        .orderBy("user_id")
    },

    "events_retention" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      EventOps.retention(ev, "user_id", EventOps.eventMicros(ev, "ts"))
        .orderBy("cohort_day", "day_offset")
    },

    // -- Generic two-phase top-k per key (row 67) --
    "events_topk" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.core.TopK.perKey(
          ev.select(col("user_id"), col("event_id"), col("value")),
          Seq("user_id"), Seq(col("value").desc, col("event_id")), 3)
        .orderBy("user_id", "rank")
    },

    "events_latest" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      EventOps.latestSnapshot(ev, Seq("user_id", "event_type"),
          EventOps.eventMicros(ev, "ts"), "event_id", Seq("value"))
        .orderBy("user_id", "event_type")
    },

    // -- Exact pinned-formula quantiles (row 62) --
    "stats_quantiles" -> { (s, dir) =>
      Stats.quantiles(s.read.parquet(s"$dir/events.parquet"),
          Seq("event_type"), col("value"), QuantilePs)
        .orderBy("event_type", "p")
    },

    // The documented approximate swap, graded in its own right: the
    // pinned binned estimator (no per-group sort anywhere — two
    // map-combined scans) against the identical formula in DuckDB.
    // stats_quantiles above stays the exactness-premium option.
    "stats_quantiles_binned" -> { (s, dir) =>
      Stats.binnedQuantiles(s.read.parquet(s"$dir/events.parquet"),
          Seq("event_type"), col("value"), QuantilePs, QuantileBins)
        .orderBy("event_type", "p")
    },

    // Weighted quantiles (row 61 family): the importance-mass threshold
    // primitive. Weight re-derived from event_id so the oracle replays it;
    // ticks keep every cumulative integer-exact.
    "stats_wquantiles" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      Stats.weightedQuantiles(ev, Seq("event_type"), col("value"),
          (col("event_id") % 7 + 1).cast("double"), QuantilePs)
        .orderBy("event_type", "p")
    },

    // Winsorization (row 61 family): per-group [p5, p95] clip — the
    // standard pre-training outlier clip, bounds from the exact two-pass
    // quantiles, clip via one broadcast join (the corpus never shuffles).
    "stats_winsorize" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select("event_id", "event_type", "value")
      Stats.winsorize(ev, Seq("event_type"), col("value"), "value_w", 0.05, 0.95)
        .select(col("event_id"), col("event_type"), round(col("value_w"), 6).as("value_w"))
        .orderBy("event_id")
    },

    // Robust scaling (row 61 family): (v - median)/IQR per group — the
    // outlier-insensitive standardization; zero-IQR groups yield NULL
    // (pinned 0/0 convention).
    "stats_robust_scale" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select("event_id", "event_type", "value")
      Stats.robustScale(ev, Seq("event_type"), col("value"), "value_r")
        .select(col("event_id"), col("event_type"), col("value_r"))
        .orderBy("event_id")
    },

    // -- Equi-depth histogram / quantile binning (row 61) --
    // Pinned interior boundaries (i/8 — exact binary fractions), pinned
    // up-on-tie bucket rule, broadcast boundary assignment: the corpus
    // shuffles only for the final (group, bucket) count.
    "stats_histogram" -> { (s, dir) =>
      Stats.equiDepthHistogram(s.read.parquet(s"$dir/events.parquet"),
          Seq("event_type"), col("value"), HistBuckets)
        .orderBy("event_type", "bucket")
    },

    // -- Deterministic HLL distinct-count sketch (row 58) --
    "sketch_hll" -> { (s, dir) =>
      Sketches.hll(s.read.parquet(s"$dir/events.parquet"),
          Seq("event_type"), col("user_id"), HllP)
        .orderBy("event_type")
    },

    // -- Star-schema join: revenue by region x order-year (row 66) --
    // The canonical OLAP shape Catalyst exists for: two broadcast dims
    // (nation, region) reach the fact chain shuffle-free, the fact-side
    // joins co-shuffle on their keys, and revenue quantizes to exact
    // 1e-4 ticks PER ROW before the integer sum (float revenue sums in
    // shuffle order and cannot be hash-graded).
    "star_join" -> { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val r = s.read.parquet(s"$dir/region.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          (sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e4 + 0.5))
            / 1e4).as("revenue"))
        .orderBy("r_name", "o_year")
    },

    // -- OLAP rollup: event counts at three granularities (row 66) --
    "events_rollup" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      // integer `div`, never `/`: long/long is DOUBLE division in Spark,
      // and float rounding could bump the truncated quotient across a day
      // boundary once day indexes grow past the double mantissa's exact
      // range — the surface stays pure integer arithmetic end to end
      // (same recipe as events_retention).
      ev.withColumn("_tus", EventOps.eventMicros(ev, "ts"))
        .withColumn("day", expr("_tus div 86400000000"))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 1e6 + 0.5)) / 1e6).as("sum_value"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("event_type"), col("day"))
    },

    // -- Integer-tick PageRank over the user/event-type graph (row 65) --
    "graph_pagerank" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val fwd = ev.select(concat(lit("u:"), col("user_id")).as("src"),
        concat(lit("t:"), col("event_type")).as("dst"))
      val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      graft.graph.Graph.pagerank(edges, "src", "dst", PrIters)
        .orderBy("node")
    },

    // -- Exact triangle counting, degree-oriented (row 65) --
    // Co-purchase graph: parts sharing an order (l_linenumber <= 3 caps
    // the per-order fan-out DETERMINISTICALLY at the scan, so the edge
    // count stays linear in SF and the filter pushes into parquet).
    // Orientation bounds wedge candidates by out-degree <= O(sqrt(m)) —
    // the shape that survives a hub vertex where the naive wedge join
    // is quadratic.
    "graph_triangles" -> { (s, dir) =>
      cachedTriangles(s, dir).orderBy("node")
    },

    // Hub-star fixture: 8 hub vertices (ids 0-7, LOW ids on purpose)
    // each adjacent to ~every customer, plus the hub clique so the
    // triangle count is non-trivial. This is the graph where wedge
    // generation decides survival: an id-ordered orientation puts
    // C(|customers|, 2) wedges on every hub apex (the naive SQL DNFs at
    // sf1 — see BENCH_SF1.md), while the (degree, id) orientation gives
    // hubs out-degree ≤ 7 and spokes ≤ 8, so wedges stay linear in the
    // customer count. Same operator, same oracle construction.
    "graph_triangles_hub" -> { (s, dir) =>
      import s.implicits._
      val o = s.read.parquet(s"$dir/orders.parquet")
      val spokes = o.select((col("o_custkey") + lit(8)).cast("long").as("p1"),
        (col("o_orderkey") % 8).cast("long").as("p2"))
      val hubPairs = (for { i <- 0 until 8; j <- i + 1 until 8 }
        yield (i.toLong, j.toLong)).toDF("p1", "p2")
      graft.graph.Graph.triangles(spokes.unionByName(hubPairs), "p1", "p2")
        .orderBy("node")
    },

    // Local clustering coefficient over the same graph, in exact 1e-6
    // ticks — every vertex gets a row (triangle-free ones at 0).
    "graph_clustering" -> { (s, dir) =>
      val edges = cachedCoPurchaseEdges(s, dir)
      // coefficient over the cached triangle numerator — bit-identical
      // to Graph.clustering(edges) (the counts table IS its numerator)
      graft.graph.Graph.clusteringFromCounts(edges, "p1", "p2",
          cachedTriangles(s, dir))
        .orderBy("node")
    },

    // Apex-restricted audit slices (the dedup_cosine_probe pattern
    // applied to the wedge join): canonicalization, degrees, and the
    // (degree, id) orientation run over the WHOLE graph; only wedge
    // generation restricts to the 1/16 md5 apex slice — each triangle is
    // counted at exactly one apex, so the slice is a deterministic
    // sub-multiset an independent engine replays exactly. This is what
    // hash-grades the orientation machinery at the graph decade where
    // the full oracle dies on ~70 GB of wedge spill (BENCH_SF1, sfg10).
    "graph_triangles_probe" -> { (s, dir) =>
      cachedTrianglesProbe(s, dir).orderBy("node")
    },

    // The clustering twin: full degrees, identical tick arithmetic, the
    // numerator over the apex slice — grades the coefficient machinery
    // end-to-end at the same 1/16 wedge cost.
    "graph_clustering_probe" -> { (s, dir) =>
      // coefficient over the cached PROBE numerator — bit-identical to
      // Graph.clusteringProbe(edges) (full degrees, sliced n_tri)
      graft.graph.Graph.clusteringFromCounts(cachedCoPurchaseEdges(s, dir),
          "p1", "p2", cachedTrianglesProbe(s, dir))
        .orderBy("node")
    },

    // Fixed-round k-core peel over the same graph (8 rounds ≥ measured
    // convergence at every graded SF, so the answer IS the 12-core).
    "graph_kcore" -> { (s, dir) =>
      graft.graph.Graph.kcore(cachedCoPurchaseEdges(s, dir), "p1", "p2",
          KcoreK, KcoreRounds)
        .orderBy("node")
    },

    // -- JSONL corpus source round-trip (row 64) --
    // documents egress as JSON lines, re-ingest under the ENFORCED
    // schema with two corrupt lines injected (malformed JSON + a
    // type-violating doc_id) — the good side must round-trip exactly
    // and the quarantine must absorb the rest (count pinned by spec).
    // -- WARC/WET record extraction (row 72) --
    // The crawl-side ingest head: docs wrap as WET conversion records
    // (deterministic URIs; doc_id%11 records declare a WRONG
    // Content-Length and must surface ok=false), concatenate 8 records
    // per blob in doc_id order, and the operator splits + parses them
    // back. Oracle = the closed-form record table.
    "source_warc" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val uri = concat(lit("https://site"), col("doc_id").cast("string"), lit("/doc"))
      val declared = when(col("doc_id") % 11 === 0, octet_length(col("text")) + 1)
        .otherwise(octet_length(col("text")))
      val rec = graft.sources.Warc.record(uri, col("text"), Some(declared))
      val blobs = docs
        .select((col("doc_id") / 8).cast("long").as("g"),
          struct(col("doc_id"), rec.as("r")).as("sr"))
        .groupBy("g")
        .agg(array_join(transform(sort_array(collect_list(col("sr"))),
          s => s.getField("r")), "").as("blob"))
      graft.sources.Warc.extractRecords(blobs.select("blob"), "blob")
        .withColumn("doc_id",
          regexp_extract(col("uri"), "site([0-9]+)/", 1).cast("long"))
        .select("doc_id", "uri", "ok", "payload")
        .orderBy("doc_id")
    },

    "source_jsonl" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val outPath = java.nio.file.Files.createTempDirectory("graft-jsonl")
      deleteAtExit(outPath)
      val corpus = s"$outPath/corpus"
      graft.sources.TextCorpus.writeJsonl(docs, corpus)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(corpus, "part-corrupt.txt"),
        "{not json\n{\"doc_id\": \"xyz\"}\n".getBytes("UTF-8"))
      val (good, _) = graft.sources.TextCorpus.readJsonl(s, corpus, docs.schema)
      good.orderBy("doc_id")
    },

    // -- Salted skew join: result-identical rewrite (row 27 sibling) --
    "join_salted" -> { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      graft.core.Salting.skewJoin(li, ord, Seq("l_orderkey"),
          Seq(col("l_orderkey"), col("l_linenumber")), salts = 8)
        .orderBy("l_orderkey", "l_linenumber")
    },

    // -- Z-order layout key (row 63) --
    "layout_zorder" -> { (s, dir) =>
      graft.sources.Layout.zorderByRange(
          s.read.parquet(s"$dir/lineitem.parquet"), ZCols, ZBits)
        .select(col("l_orderkey"), col("l_linenumber"), col("z_key"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // -- Deterministic count-min sketch: per-user event frequency (row 58) --
    "sketch_cms" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      // ONE events scan: the per-user counts feed both the weighted
      // counter build (identical counters to the per-instance form) and
      // the probe side; the cached table is user-count-sized
      val users = graft.core.CacheScope.session.cache(
        ev.groupBy("user_id").agg(count(lit(1)).as("n_true")))
      val counters = Sketches.cmsCountersWeighted(
        users, col("user_id"), col("n_true"), CmsWidth, CmsDepth)
      Sketches.cmsEstimate(users, col("user_id"), "est", counters, CmsWidth, CmsDepth)
        .orderBy("user_id")
    },

    // -- Deterministic Bloom filter: build on orders, probe customers (row 58) --
    "sketch_bloom" -> { (s, dir) =>
      val words = Sketches.bloomWords(s.read.parquet(s"$dir/orders.parquet"),
        col("o_custkey"), BloomBits, BloomK)
      Sketches.bloomProbe(s.read.parquet(s"$dir/customer.parquet").select("c_custkey"),
          col("c_custkey"), "may_contain", words, BloomBits, BloomK)
        .orderBy("c_custkey")
    },

    // -- Sketch MERGE paths (row 58, the incremental/multi-tenant story) --
    // Each sketch is built on two DISJOINT halves of the data and merged
    // in sketch space (HLL registers by max, Bloom words by bit_or, CMS
    // counters by sum); the oracle is the WHOLE-corpus re-derivation, so
    // a hash match proves merge == union — the property that lets
    // per-partition/per-day sketches combine without touching raw data.
    "sketch_hll_merge" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val halves = Seq(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0))
        .map(h => Sketches.hllRegisters(h, Seq("event_type"), col("user_id"), HllP))
      Sketches.hllEstimate(
          Sketches.hllMergeRegisters(halves, Seq("event_type")), Seq("event_type"), HllP)
        .orderBy("event_type")
    },

    "sketch_cms_merge" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val halves = Seq(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0))
        .map(h => Sketches.cmsCounters(h, col("user_id"), CmsWidth, CmsDepth))
      val users = ev.groupBy("user_id").agg(count(lit(1)).as("n_true"))
      Sketches.cmsEstimate(users, col("user_id"), "est",
          Sketches.cmsMerge(halves), CmsWidth, CmsDepth)
        .orderBy("user_id")
    },

    "sketch_bloom_union" -> { (s, dir) =>
      val o = s.read.parquet(s"$dir/orders.parquet")
      val halves = Seq(o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 =!= 0))
        .map(h => Sketches.bloomWords(h, col("o_custkey"), BloomBits, BloomK))
      Sketches.bloomProbe(s.read.parquet(s"$dir/customer.parquet").select("c_custkey"),
          col("c_custkey"), "may_contain", Sketches.bloomMerge(halves), BloomBits, BloomK)
        .orderBy("c_custkey")
    },

    // -- KMV bottom-k sample sketch: quantile estimates (row 58) --
    // A deterministic uniform row sample (k smallest (md5, id) per group)
    // whose quantiles estimate the population's — the mergeable/streaming
    // form of stats_quantiles, graded bit-for-bit because the sample and
    // the type-7 formula are both pure functions of the ids and values.
    "sketch_kmv" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      Sketches.kmvQuantiles(
          Sketches.kmvSketch(ev, Seq("event_type"), col("event_id"), col("value"),
            KmvK, KmvSeed),
          Seq("event_type"), QuantilePs)
        .orderBy("event_type", "p")
    },

    // Merge path: halves sketched independently, merged in sketch space —
    // bit-identical to the whole-corpus sketch (bottom-k under a total
    // order composes), so the SAME oracle grades it.
    "sketch_kmv_merge" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val halves = Seq(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0))
        .map(h => Sketches.kmvSketch(h, Seq("event_type"), col("event_id"),
          col("value"), KmvK, KmvSeed))
      Sketches.kmvQuantiles(Sketches.kmvMerge(halves, Seq("event_type"), KmvK),
          Seq("event_type"), QuantilePs)
        .orderBy("event_type", "p")
    },

    // -- Bin-bucketed range join (row 69) --
    // Incident attribution: every event joined to the 10-minute windows
    // anchored at 'error' events, aggregated per window. The BETWEEN
    // predicate becomes a shuffle equi-join on the auto-width bin key
    // (Spark's native plan for the theta-join is a nested loop);
    // DuckDB's IEJoin answers the same SQL — an engine-vs-engine read of
    // inequality-join machinery. Integer micros end to end; value sums
    // in 1e-6 ticks.
    "join_range" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val tus = EventOps.eventMicros(ev, "ts")
      val pts = ev.select(tus.as("p_us"), col("value").as("p_value"))
      val win = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("window_id"), tus.as("w_start"),
          (tus + lit(RangeWinUs)).as("w_end"))
      RangeJoin.pointInInterval(pts, win, col("p_us"), col("w_start"), col("w_end"))
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(floor(p_value * 1000000.0 + 0.5) AS BIGINT)")).as("value_ticks"))
        .orderBy("window_id")
    },

    // Interval-overlap twin (row 69): which purchases were decided while
    // an incident was live — 10-min error windows × 5-min purchase
    // attribution windows, canonical-bin dedup-free equi-join rewrite,
    // integer micros and 1e-6 value ticks end to end.
    "join_interval" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val tus = EventOps.eventMicros(ev, "ts")
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("window_id"), tus.as("w_start"),
          (tus + lit(RangeWinUs)).as("w_end"))
      val att = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          (tus - lit(AttrWinUs)).as("a_start"), tus.as("a_end"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("p_ticks"))
      // the SWEEP form (IntervalAgg.overlapStats): this query only
      // aggregates per window, so the pair set RangeJoin.intervalOverlap
      // would materialize is pure intermediate state — and the one part
      // of the plan that grows QUADRATICALLY with event density. The
      // prefix-sum identities compute the same three aggregates from
      // O(W + P) endpoint rows; intervalOverlap remains the operator for
      // callers that need the pairs themselves.
      graft.core.IntervalAgg.overlapStats(err, att, Seq("window_id"),
          col("w_start"), col("w_end"), col("a_start"), col("a_end"),
          col("p_ticks"))
        .select(col("window_id"), col("n_overlaps").as("n_purchases"),
          col("measure_sum").as("value_ticks"),
          col("overlap_len").as("overlap_us"))
        .orderBy("window_id")
    },

    // Generic backward as-of enrichment: each click carries the user's
    // latest purchase ticks at most AsofTolUs old. The union-window plan
    // (NO join — one exchange on user_id) grades against DuckDB's NATIVE
    // ASOF LEFT JOIN, two independent formulations of the semantics.
    "join_asof" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val tus = EventOps.eventMicros(ev, "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), tus.as("tus"))
      // contract: one right sample per (key, time) — equal-time purchases
      // collapse to the max-event_id winner (struct max, id leads)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), tus.as("p_us"),
          col("event_id").as("p_eid"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("ticks"))
        .groupBy("p_user", "p_us")
        .agg(max(struct(col("p_eid"), col("ticks"))).as("_m"))
        .select(col("p_user").as("user_id"), col("p_us"),
          col("_m.ticks").as("ticks"))
      EventOps.asofJoin(clicks, pur, Seq("user_id"), col("tus"), col("p_us"),
          Seq("ticks"), AsofTolUs)
        .select(col("event_id"), col("user_id"), col("tus"),
          col("ticks_ref"), (col("tus") - col("t_ref")).as("age_us"))
        .orderBy("event_id")
    },

    // The FORWARD twin: each click enriches with the user's NEXT purchase
    // within the tolerance — conversion attribution. Same join-free plan
    // on negated times; DuckDB's native ASOF with l.t <= r.t is the
    // independent formulation.
    "join_asof_fwd" -> { (s, dir) =>
      val ev = s.read.parquet(s"$dir/events.parquet")
      val tus = EventOps.eventMicros(ev, "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), tus.as("tus"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), tus.as("p_us"),
          col("event_id").as("p_eid"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("ticks"))
        .groupBy("p_user", "p_us")
        .agg(max(struct(col("p_eid"), col("ticks"))).as("_m"))
        .select(col("p_user").as("user_id"), col("p_us"),
          col("_m.ticks").as("ticks"))
      EventOps.asofJoin(clicks, pur, Seq("user_id"), col("tus"), col("p_us"),
          Seq("ticks"), AsofTolUs, direction = "forward")
        .select(col("event_id"), col("user_id"), col("tus"),
          col("ticks_ref"), (col("t_ref") - col("tus")).as("lead_us"))
        .orderBy("event_id")
    },

    // -- Schema-dynamic table profiling (row 59) --
    "profile_table" -> { (s, dir) =>
      Profile.profile(s.read.parquet(s"$dir/lineitem.parquet"))
        .orderBy("column")
    },

    // The one-pass wide-table twin: per-column HLL distinct estimates
    // (pinned Sketches register contract) — register-sized shuffle
    // regardless of table width or size.
    "profile_table_approx" -> { (s, dir) =>
      Profile.profileApprox(s.read.parquet(s"$dir/lineitem.parquet"))
        .orderBy("column")
    },

    // -- LLM: SimHash near-dedup (row 29) --
    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhash(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // -- LLM: n-gram Jaccard near-dedup (row 30) --
    "dedup_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccard(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          JacN, JacMod, JacThreshold, JacMinShared, JacMaxDf)
        .orderBy("id_a", "id_b")
    },

    // -- LLM: embedding-cosine near-dup (row 31) --
    "dedup_cosine" -> { (s, dir) =>
      Similarity.cosineDup(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          CosDupThreshold, Planes, LshBits, LshTables)
        .orderBy("id_a", "id_b")
    },

    // Auto-granularity twin: bits/tables chosen from the ACTUAL corpus
    // size by lshAutoConfig (occupancy-held buckets — the linear-candidate
    // scale path), graded at every SF by ONE static oracle that re-derives
    // the config dynamically in SQL (see autoCfgCte).
    "dedup_cosine_auto" -> { (s, dir) =>
      Similarity.cosineDupAuto(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          CosDupThreshold, AutoRecall, AutoOcc,
          minBits = AutoMinBits, maxBits = AutoMaxBits, maxTables = AutoMaxTables)
        .orderBy("id_a", "id_b")
    },

    // Deterministic audit slice of dedup_cosine_auto: pairs whose smaller
    // id md5-hashes into the 1/16 probe set. Same full-corpus config, full
    // bucket shuffle, full cap census — only the pair stage restricts, so
    // the oracle's self-join is 1/16-width and FINISHES at sf10 where the
    // full pair set kills every single-node engine on spill (BENCH_SF1:
    // >79 GB). This row is the third-decade HASH cell for the bucket-local
    // cosine machinery; the subset identity is pinned by spec.
    "dedup_cosine_probe" -> { (s, dir) =>
      Similarity.cosineDupProbe(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          CosDupThreshold, idc => substring(md5(idc.cast("string")), 1, 1) === "0",
          AutoRecall, AutoOcc,
          minBits = AutoMinBits, maxBits = AutoMaxBits, maxTables = AutoMaxTables)
        .orderBy("id_a", "id_b")
    },

    // A second, DISJOINT slice (residue '1'): doubles the audited
    // fraction at linear cost and shows the audit is slice-independent —
    // no privileged residue, any 1/16 of the pair space hash-matches.
    "dedup_cosine_probe2" -> { (s, dir) =>
      Similarity.cosineDupProbe(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          CosDupThreshold, idc => substring(md5(idc.cast("string")), 1, 1) === "1",
          AutoRecall, AutoOcc,
          minBits = AutoMinBits, maxBits = AutoMaxBits, maxTables = AutoMaxTables)
        .orderBy("id_a", "id_b")
    },

    // -- LLM: similarity search (rows 32-33) --
    "ann_topk" -> { (s, dir) =>
      Similarity.topK(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          AnnQueryIds, AnnK)
        .orderBy("q_id", "rank")
    },

    // kNN label prediction (row 32 sibling): majority label of the k
    // nearest, labels derived as vec_id % 5 so the oracle re-derives
    // them; vote ties break by the smaller label (pinned).
    "ann_knn" -> { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val labels = emb.select(col("vec_id"), (col("vec_id") % 5).as("lbl"))
      Similarity.knnPredict(emb, "vec_id", "embedding",
          labels, "vec_id", "lbl", AnnQueryIds, AnnK)
        .orderBy("q_id")
    },

    "ann_lsh" -> { (s, dir) =>
      Similarity.lshTopK(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          AnnQueryIds, AnnK, Planes, LshBits, LshTables)
        .orderBy("q_id", "rank")
    },

    // The NO-CONFIG lshTopK — granularity derived from count(*) at the
    // library defaults (LshSearchThreshold, recall 0.9). Graded by the
    // same dynamic oracle machinery as dedup_cosine_auto, re-derived at
    // recall 0.9, so the round-11 "the obvious name is the auto path"
    // doctrine carries an oracle row of its own.
    "ann_lsh_auto" -> { (s, dir) =>
      Similarity.lshTopK(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          AnnQueryIds, AnnK)
        .orderBy("q_id", "rank")
    },

    "ann_ivf" -> { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = cachedIvfCentroids(s, dir)
      ivfCentsExport = Some(cents)
      Similarity.ivfTopK(emb, "vec_id", "embedding", AnnQueryIds, AnnK, cents, nProbe = IvfProbe)
        .orderBy("q_id", "rank")
    },

    // -- ANN recall@k: the measurement that calibrates the approximate
    // path (probes/cells tuned against THIS number, never asserted).
    // Exact top-k vs the frozen-centroid IVF top-k over the same query
    // sample; the oracle composes the two existing SQL constructions.
    "ann_recall" -> { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = cachedIvfCentroids(s, dir)
      ivfCentsExport = Some(cents)
      val exact = Similarity.topK(emb, "vec_id", "embedding", AnnQueryIds, AnnK)
      val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", AnnQueryIds,
        AnnK, cents, nProbe = IvfProbe)
      Similarity.recallAtK(exact, approx, "q_id", "vec_id", AnnK)
        .orderBy("q_id")
    },

    // -- text -> vector -> search, end to end (rows 75 + 32): brute
    // cosine top-k over the hashed embeddings derived FROM TEXT — no
    // pretrained embedding table anywhere; the oracle re-derives every
    // integer of the vectors from md5 closed form and replays the
    // identical cosine (dot and norms over exact integer-valued doubles).
    "ann_text" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val emb = graft.llm.Embeddings
        .hashedEmbeddings(docs, "doc_id", "text", TxtEmbDim, TxtEmbNs)
        .select(col("doc_id").as("vec_id"),
          transform(col("emb"), c => c.cast("double")).as("embedding"))
      Similarity.topK(emb, "vec_id", "embedding", AnnQueryIds, AnnK)
        .orderBy("q_id", "rank")
    },

    // -- LLM: IVF-partitioned index layout (row 33, storage path) --
    // Same centroids/probes as ann_ivf, answered THROUGH a written
    // cell-partitioned parquet index with the scan pruned to the probed
    // cells — graded result-identical to the compute-side operator.
    "ann_indexed" -> { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = cachedIvfCentroids(s, dir)
      ivfCentsExport = Some(cents)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_${math.abs(dir.hashCode)}"
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, path)
      Similarity.ivfIndexTopK(s.read.parquet(path),
          emb.filter(col("vec_id").isin(AnnQueryIds: _*)),
          "vec_id", "embedding", AnnK, cents, IvfProbe)
        .orderBy("q_id", "rank")
    },

    // -- LLM: IVF index APPEND (row 33, maintenance path) --
    // The same search through an index built in TWO batches: write half,
    // append the other half against the index's own frozen centroids
    // (read back from the artifact). Assignment is per-row and
    // batch-independent, so the result is identical to the one-shot
    // index — graded by the SAME frozen-centroid oracle as ann_indexed.
    "ann_indexed_append" -> { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = cachedIvfCentroids(s, dir)
      ivfCentsExport = Some(cents)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_append_${math.abs(dir.hashCode)}"
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cents, path)
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", path)
      Similarity.ivfIndexTopK(s.read.parquet(path),
          emb.filter(col("vec_id").isin(AnnQueryIds: _*)),
          "vec_id", "embedding", AnnK, cents, IvfProbe)
        .orderBy("q_id", "rank")
    },

    // -- Streaming IVF ingest (rows 33+39): vectors replayed as a bounded
    // stream are assigned to their frozen coarse cells and land
    // CELL-PARTITIONED — the streaming half of index maintenance. The
    // landed (vec_id, cell) table grades against the frozen-centroid
    // assignment re-derived in SQL (the ann_ivf asg CTE).
    "stream_ivf_assign" -> { (s, dir) =>
      val path = s"$dir/embeddings.parquet"
      val schema = s.read.parquet(path).schema
      val emb = s.read.parquet(path)
      val cents = cachedIvfCentroids(s, dir)
      ivfCentsExport = Some(cents)
      val outPath = java.nio.file.Files.createTempDirectory("graft-stream-ivf")
      deleteAtExit(outPath)
      val out = outPath.toString
      val in = java.nio.file.Files.createDirectory(java.nio.file.Paths.get(out, "in"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(path),
        in.resolve("embeddings.parquet"))
      val stream = s.readStream.schema(schema).parquet(in.toString)
      withStreamWidth(s, path)(
        graft.streaming.StreamOps.streamingIvfAssign(
          stream, "embedding", cents, s"$out/rows", s"$out/ckpt").awaitTermination())
      deleteTree(in)
      deleteTree(java.nio.file.Paths.get(out, "ckpt"))
      s.read.parquet(s"$out/rows")
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy("vec_id")
    },

    // -- LLM: product-quantization ADC search (row 33, compressed path) --
    // Codebooks train on a deterministic sample, the corpus is searched
    // through its 8-byte codes only (asymmetric distance) — the
    // memory-compressed representation that keeps a 100 TB embedding
    // index in hot storage. Oracle = frozen codebooks, encode + ADC
    // replayed in SQL on integer ticks.
    "ann_pq" -> { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
        m = PqM, ksub = PqKsub, iters = PqIters)
      pqBooksExport = Some(books)
      Similarity.pqTopK(emb, "vec_id", "embedding", AnnQueryIds, AnnK, books)
        .orderBy("q_id", "rank")
    },

    // -- LLM: multimodal binary columns (row 34) --
    "mm_features" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.extractFeatures(Multimodal.asBinary(docs, "doc_id", "text"))
        .toDF().orderBy("doc_id")
    },

    "mm_image" -> { (s, dir) =>
      // REAL image decode, end-to-end checkable: each doc gets a solid
      // PNG whose dims/color are closed forms of doc_id; the bytes travel
      // the actual JDK PNG encoder AND decoder on executors, while the
      // oracle computes the expected features analytically. A decoder bug
      // (channel order, dims, premature EOF) breaks the hash match.
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long")).as[Long]
      val bin = ids.mapPartitions(_.map { id =>
        (id, Multimodal.solidPng(
          (id % 7 + 1).toInt, (id % 5 + 1).toInt,
          (id % 256).toInt, (id * 3 % 256).toInt, (id * 7 % 256).toInt))
      }).toDF("doc_id", "payload")
      Multimodal.imageFeatures(bin).toDF().orderBy("doc_id")
    },

    // Video frame sampling (row 34): synthetic GFTV containers whose
    // frame colors are closed forms of (doc_id, frame_idx) travel the
    // container codec end to end; every 2nd frame explodes to one row.
    // The oracle re-derives the sampled-frame features analytically.
    "mm_frames" -> { (s, dir) =>
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long")).as[Long]
      val bin = ids.mapPartitions(_.map { id =>
        val n = (id % 6 + 1).toInt
        (id, Multimodal.syntheticVideo((id % 4 + 1).toInt, (id % 3 + 1).toInt,
          (0 until n).map(f => (((id + 11 * f) % 256).toInt,
            ((id * 3 + 17 * f) % 256).toInt, ((id * 7 + 23 * f) % 256).toInt))))
      }).toDF("doc_id", "payload")
      Multimodal.frameSample(bin, everyK = 2).toDF()
        .orderBy("doc_id", "frame_idx")
    },

    // Audio features (row 34 modality set): each doc gets a REAL mono
    // RIFF/WAVE whose samples are closed forms of (doc_id, i); doc_id%9
    // payloads are truncated by one byte and must degrade to ok=false.
    // The bytes travel the genuine container layout end to end; the
    // oracle re-derives every feature analytically.
    "mm_audio" -> { (s, dir) =>
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long")).as[Long]
      val bin = ids.mapPartitions(_.map { id =>
        val n = (id % 50 + 10).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 13 + i.toLong * 37) % 2001 - 1000).toShort)
        val wav = Multimodal.pcmWav((8000 + (id % 4) * 2000).toInt, 1, samples)
        (id, if (id % 9 == 0) wav.dropRight(1) else wav)
      }).toDF("doc_id", "payload")
      Multimodal.audioFeatures(bin).toDF().orderBy("doc_id")
    },

    // Image perceptual hashes (dHash + aHash) off REAL PNG decode: each
    // doc gets a gradient PNG whose pixel (x, y) is a closed form of
    // doc_id — docs in the same quad (doc_id - doc_id % 4) share dims
    // and differ by a small constant channel offset, so quads are
    // genuine image near-dups (few dHash bits flip, only at %256 wrap
    // seams). The oracle replays the pinned sample-grid/luma/bit
    // construction analytically; a decode or grid-arithmetic bug breaks
    // the hash match.
    "mm_phash" -> { (s, dir) =>
      cachedImageHashes(s, dir).orderBy("doc_id")
    },

    // Image near-dup pairs (the Dedup banding doctrine on the image
    // modality): 8 Hamming bands over the 56-bit dHash, band-local
    // candidates only, exact bit_count(xor) re-rank, hot-band cap.
    "dedup_phash" -> { (s, dir) =>
      Multimodal.phashDup(cachedImageHashes(s, dir))
        .orderBy("id_a", "id_b")
    },

    // Image near-dup CLUSTERS (rows 73 + 28's component machinery
    // composed): the banded Hamming pairs feed the same pointer-jumping
    // min-label components as the minhash clusters — every image labeled
    // with its duplicate-group representative + group size (the keep-one
    // rewrite reads "keep cluster_id == doc_id").
    "dedup_phash_clusters" -> { (s, dir) =>
      val hashes = cachedImageHashes(s, dir)
      val pairs = Multimodal.phashDup(hashes).select("id_a", "id_b")
      Dedup.clusters(hashes.select("doc_id"), "doc_id", pairs).orderBy("doc_id")
    },

    // BPE vocab TRAINING (row 37's training half): the Sennrich merge
    // loop — one corpus pass to the word-frequency table, then 12
    // metadata-sized argmax+splice rounds; graded on the learned merge
    // table, with DuckDB replaying every round as unrolled CTEs.
    "text_bpe_train" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(lower(col("text")).as("text"))
      TextAnalysis.trainBpeMerges(docs, "text", BpeTrainRounds)
        .select(col("rank"), col("left").as("merge_left"),
          col("right").as("merge_right"), col("pair_count"))
        .orderBy("rank")
    },

    // Vocab-driven subword tokenization (row 37, the real-token-budget
    // upgrade): greedy longest-match ids against the shared BpeVocab —
    // native one-trie-pass expression; graded on count + id-sequence
    // fingerprint, with DuckDB replaying the greedy rule as bounded
    // unrolled iteration over distinct words.
    "text_tokens_bpe" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val ids = TextAnalysis.subwordIds(lower(col("text")), BpeVocab)
      docs.select(col("doc_id"),
          size(ids).cast("long").as("n_bpe"),
          Dedup.md5Hash32(array_join(transform(ids, i => i.cast("string")), "|"))
            .as("bpe_fp"))
        .orderBy("doc_id")
    },

    // Merge-order BPE encode (row 37, the train->encode closure): train
    // the merge table on the corpus, then apply the merges by RANK (the
    // Sennrich apply loop — not greedy longest-match); the oracle
    // re-derives the merges AND the rank-order application in SQL.
    "text_tokens_ranked" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
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
    },

    // -- LLM: text analysis (rows 35-38) --
    "text_tokens" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_tokens_bpe"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    "text_quality" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id") +:
          TextAnalysis.qualityCols(col("text")).map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    },

    // Learned quality classifier (fastText-style, the stack's third
    // filter after heuristics and LM perplexity): labels distill the
    // heuristic quality score (>= ~median), spark.ml LogisticRegression
    // fits over hashed unigram+bigram count features (the DSIR gram
    // space), and scoring is the pinned integer-tick logit — one
    // codegen'd projection, zero shuffle. The oracle RE-SCORES every doc
    // from the exported tick weights (the tube_fit pattern), grading the
    // gram hashing, bucket lookup, and tick arithmetic end to end.
    // Training is bounded by the exact-k per-label budget (ClsTrainCap)
    // so the fit's cost never scales with the corpus.
    "text_classifier" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val quality = TextAnalysis.qualityCols(col("text"))
        .find(_._1 == "quality").get._2
      val model = graft.llm.Classifier.fit(docs, "doc_id", "text",
        (quality >= ClsLabelThreshold).cast("double"),
        ClsDim, trainCapPerLabel = ClsTrainCap)
      clsExport = Some(model)
      // fanOut the corpus-wide scoring scan (per-row gram digests)
      graft.llm.Classifier.score(graft.core.Fanout.fanOut(docs),
          "doc_id", "text", model)
        .orderBy("doc_id")
    },

    "text_langid" -> { (s, dir) =>
      // three projections on purpose (the CSE aliasing rule): lower
      // once, ONE fused scan producing scores AND the argmax
      // (graft_lang_best), then constant-time field reads — the
      // greatest/when-chain argmax projection is gone entirely
      // ...and the sort runs FIRST, over raw (doc_id, text) rows: an
      // orderBy ABOVE the scan projection evaluates it twice (range-
      // sampler pass + shuffle write — the round-15 rule); sorting thin
      // rows then projecting runs the scan once, order preserved
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val langs = TextAnalysis.LangStopwords.map(_._1)
      docs.orderBy("doc_id")
        .select(col("doc_id"), lower(col("text")).as("_lt"))
        .select(col("doc_id"), TextAnalysis.langBestStruct(col("_lt")).as("_lb"))
        .select(col("doc_id") +:
          langs.zipWithIndex.map { case (l, k) =>
            element_at(col("_lb.scores"), k + 1).as(s"s_$l") } :+
          TextAnalysis.langNameFromBest(col("_lb.best")).as("lang_id"): _*)
    },

    "text_fingerprint" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // -- LLM: text -> vector (row 75) -- hashing-trick document
    // embeddings, the link from the raw-text head to the vector stack
    // (ANN / SemDeDup). Grading: the exact integer vector plus the
    // normalized components as 1e-6 ticks (integer-exact — one IEEE
    // division per component of exact ints), arrays stringified per the
    // no-array-output convention. One native scan, zero shuffle.
    "text_embed" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
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
    },

    // -- LLM: within-document repetition stats (row 45) --
    "text_repetition" -> { (s, dir) =>
      TextAnalysis.repetition(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    },

    // -- LLM: corpus assembly (rows 42-43) --
    "pipe_sample" -> { (s, dir) =>
      Pipeline.sampleStratified(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "lang", PipeFractions, PipeDefaultFrac, PipeSeed)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // Exact-k twin (row 42): exactly 25 docs per language in hash order —
    // the count-contract sample (holdouts/probe sets/labeling budgets).
    "pipe_sample_k" -> { (s, dir) =>
      Pipeline.sampleExactK(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "lang", 25, PipeSeed)
        .select("doc_id", "lang", "source", "sample_rank")
        .orderBy("lang", "sample_rank")
    },

    // -- LLM: DSIR importance weighting + Gumbel-top-k selection (row 52) --
    "dsir_weights" -> ((s, dir) =>
      cachedDsirWeights(s, dir).orderBy("doc_id")),
    "dsir_sample" -> { (s, dir) =>
      Pipeline.resampleTopK(cachedDsirWeights(s, dir), "doc_id",
          DsirK, DsirSeed, 1.0, DsirDenom)
        .orderBy(col("g_key").desc, col("doc_id"))
    },
    // Same selection semantics through the histogram-threshold plan (no
    // driver-side heap merge) — the corpus-sized-k path, graded against
    // the identical SQL top-k.
    "dsir_select" -> { (s, dir) =>
      Pipeline.resampleThreshold(cachedDsirWeights(s, dir), "doc_id",
          DsirKSel, DsirSeed, 1.0, DsirDenom)
        .orderBy(col("g_key").desc, col("doc_id"))
    },

    // -- LLM: mixture/quota sampling by source (row 53) --
    "pipe_mixture" -> { (s, dir) =>
      Pipeline.sampleToMixture(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "source", MixShares.toMap, MixTotal, MixSeed)
        .orderBy("doc_id")
    },

    // -- LLM: URL canonicalization + per-domain caps (row 55) --
    "url_normalize" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), urlInjected.as("_u"))
      docs.withColumn("url_norm", Web.urlNormalize(col("_u")))
        .select(col("doc_id"), col("url_norm"),
          Web.urlDomain(col("url_norm")).as("domain"))
        .orderBy("doc_id")
    },
    "url_domcap" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), urlInjected.as("_u"))
        .withColumn("domain", Web.urlDomain(Web.urlNormalize(col("_u"))))
      Web.capPerDomain(docs, "doc_id", "domain", DomCapK, DomCapSeed)
        .select("doc_id", "domain")
        .orderBy("doc_id")
    },

    // -- LLM: end-to-end corpus cleaning (row 54) --
    "pipe_clean" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Pipeline.cleanCorpus(docs,
          docs.filter(col("doc_id") % DecBenchMod === 0),
          "doc_id", "text", CleanLang, CleanMinQuality, CleanMaxTwf,
          DecN, DecMinHits)
        .orderBy("doc_id")
    },

    // The WHOLE funnel from markup (rows 71 + 54 composed): crawl-shaped
    // HTML in, cleaned corpus out — stage 0 extraction inside
    // cleanCorpus(fromHtml = true), then the identical filter/dedup/
    // decon/redact funnel over the EXTRACTED text. The bench side is
    // extracted too (decontamination grams live in text space).
    "pipe_clean_html" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
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

    // -- The doc funnel COMPOSED BELOW the C4 line stage (row 54): the
    // multi-line page is line-cleaned in place (flagged docs drop,
    // text rewrites to surviving lines), then the standard
    // lang/quality/dedup/decon funnel runs over the cleaned text.
    "pipe_clean_c4" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
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

    // -- The WHOLE pipeline as ONE composed query (rows 71+54+74+44+43+46):
    // crawl markup -> extraction -> heuristic+trained-classifier cleaning
    // -> exact dedup -> decontamination -> sequence packing -> deterministic
    // shuffle. The single number the 100 TB story hangs on: every stage's
    // plan composes without a collect or an extra corpus shuffle beyond
    // the stages' own documented exchanges.
    "pipe_funnel" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // fanOut ONCE at the extraction: every funnel consumer (the fit's
      // label evaluation, the decon bench census, cleanCorpus, packing)
      // re-executes this projection, and each would otherwise run the
      // HTML extraction single-task over the one-row-group scan
      // (cleanCorpus's internal fanOut sees the repartition and skips)
      // ...and CACHE it: the funnel re-reads the extracted corpus from
      // SIX consumers (classifier sample, label evaluation, decon bench
      // census, cleanCorpus head, survivor semi-join, packing/shuffle) —
      // without a materialization the extraction subtree appeared 17
      // times in the physical plan (measured, plans/r18). One pass
      // extracts; every later stage reads the materialized table — the
      // same "move the heavy bytes once" doctrine as a production funnel
      // that lands extracted text before cleaning. MEMORY_AND_DISK by
      // default, dropped with the session caches between bench passes.
      val extracted = graft.core.Fanout.fanOut(
        docs.select(col("doc_id"), col("source"),
          Html.extractText(htmlInjected).as("text"))).cache()
      val bench = extracted.filter(col("doc_id") % DecBenchMod === 0)
        .select("doc_id", "text")
      val quality = TextAnalysis.qualityCols(col("text"))
        .find(_._1 == "quality").get._2
      // knownCount: `extracted` is a pure projection of the documents
      // scan, so its row count is the table's — one metadata-speed
      // count on the bare scan replaces the budget probe's full
      // HTML-extraction pass (the knownCount escape hatch this exists for)
      val model = graft.llm.Classifier.fit(extracted, "doc_id", "text",
        (quality >= ClsLabelThreshold).cast("double"),
        ClsDim, trainCapPerLabel = ClsTrainCap,
        knownCount = Some(docs.count()))
      funnelClsExport = Some(model)
      val clean = Pipeline.cleanCorpus(extracted.select("doc_id", "text"),
        bench, "doc_id", "text", CleanLang, CleanMinQuality, CleanMaxTwf,
        DecN, DecMinHits, classifier = Some(model))
      val survivors = extracted.join(clean.select("doc_id"), Seq("doc_id"), "left_semi")
      val packed = Pipeline.packSequences(survivors, "doc_id", "text", "source", PipeBudget)
      val shuffled = Pipeline.shuffleDeterministic(
        survivors.select("doc_id"), "doc_id", PipeSeed, PipeShards)
      packed.join(shuffled, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("bin"), col("spans"),
          col("shard"), col("pos"))
        .orderBy("doc_id")
    },

    "pipe_pack" -> { (s, dir) =>
      Pipeline.packSequences(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", "source", PipeBudget)
        .orderBy("doc_id")
    },

    // -- LLM: corpus-relative commonness (row 47) --
    // VocabK = 20 keeps part of the ~30-word test vocabulary OOV, so
    // in_vocab_frac discriminates at every SF.
    "text_commonness" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.commonness(docs, TextAnalysis.vocabulary(docs, "text", VocabK))
        .orderBy("doc_id")
    },

    // -- LLM: hashed bigram-LM perplexity scoring (row 60) --
    "text_perplexity" -> { (s, dir) =>
      TextAnalysis.bigramNll(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", None, PplUniBuckets, PplBigBuckets)
        .orderBy("doc_id")
    },

    // -- LLM: PMI collocations (row 63) --
    "text_collocations" -> { (s, dir) =>
      TextAnalysis.collocations(s.read.parquet(s"$dir/documents.parquet"),
          "text", CollMinCount, CollK)
        .orderBy(desc("pmi"), col("w1"), col("w2"))
    },

    // -- LLM: BM25 lexical retrieval (row 57) --
    "text_bm25" -> { (s, dir) =>
      Retrieval.bm25TopK(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          Bm25Queries, Bm25K, Bm25K1, Bm25B)
        .orderBy("query_id", "rank")
    },

    // -- LLM: corpus-duplicated passages (row 48) --
    "text_passages" -> { (s, dir) =>
      Dedup.dupPassageStats(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", PassN, PassMinDocs)
        .orderBy("doc_id")
    },

    // -- LLM: exact-substring duplicated spans (row 76) --
    // Locate the corpus-duplicated passages themselves (Lee et al.
    // 2022): maximal runs of tokens covered by grams in >= SpanMinDocs
    // documents, as 0-based (start, len) per doc.
    "dedup_spans" -> { (s, dir) =>
      Dedup.dupSpans(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", SpanN, SpanMinDocs)
        .orderBy("doc_id", "span_start")
    },

    // The excision rewrite over the same span table: duplicated tokens
    // drop, survivors re-join; the cleaned stream is graded by
    // fingerprint (a wrong excision anywhere moves the md5-32).
    "dedup_spans_clean" -> { (s, dir) =>
      Dedup.removeDupSpans(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", SpanN, SpanMinDocs)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          Dedup.md5Hash32(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },

    // -- LLM: C4 line-level cleaning (row 54's sub-document stage) --
    // Lines survive on terminal punctuation + word floor + no
    // "javascript"; lorem-ipsum / brace docs are flagged for dropping.
    "pipe_clean_lines" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), c4Injected.as("_pg"))
      val c = TextAnalysis.c4LineCols(col("_pg")).toMap
      docs.select(col("doc_id"), c("n_lines").as("n_lines"),
          c("n_kept").as("n_kept"), c("drop_doc").as("drop_doc"),
          Dedup.md5Hash32(c("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },

    // The Lee et al. KEEP-ONE rewrite: every duplicated span string
    // survives in exactly one place (smallest (doc_id, start)); all
    // other occurrences are excised. Same graded surface.
    "dedup_spans_keep1" -> { (s, dir) =>
      Dedup.removeDupSpansKeepOne(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", SpanN, SpanMinDocs)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          Dedup.md5Hash32(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    },

    // -- LLM: PII detection/redaction (row 49) --
    // Counts per PII kind plus the rolling-hash fingerprint of the
    // redacted text — the fingerprint pins the full redacted string (a
    // wrong replacement anywhere moves it) without shipping long text
    // through the grading hash.
    // -- LLM: HTML → text extraction + boilerplate removal (row 71) --
    // The funnel's head: full-page template injected around each doc
    // (htmlInjected), extracted by the pinned pipeline; the oracle is the
    // template's closed-form ground truth.
    "text_extract" -> { (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), htmlInjected.as("_h"))
        .select(col("doc_id"), Html.extractText(col("_h")).as("extracted"))
        .orderBy("doc_id")
    },

    // Link extraction (row 71 family): the htmlInjected template's known
    // anchor set — nav (3), conditional read-more (doc_id%3), footer
    // (2) — recovered as an exploded (href, anchor text) edge list in
    // page order; the oracle states the closed-form edge table.
    "text_links" -> { (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), posexplode(Html.links(htmlInjected)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col.href").as("href"), col("col.text").as("anchor_text"))
        .orderBy("doc_id", "pos")
    },

    "text_pii" -> { (s, dir) =>
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), piiInjected.as("_t"))
      TextAnalysis.piiAnalysis(base, "doc_id", "_t").orderBy("doc_id")
    },

    // -- LLM: document chunking (row 50) --
    "pipe_chunks" -> { (s, dir) =>
      Pipeline.chunk(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "text", ChunkSize, ChunkStride)
        .orderBy("doc_id", "chunk_id")
    },

    // -- LLM: chunking in SUBWORD space (rows 50 + 37 composed) --
    // The retrieval budget measured in the tokens the model sees: greedy
    // subword ids against the shared BpeVocab, windows of ChunkSize ids
    // with ChunkStride overlap, chunk identity = hash of the id slice.
    "pipe_chunks_bpe" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), lower(col("text")).as("text"))
      Pipeline.chunkSubwords(docs, "doc_id", "text", BpeVocab, ChunkSize, ChunkStride)
        .orderBy("doc_id", "chunk_id")
    },

    // -- LLM: SemDeDup semantic near-dup (row 51) --
    "dedup_semantic" -> { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", SemK, SemIters)
      semCentsExport = Some(cents)
      Similarity.semanticDup(emb, "vec_id", "embedding", SemThreshold, cents)
        .orderBy("id_a", "id_b")
    },

    // -- LLM: SemDeDup, auto-scaled cluster count (row 51, scale path) --
    "dedup_semantic_auto" -> { (s, dir) =>
      Similarity.semanticDupAuto(s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", SemThreshold, SemAutoOcc)
        .orderBy("id_a", "id_b")
    },

    // -- SemDeDup from RAW TEXT (rows 51 + 75): the whole semantic-dedup
    // path with no pretrained embedding table — hashed-gram vectors feed
    // the same cluster-blocked near-dup operator; oracle re-derives the
    // vectors closed-form and replays the frozen-quantizer chain.
    "dedup_text" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val emb = graft.llm.Embeddings
        .hashedEmbeddings(docs, "doc_id", "text", TxtEmbDim, TxtEmbNs)
        .select(col("doc_id").as("vec_id"),
          transform(col("emb"), c => c.cast("double")).as("embedding"))
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", SemK, SemIters)
      semTextCentsExport = Some(cents)
      Similarity.semanticDup(emb, "vec_id", "embedding", TxtSemThreshold, cents)
        .orderBy("id_a", "id_b")
    },

    // -- LLM: IVF search over the auto-scaled quantizer (row 33, scale path) --
    "ann_ivf_auto" -> { (s, dir) =>
      Similarity.ivfTopKAuto(s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", AnnQueryIds, AnnK, SemAutoOcc,
          AnnAutoProbe1, AnnAutoProbe2)
        .orderBy("q_id", "rank")
    },

    // -- ANN probe widths CHOSEN by the graded recall measurement (row
    // 33, the calibration loop closed): ivfAutoProbe ladders (coarse,
    // fine) until mean recall@k over the deterministic calibration
    // sample reaches ProbeAutoTarget; the search at the chosen config is
    // what ships — and what the oracle replays from the exported widths.
    "ann_probe_auto" -> { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cfg = Similarity.ivfAutoProbe(emb, "vec_id", "embedding", AnnK,
        ProbeAutoTarget, nCalib = 12, targetOccupancy = SemAutoOcc)
      probeAutoExport = Some((cfg.nProbeCoarse, cfg.nProbeFine))
      Similarity.ivfTopKAuto(emb, "vec_id", "embedding", AnnQueryIds, AnnK,
          SemAutoOcc, cfg.nProbeCoarse, cfg.nProbeFine)
        .orderBy("q_id", "rank")
    },

    // -- LLM: deterministic corpus shuffle (row 46) --
    "pipe_shuffle" -> { (s, dir) =>
      Pipeline.shuffleDeterministic(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", PipeSeed, PipeShards)
        .orderBy("doc_id")
    },

    // -- LLM: benchmark decontamination (row 44) --
    // Eval set = every DecBenchMod-th document, train = the rest; flag
    // train docs sharing any word DecN-gram with the eval set.
    "decon_flags" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Pipeline.decontaminate(
          docs.filter(col("doc_id") % DecBenchMod =!= 0),
          docs.filter(col("doc_id") % DecBenchMod === 0),
          "doc_id", "text", DecN, DecMinHits)
        .orderBy("doc_id")
    },

    "decon_clean" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Pipeline.decontaminated(
          docs.filter(col("doc_id") % DecBenchMod =!= 0),
          docs.filter(col("doc_id") % DecBenchMod === 0),
          "doc_id", "text", DecN, DecMinHits)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // -- LLM: fuzzy (MinHash) decontamination (row 44, near-dup guard) --
    "decon_fuzzy" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Pipeline.decontaminateFuzzy(
          docs.filter(col("doc_id") % DecBenchMod =!= 0),
          docs.filter(col("doc_id") % DecBenchMod === 0),
          "doc_id", "text", MhShingle, MhHashes, MhBands, MhThreshold)
        .orderBy("doc_id")
    },

    // -- plot data preparation (rows 6, 11-15) --
    "plot_signal" -> { (s, dir) =>
      PlotData.signalTrace(opset(s, dir).get("1"), Seq("record", "t"), "value",
          col("event_type") === "error")
        .orderBy("t")
    },

    // fanOut deliberately NOT applied to the 1-2-column melts (plot_sel/
    // byunit/ts): measured regressions — the melt is cheap per row and
    // the round-robin exchange costs more than the serial scan saves
    "plot_sel" -> { (s, dir) =>
      PlotData.selplot(lineitemLabeled(s, dir), Seq("l_orderkey", "l_linenumber"),
          LineitemLabels.map(_._2), Some("PRICE"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    "plot_byunit" -> { (s, dir) =>
      PlotData.byunitplot(lineitemLabeled(s, dir), Seq("l_orderkey", "l_linenumber"),
          LineitemLabels.map(_._2), "%")
        .orderBy("l_orderkey", "l_linenumber", "variable")
    },

    "plot_group" -> { (s, dir) =>
      PlotData.groupplotStandardized(lineitemLabeled(s, dir),
          Seq("l_orderkey", "l_linenumber"), LineitemLabels.map(_._2))
        .orderBy("l_orderkey", "l_linenumber", "variable")
    },

    "plot_double" -> { (s, dir) =>
      PlotData.doubleplot(graft.core.Fanout.fanOut(lineitemLabeled(s, dir)),
          Seq("l_orderkey", "l_linenumber"),
          LineitemLabels.map(_._2), Seq("QTY"))
        .orderBy("pane", "l_orderkey", "l_linenumber", "variable")
    },

    "plot_ts" -> { (s, dir) =>
      PlotData.melt(opset(s, dir).df, Seq("record", "t"), Seq("value"))
        .orderBy("record", "t")
    },
  )

  def oracleSql: Map[String, String] = Map(
    "opset_records" ->
      s"WITH $OpsetCte SELECT DISTINCT record FROM opset ORDER BY record",

    "opset_get" ->
      s"WITH $OpsetCte SELECT record, t, event_type, value FROM opset WHERE record = '1' ORDER BY t",

    "opset_slice" ->
      s"""WITH $OpsetCte, $RecordIdxCte
         |SELECT o.record, o.t, o.event_type, o.value
         |FROM opset o JOIN idx USING (record)
         |WHERE idx.pos >= 2 AND idx.pos < 5
         |ORDER BY o.record, o.t""".stripMargin,

    "opset_put" ->
      s"""WITH $OpsetCte, put AS (
         |  SELECT record, t, event_type, value FROM opset WHERE record <> '1'
         |  UNION ALL
         |  SELECT record, t, event_type, value + 100.0 AS value FROM opset WHERE record = '1'
         |)
         |SELECT record, CAST(t - 1 AS BIGINT) AS i
         |FROM (SELECT record, t,
         |             row_number() OVER (PARTITION BY record ORDER BY value DESC, t) AS rn
         |      FROM put)
         |WHERE rn = 1 ORDER BY record""".stripMargin,

    "opset_nav" ->
      s"WITH $OpsetCte, $RecordIdxCte SELECT pos, record FROM idx WHERE pos = 3",

    "opset_clean" -> "SELECT CAST(0 AS BIGINT) AS n",

    "opset_sorted" ->
      s"""WITH $OpsetCte
         |SELECT record,
         |       CAST(row_number() OVER (ORDER BY -CAST(record AS BIGINT), record) - 1 AS BIGINT) AS pos
         |FROM (SELECT DISTINCT record FROM opset)
         |ORDER BY pos""".stripMargin,

    // mirrors Opset.asof's union + running last_value(IGNORE NULLS)
    // exactly (the operator only COPIES doubles, so the engines agree
    // bit-for-bit); right rows sort before left at equal t via _src
    "opset_asof" ->
      s"""WITH $OpsetCte, u AS (
         |  SELECT record, t, value, CAST(NULL AS DOUBLE) AS value_ref, 1 AS _src FROM opset
         |  UNION ALL
         |  SELECT record, t, CAST(NULL AS DOUBLE), value, 0 FROM opset WHERE (t - 1) % 5 = 0
         |), f AS (
         |  SELECT record, t, value, _src,
         |         last_value(value_ref IGNORE NULLS) OVER (
         |           PARTITION BY record ORDER BY t, _src
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ref
         |  FROM u
         |)
         |SELECT record, t, value, value_ref FROM f WHERE _src = 1
         |ORDER BY record, t""".stripMargin,

    "meta_nameunit" ->
      ("SELECT * FROM (VALUES " +
        MetaLabels.map { lab =>
          val (n, u) = ColumnMeta.nameunit(lab)
          s"('${lab}', '${n}', '${u}')"
        }.mkString(", ") +
        ") t(label, name, unit) ORDER BY label"),

    "meta_byunits" ->
      ("SELECT * FROM (VALUES " +
        ColumnMeta.byunits(MetaLabels).zipWithIndex.flatMap { case ((unit, cols), gi) =>
          cols.map(c => s"(CAST($gi AS BIGINT), '$unit', '$c')")
        }.mkString(", ") +
        ") t(unit_order, unit, label) ORDER BY unit_order, label"),

    "sg_smooth" -> sgOracle(0),

    "sg_deriv" -> sgOracle(1),

    "sg_indicator" -> {
      val (ctes, rel) = SignalOps.indicatorOracleCtes(
        "opset", "value", "record", "t", SgW, SgDeg, 1, IndSigma)
      s"""WITH $OpsetCte, $ctes
         |SELECT record, t, round(z, 6) AS z FROM $rel ORDER BY record, t""".stripMargin
    },

    "sg_outliers" -> outliersSql,

    // autocorrelation re-derived as a self-join on (record, t + lag);
    // HUGEINT sum surfaces as VARCHAR to match the Spark DECIMAL string
    "sg_xcorr" ->
      s"""WITH $OpsetCte, q AS (
         |  SELECT record, t, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS a
         |  FROM opset
         |), lg AS (
         |  SELECT unnest(range(-3, 4)) AS lag
         |)
         |SELECT q.record, lg.lag, CAST(count(p.a) AS BIGINT) AS n_pairs,
         |       CAST(sum(CAST(q.a AS HUGEINT) * p.a) AS VARCHAR) AS xcorr
         |FROM q CROSS JOIN lg
         |LEFT JOIN q p ON p.record = q.record AND p.t = q.t + lg.lag
         |GROUP BY q.record, lg.lag
         |HAVING count(p.a) > 0
         |ORDER BY q.record, lg.lag""".stripMargin,

    // the stream-static enrichment lands the SAME flag set
    "stream_outliers" -> outliersSql,

    "sg_resample" ->
      s"""WITH $OpsetCte
         |SELECT record, ((t - 1) // 20) * 20 + 1 AS t0,
         |       CAST(count(*) AS BIGINT) AS n,
         |       round(avg(value), 6) AS mean_v,
         |       min(value) AS min_v, max(value) AS max_v
         |FROM opset GROUP BY record, t0 ORDER BY record, t0""".stripMargin,

    "split_left" ->
      s"""WITH $OpsetCte, $InstantsCte
         |SELECT o.record, o.t, o.event_type, o.value
         |FROM opset o JOIN instants USING (record)
         |WHERE o.t <= instants.i ORDER BY o.record, o.t""".stripMargin,

    "split_right" ->
      s"""WITH $OpsetCte, $InstantsCte
         |SELECT o.record, o.t, o.event_type, o.value
         |FROM opset o JOIN instants USING (record)
         |WHERE o.t > instants.i ORDER BY o.record, o.t""".stripMargin,

    "split_between" ->
      s"""WITH $OpsetCte, $InstantsCte
         |SELECT o.record, o.t, o.event_type, o.value
         |FROM opset o JOIN instants USING (record)
         |WHERE o.t > instants.i AND o.t <= instants.i + 10 ORDER BY o.record, o.t""".stripMargin,

    "pca_corr" -> {
      val arms = (for (a <- PcaCols; b <- PcaCols if a <= b)
        yield s"SELECT '$a' AS var_a, '$b' AS var_b, round(corr($a, $b), 6) AS corr FROM lineitem")
        .mkString("\n  UNION ALL\n  ")
      s"""SELECT * FROM (
         |  $arms
         |) ORDER BY var_a, var_b""".stripMargin
    },

    "instants_epsilon" ->
      s"""WITH $OpsetCte, $epsilonCtes
         |SELECT $SgW AS w, 1 AS d, round(eps, 6) AS eps FROM ev""".stripMargin,

    "instants_features" ->
      s"""WITH $OpsetCte, $bankOracleCtes
         |SELECT record, t, "LEN", "REV", round("PERCENT", 6) AS "PERCENT", value,
         |       round("${IndCodes(0).name}", 6) AS "${IndCodes(0).name}",
         |       round("${IndCodes(1).name}", 6) AS "${IndCodes(1).name}",
         |       round("${IndCodes(2).name}", 6) AS "${IndCodes(2).name}"
         |FROM bankq ORDER BY record, t""".stripMargin,

    "tube_highlight" ->
      s"""WITH $OpsetCte, $InstantsCte, ext AS (
         |  SELECT o.record, o.t FROM opset o JOIN instants USING (record)
         |  WHERE o.t > instants.i AND o.t <= instants.i + 10
         |)
         |SELECT o.record, o.t, o.value, (ext.t IS NOT NULL) AS "INTERVAL"
         |FROM opset o LEFT JOIN ext ON o.record = ext.record AND o.t = ext.t
         |ORDER BY o.record, o.t""".stripMargin,

    "tube_fit1" ->
      s"""WITH $OpsetCte, s AS (
         |  SELECT record, CAST(count(*) AS DOUBLE) AS n,
         |         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         |         sum(x * y) AS sxy, sum(y * y) AS syy
         |  FROM (SELECT record, CAST(t - 1 AS DOUBLE) AS x, value AS y FROM opset)
         |  GROUP BY record
         |), c AS (
         |  SELECT record, n, sx, sy, sxx, sxy, syy,
         |         CASE WHEN abs(n * sxx - sx * sx) > 1e-9
         |              THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) ELSE 0.0 END AS b1
         |  FROM s
         |), d AS (
         |  SELECT *, (sy - b1 * sx) / n AS b0 FROM c
         |)
         |SELECT record, round(b0, 6) AS b0, round(b1, 6) AS b1,
         |       round(CASE WHEN abs(syy - sy * sy / n) > 1e-9
         |                  THEN 1.0 - (syy + n * b0 * b0 + b1 * b1 * sxx + 2.0 * b0 * b1 * sx - 2.0 * b0 * sy - 2.0 * b1 * sxy)
         |                       / (syy - sy * sy / n)
         |                  ELSE 0.0 END, 6) AS r2
         |FROM d ORDER BY record""".stripMargin,

    "tube_estimate" ->
      s"""WITH $OpsetCte, $tubeEstimateCtes
         |SELECT record, t, y, round(z, 6) AS z, round(zmin, 6) AS zmin, round(zmax, 6) AS zmax
         |FROM est ORDER BY record, t""".stripMargin,

    "tube_scores" ->
      s"""WITH $OpsetCte, $tubeEstimateCtes
         |SELECT record, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN y > zmax OR y < zmin THEN 1 ELSE 0 END) AS BIGINT) AS n_out
         |FROM est GROUP BY record ORDER BY record""".stripMargin,

    "tube_scores_multi" -> tubeScoresMultiSql,

    "dedup_exact" ->
      """SELECT doc_id, n_chars, dup_count FROM (
        |  SELECT doc_id, n_chars,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
        |         count(*) OVER (PARTITION BY text) AS dup_count
        |  FROM documents
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "dedup_exact_salted" ->
      """SELECT doc_id, dup_count FROM (
        |  SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_count
        |  FROM documents GROUP BY text
        |) ORDER BY doc_id""".stripMargin,

    "dedup_minhash_sig" ->
      s"""WITH $ShingleCte
         |SELECT doc_id, ${sigExprs.mkString(",\n       ")}
         |FROM sh ORDER BY doc_id""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, jaccard FROM mhp ORDER BY id_a, id_b""".stripMargin,

    // the incremental index path's exactness contract, stated as SQL:
    // the whole-corpus pairs restricted to pairs touching >= 1 batch
    // (doc_id % 10 = 0) document
    "dedup_minhash_incr" ->
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, jaccard FROM mhp
         |WHERE id_a % 10 = 0 OR id_b % 10 = 0
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash_auto" ->
      s"""WITH $ShingleCte, $minhashAutoCtes
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT id_a, id_b,
         |         round(len(list_intersect(a.hs, b.hs)) * 1.0
         |               / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jaccard
         |  FROM mcand JOIN sh a ON a.doc_id = mcand.id_a
         |             JOIN sh b ON b.doc_id = mcand.id_b
         |) WHERE jaccard >= $MhThreshold ORDER BY id_a, id_b""".stripMargin,

    "dedup_clusters" ->
      // connected components over the minhash pair graph: DuckDB walks
      // the symmetric edges with a recursive CTE (min reachable doc_id
      // per node == the Spark side's converged min-label propagation)
      s"""WITH RECURSIVE $minhashPairsCtes, edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM mhp
         |  UNION
         |  SELECT id_b, id_a FROM mhp
         |), walk(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src
         |), comp AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id
         |), sz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY cluster_id
         |)
         |SELECT c.doc_id, c.cluster_id, s.cluster_size
         |FROM comp c JOIN sz s USING (cluster_id)
         |ORDER BY c.doc_id""".stripMargin,

    "stream_neardup" -> {
      // the stream's first-owner-per-bucket semantics under doc_id-monotone
      // event time: owner(band bucket) = min(doc_id) sharing the band
      // signature; a doc's dup_of = min owner ≠ itself over its bands.
      // Same banding CTEs as the batch minhash oracles — the stream reuses
      // those exact expressions by construction.
      val rpb = MhHashes / MhBands
      val hs = (0 until rpb).map(i => s"h_$i").mkString(", ")
      // sbanded mirrors the stream's degenerate-doc drop (StreamOps
      // filters null/empty text BEFORE banding): without it an empty-text
      // doc shingles to md5('') here, collides in every band, and the
      // oracle would call it a dup while the stream reports is_dup=false.
      // Short-but-nonempty docs need no filter — both sides hash the
      // whole text as the single shingle.
      s"""WITH $minhashBandedCtes, sbanded AS (
         |  SELECT b.* FROM banded b JOIN documents d USING (doc_id)
         |  WHERE d.text IS NOT NULL AND length(d.text) > 0
         |), own AS (
         |  SELECT band, $hs, min(doc_id) AS owner
         |  FROM sbanded GROUP BY band, $hs
         |), claims AS (
         |  SELECT b.doc_id, o.owner
         |  FROM sbanded b JOIN own o USING (band, $hs)
         |), v AS (
         |  SELECT doc_id, min(CASE WHEN owner <> doc_id THEN owner END) AS dup_of
         |  FROM claims GROUP BY doc_id
         |)
         |SELECT d.doc_id, v.dup_of, (v.dup_of IS NOT NULL) AS is_dup
         |FROM documents d LEFT JOIN v USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "stream_counts" ->
      // epoch_us is precision-agnostic: DuckDB truncates ns parquet to
      // micros (the Spark side's div-1000 branch) and reads us parquet
      // directly (the Spark side's timestamp branch), so the integer
      // floor to the 10 s grid is identical on both engines either way.
      """SELECT (epoch_us(ts) // 10000000) * 10 AS win_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n, round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_dedup" ->
      """SELECT DISTINCT md5(text) AS fp, CAST(length(text) AS BIGINT) AS len
        |FROM documents ORDER BY fp""".stripMargin,

    "stream_join" ->
      // batch twin of the watermarked interval join: same range
      // predicate on truncated-to-micros event times (both ts vintages)
      s"""SELECT c.event_id AS click_id, v.event_id AS view_id,
         |       epoch_us(c.ts) - epoch_us(v.ts) AS delay_us
         |FROM events c JOIN events v
         |  ON c.user_id = v.user_id
         | AND c.event_type = 'click' AND v.event_type = 'view'
         | AND epoch_us(v.ts) <= epoch_us(c.ts)
         | AND epoch_us(v.ts) >= epoch_us(c.ts) - $JoinLookbackUs
         |ORDER BY click_id, view_id""".stripMargin,

    "stream_sessions" ->
      // batch twin of session_window's gap-merge: an event strictly
      // inside the previous event's +gap horizon merges, so the break is
      // diff >= gap (the events_sessions oracle breaks on strict >);
      // session end = last event + gap, exactly the window struct's end
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
         |), b AS (
         |  SELECT user_id, event_id, tus,
         |         CASE WHEN lag(tus) OVER w IS NULL
         |                   OR tus - lag(tus) OVER w >= $SessionGapUs
         |              THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
         |), s AS (
         |  SELECT user_id, tus,
         |         sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid
         |  FROM b
         |)
         |SELECT user_id, min(tus) AS sess_start_us,
         |       max(tus) + $SessionGapUs AS sess_end_us,
         |       CAST(count(*) AS BIGINT) AS n_events
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, sess_start_us""".stripMargin,

    "events_sessions" ->
      // integer epoch-micros end to end (epoch_us reads both ts
      // vintages, the stream_counts precedent); ORDER BY (tus, event_id)
      // is a UNIQUE ordering, so DuckDB's default RANGE frame on the
      // running sum equals the Spark side's explicit ROWS frame
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
         |), b AS (
         |  SELECT user_id, event_id, tus,
         |         CASE WHEN lag(tus) OVER w IS NULL
         |                   OR tus - lag(tus) OVER w > $SessionGapUs
         |              THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
         |), s AS (
         |  SELECT user_id, tus,
         |         sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid
         |  FROM b
         |)
         |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       min(tus) AS start_us, max(tus) AS end_us,
         |       max(tus) - min(tus) AS dur_us
         |FROM s GROUP BY user_id, sid ORDER BY user_id, session_id""".stripMargin,

    "events_funnel" -> {
      val Seq(s1, s2, s3) = FunnelSteps
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
         |), f1 AS (
         |  SELECT *, min(CASE WHEN event_type = '$s1' THEN tus END)
         |              OVER (PARTITION BY user_id) AS t_$s1 FROM e
         |), f2 AS (
         |  SELECT *, min(CASE WHEN event_type = '$s2' AND tus > t_$s1 THEN tus END)
         |              OVER (PARTITION BY user_id) AS t_$s2 FROM f1
         |), f3 AS (
         |  SELECT *, min(CASE WHEN event_type = '$s3' AND tus > t_$s2 THEN tus END)
         |              OVER (PARTITION BY user_id) AS t_$s3 FROM f2
         |)
         |SELECT user_id, t_$s1, t_$s2, t_$s3,
         |       CAST(CASE WHEN t_$s3 IS NOT NULL THEN 3
         |                 WHEN t_$s2 IS NOT NULL THEN 2
         |                 WHEN t_$s1 IS NOT NULL THEN 1
         |                 ELSE 0 END AS BIGINT) AS reached
         |FROM (
         |  SELECT user_id, min(t_$s1) AS t_$s1, min(t_$s2) AS t_$s2,
         |         min(t_$s3) AS t_$s3
         |  FROM f3 GROUP BY user_id
         |) ORDER BY user_id""".stripMargin
    },

    "events_retention" ->
      // integer epoch-DAY indexes (micros div 86400e6), the same exact-
      // BIGINT surface as the other events_* rows
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
        |), f AS (
        |  SELECT user_id, min(d) AS c0 FROM e GROUP BY user_id
        |), cell AS (
        |  SELECT DISTINCT e.user_id, f.c0 AS cohort_day, e.d - f.c0 AS day_offset
        |  FROM e JOIN f USING (user_id)
        |)
        |SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM cell GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "events_topk" ->
      // the single-window form IS the semantics; the Spark side's
      // two-phase plan must reproduce it row-for-row
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value DESC, event_id) AS rank
        |  FROM events
        |)
        |SELECT user_id, event_id, value, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,

    // the streamed per-batch slices fold to the identical global top-k
    "stream_topk" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value DESC, event_id) AS rank
        |  FROM events
        |)
        |SELECT user_id, event_id, value, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin,

    "stream_latest" -> latestSql,

    "events_latest" -> latestSql,



    "stats_quantiles" -> {
      // the pinned type-7 interpolation, evaluated in the identical
      // operation order: rank = p*(n-1), a + (b-a)*frac, round 6
      val psList = QuantilePs.mkString("[", ", ", "]")
      s"""WITH v AS (
         |  SELECT event_type AS g, value AS x FROM events WHERE value IS NOT NULL
         |), s AS (
         |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM v
         |), n AS (
         |  SELECT g, count(*) AS n FROM v GROUP BY g
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
    },

    // the bin-free DEFINITION of the weighted quantile (graft's bins are
    // a plan device, not semantics): per-value tick sums, integer
    // cumulative, q = min value whose mass reaches max(p*W, 1)
    "stats_wquantiles" -> {
      val psList = QuantilePs.mkString("[", ", ", "]")
      s"""WITH v AS (
         |  SELECT event_type AS g, CAST(value AS DOUBLE) AS x,
         |         CAST(round(CAST(event_id % 7 + 1 AS DOUBLE) * 1000000) AS BIGINT) AS wt
         |  FROM events WHERE value IS NOT NULL
         |), a AS (
         |  SELECT g, x, sum(wt) AS cv FROM v GROUP BY g, x
         |), c AS (
         |  SELECT g, x, sum(cv) OVER (PARTITION BY g ORDER BY x) AS cum,
         |         sum(cv) OVER (PARTITION BY g) AS W
         |  FROM a
         |), t AS (
         |  SELECT c.*, p FROM c CROSS JOIN (SELECT unnest($psList) AS p) ps
         |)
         |SELECT g AS event_type, p, round(min(x), 6) AS q
         |FROM t
         |WHERE W > 0 AND CAST(cum AS DOUBLE) >= greatest(p * CAST(W AS DOUBLE), 1.0)
         |GROUP BY g, p ORDER BY event_type, p""".stripMargin
    },

    // the type-7 bound CTE (identical to stats_quantiles) pivoted to
    // (qlo, qhi), then the identical null-gated clip
    "stats_winsorize" ->
      s"""WITH v AS (
         |  SELECT event_type AS g, value AS x FROM events WHERE value IS NOT NULL
         |), s AS (
         |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM v
         |), n AS (
         |  SELECT g, count(*) AS n FROM v GROUP BY g
         |), ps AS (
         |  SELECT unnest([0.05, 0.95]) AS p
         |), c AS (
         |  SELECT s.g, ps.p, s.x, s.i,
         |         floor(ps.p * (n.n - 1)) AS lo,
         |         ps.p * (n.n - 1) - floor(ps.p * (n.n - 1)) AS frac
         |  FROM s JOIN n USING (g) CROSS JOIN ps
         |  WHERE s.i = floor(ps.p * (n.n - 1)) OR s.i = floor(ps.p * (n.n - 1)) + 1
         |), q AS (
         |  SELECT g, p,
         |         round(min(CASE WHEN i = lo THEN x END) +
         |               (coalesce(min(CASE WHEN i = lo + 1 THEN x END),
         |                         min(CASE WHEN i = lo THEN x END))
         |                - min(CASE WHEN i = lo THEN x END)) * min(frac), 6) AS q
         |  FROM c GROUP BY g, p
         |), b AS (
         |  SELECT g, min(CASE WHEN p = 0.05 THEN q END) AS qlo,
         |         max(CASE WHEN p = 0.95 THEN q END) AS qhi
         |  FROM q GROUP BY g
         |)
         |SELECT e.event_id, e.event_type,
         |       CASE WHEN e.value IS NOT NULL
         |            THEN round(least(greatest(CAST(e.value AS DOUBLE), b.qlo), b.qhi), 6)
         |       END AS value_w
         |FROM events e JOIN b ON b.g = e.event_type
         |ORDER BY e.event_id""".stripMargin,

    // the type-7 [p25, p50, p75] CTE pivoted, then the identical
    // zero-IQR-gated scaling
    "stats_robust_scale" ->
      s"""WITH v AS (
         |  SELECT event_type AS g, value AS x FROM events WHERE value IS NOT NULL
         |), s AS (
         |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM v
         |), n AS (
         |  SELECT g, count(*) AS n FROM v GROUP BY g
         |), ps AS (
         |  SELECT unnest([0.25, 0.5, 0.75]) AS p
         |), c AS (
         |  SELECT s.g, ps.p, s.x, s.i,
         |         floor(ps.p * (n.n - 1)) AS lo,
         |         ps.p * (n.n - 1) - floor(ps.p * (n.n - 1)) AS frac
         |  FROM s JOIN n USING (g) CROSS JOIN ps
         |  WHERE s.i = floor(ps.p * (n.n - 1)) OR s.i = floor(ps.p * (n.n - 1)) + 1
         |), q AS (
         |  SELECT g, p,
         |         round(min(CASE WHEN i = lo THEN x END) +
         |               (coalesce(min(CASE WHEN i = lo + 1 THEN x END),
         |                         min(CASE WHEN i = lo THEN x END))
         |                - min(CASE WHEN i = lo THEN x END)) * min(frac), 6) AS q
         |  FROM c GROUP BY g, p
         |), b AS (
         |  SELECT g, min(CASE WHEN p = 0.25 THEN q END) AS q1,
         |         min(CASE WHEN p = 0.5 THEN q END) AS med,
         |         max(CASE WHEN p = 0.75 THEN q END) AS q3
         |  FROM q GROUP BY g
         |)
         |SELECT e.event_id, e.event_type,
         |       CASE WHEN e.value IS NOT NULL AND b.q3 <> b.q1
         |            THEN round((CAST(e.value AS DOUBLE) - b.med) / (b.q3 - b.q1), 6)
         |       END AS value_r
         |FROM events e JOIN b ON b.g = e.event_type
         |ORDER BY e.event_id""".stripMargin,

    "stats_quantiles_binned" -> binnedQuantilesOracle,

    // The streaming twin maintains the SAME register-bounded count table
    // and answers through the SAME estimator — one oracle for both.
    "stream_quantiles" -> binnedQuantilesOracle,

    "stats_histogram" -> {
      // interior boundaries re-derived with the identical pinned formula,
      // then the pinned up-on-tie bucket rule: bucket = #{q_j : x >= q_j}
      val psList = (1 until HistBuckets).map(_.toDouble / HistBuckets)
        .mkString("[", ", ", "]")
      s"""WITH v AS (
         |  SELECT event_type AS g, value AS x FROM events WHERE value IS NOT NULL
         |), s AS (
         |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM v
         |), n AS (
         |  SELECT g, count(*) AS n FROM v GROUP BY g
         |), ps AS (
         |  SELECT unnest($psList) AS p
         |), c AS (
         |  SELECT s.g, ps.p, s.x, s.i,
         |         floor(ps.p * (n.n - 1)) AS lo,
         |         ps.p * (n.n - 1) - floor(ps.p * (n.n - 1)) AS frac
         |  FROM s JOIN n USING (g) CROSS JOIN ps
         |  WHERE s.i = floor(ps.p * (n.n - 1)) OR s.i = floor(ps.p * (n.n - 1)) + 1
         |), bounds AS (
         |  SELECT g, p,
         |         round(min(CASE WHEN i = lo THEN x END) +
         |               (coalesce(min(CASE WHEN i = lo + 1 THEN x END),
         |                         min(CASE WHEN i = lo THEN x END))
         |                - min(CASE WHEN i = lo THEN x END)) * min(frac), 6) AS q
         |  FROM c GROUP BY g, p
         |), vals AS (
         |  SELECT g, x, count(*) AS cnt FROM v GROUP BY g, x
         |), asg AS (
         |  SELECT vals.g, vals.x, vals.cnt, count(b.q) AS bucket
         |  FROM vals LEFT JOIN bounds b ON b.g = vals.g AND vals.x >= b.q
         |  GROUP BY vals.g, vals.x, vals.cnt
         |)
         |SELECT g AS event_type, CAST(bucket AS BIGINT) AS bucket,
         |       CAST(sum(cnt) AS BIGINT) AS n,
         |       round(min(x), 6) AS lo, round(max(x), 6) AS hi
         |FROM asg GROUP BY g, bucket
         |ORDER BY event_type, bucket""".stripMargin
    },

    "sketch_hll" -> hllSql,

    // the landed-register fold is idempotent, so the streamed sketch
    // grades against the IDENTICAL batch oracle
    "stream_hll" -> hllSql,

    "star_join" ->
      """SELECT r.r_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, year(o.o_orderdate)
        |ORDER BY r_name, o_year""".stripMargin,

    "events_rollup" ->
      // GROUPING() bitmask matches Spark's grouping_id() bit order
      """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / 1000000.0 AS sum_value,
        |       CAST(GROUPING(event_type, epoch_us(ts) // 86400000000) AS BIGINT) AS gid
        |FROM events
        |GROUP BY ROLLUP (event_type, epoch_us(ts) // 86400000000)
        |ORDER BY gid, event_type, day""".stripMargin,

    "graph_triangles" ->
      // the identical degree-orientation construction in SQL: canonical
      // undirected edges, (degree, id)-tuple orientation, out-wedge join,
      // closing-edge check against the canonical set, 3-corner credit
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |  WHERE l_linenumber <= $TriMaxLine
         |), e0 AS (
         |  SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |), deg AS (
         |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0
         |  ) GROUP BY n
         |), dir AS (
         |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
         |  FROM e0 e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
         |), tri AS (
         |  SELECT d1.a, d1.b, d2.b AS c
         |  FROM dir d1 JOIN dir d2 ON d1.a = d2.a AND d1.b < d2.b
         |  JOIN e0 ON e0.u = d1.b AND e0.v = d2.b
         |)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri
         |) GROUP BY node
         |ORDER BY node""".stripMargin,

    "graph_triangles_hub" ->
      // identical degree-orientation construction over the hub-star
      // fixture (8 low-id hubs + the hub clique + customer spokes)
      s"""WITH eall AS (
         |  SELECT CAST(o_custkey + 8 AS BIGINT) AS u0,
         |         CAST(o_orderkey % 8 AS BIGINT) AS v0 FROM orders
         |  UNION ALL
         |  SELECT CAST(u0 AS BIGINT), CAST(v0 AS BIGINT) FROM (VALUES ${
           (for { i <- 0 until 8; j <- i + 1 until 8 } yield s"($i, $j)").mkString(", ")
         }) t(u0, v0)
         |), e0 AS (
         |  SELECT DISTINCT least(u0, v0) AS u, greatest(u0, v0) AS v
         |  FROM eall WHERE u0 <> v0
         |), deg AS (
         |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0
         |  ) GROUP BY n
         |), dir AS (
         |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
         |  FROM e0 e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
         |), tri AS (
         |  SELECT d1.a, d1.b, d2.b AS c
         |  FROM dir d1 JOIN dir d2 ON d1.a = d2.a AND d1.b < d2.b
         |  JOIN e0 ON e0.u = d1.b AND e0.v = d2.b
         |)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri
         |) GROUP BY node
         |ORDER BY node""".stripMargin,

    "graph_clustering" ->
      // the triangles construction + degrees + the identical integer-tick
      // coefficient arithmetic (2e6·tri // d·(d−1); degree-1 → 0)
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |  WHERE l_linenumber <= $TriMaxLine
         |), e0 AS (
         |  SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |), deg AS (
         |  SELECT n AS node, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0
         |  ) GROUP BY n
         |), dir AS (
         |  SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.u ELSE e.v END AS a,
         |         CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.v ELSE e.u END AS b
         |  FROM e0 e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
         |), tri AS (
         |  SELECT d1.a, d1.b, d2.b AS c
         |  FROM dir d1 JOIN dir d2 ON d1.a = d2.a AND d1.b < d2.b
         |  JOIN e0 ON e0.u = d1.b AND e0.v = d2.b
         |), tcnt AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT a AS node FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri
         |  ) GROUP BY node
         |)
         |SELECT deg.node, deg.degree,
         |       CAST(coalesce(tcnt.n_tri, 0) AS BIGINT) AS n_tri,
         |       CAST(CASE WHEN deg.degree >= 2
         |            THEN (2000000 * coalesce(tcnt.n_tri, 0)) // (deg.degree * (deg.degree - 1))
         |            ELSE 0 END AS BIGINT) AS coeff_ticks
         |FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
         |ORDER BY deg.node""".stripMargin,

    // Apex slice of the identical construction: dir filters to md5-slice
    // apexes BEFORE the wedge self-join (1/16 of the wedge volume — what
    // lets this oracle fit on disk at sfg10 where the full one dies).
    // MATERIALIZED CTEs: dir feeds both wedge sides and e0 three
    // consumers; default inlining would replay the distinct per consumer.
    "graph_triangles_probe" ->
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |  WHERE l_linenumber <= $TriMaxLine
         |), e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |), deg AS MATERIALIZED (
         |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0
         |  ) GROUP BY n
         |), dir AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
         |           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
         |    FROM e0 e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
         |  ) WHERE substr(md5(CAST(a AS VARCHAR)), 1, 1) = '$GraphProbeResidue'
         |), tri AS (
         |  SELECT d1.a, d1.b, d2.b AS c
         |  FROM dir d1 JOIN dir d2 ON d1.a = d2.a AND d1.b < d2.b
         |  JOIN e0 ON e0.u = d1.b AND e0.v = d2.b
         |)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri
         |) GROUP BY node
         |ORDER BY node""".stripMargin,

    // Clustering twin of the apex slice: FULL degrees, identical tick
    // arithmetic, n_tri over the slice.
    "graph_clustering_probe" ->
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |  WHERE l_linenumber <= $TriMaxLine
         |), e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |), deg AS MATERIALIZED (
         |  SELECT n AS node, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0
         |  ) GROUP BY n
         |), dir AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.u ELSE e.v END AS a,
         |           CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.v ELSE e.u END AS b
         |    FROM e0 e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
         |  ) WHERE substr(md5(CAST(a AS VARCHAR)), 1, 1) = '$GraphProbeResidue'
         |), tri AS (
         |  SELECT d1.a, d1.b, d2.b AS c
         |  FROM dir d1 JOIN dir d2 ON d1.a = d2.a AND d1.b < d2.b
         |  JOIN e0 ON e0.u = d1.b AND e0.v = d2.b
         |), tcnt AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT a AS node FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri
         |  ) GROUP BY node
         |)
         |SELECT deg.node, deg.degree,
         |       CAST(coalesce(tcnt.n_tri, 0) AS BIGINT) AS n_tri,
         |       CAST(CASE WHEN deg.degree >= 2
         |            THEN (2000000 * coalesce(tcnt.n_tri, 0)) // (deg.degree * (deg.degree - 1))
         |            ELSE 0 END AS BIGINT) AS coeff_ticks
         |FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
         |ORDER BY deg.node""".stripMargin,

    "graph_kcore" -> {
      // the peel unrolled as chained CTEs, one (degree, keep, edge) round
      // each — the pagerank oracle pattern, with every edge CTE
      // MATERIALIZED: each round references its predecessor 3×, so
      // DuckDB's default inlining would expand e0 3^rounds times
      // (measured: fd exhaustion re-opening the parquet thousands of
      // times); materialization makes the unrolled chain linear like the
      // Spark loop it mirrors
      val rounds = (1 to KcoreRounds).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT n, count(*) AS c FROM (
           |    SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}
           |  ) GROUP BY n
           |), k$i AS MATERIALIZED (
           |  SELECT n FROM d$i WHERE c >= $KcoreK
           |), e$i AS MATERIALIZED (
           |  SELECT e${i - 1}.u, e${i - 1}.v FROM e${i - 1}
           |  JOIN k$i a ON a.n = e${i - 1}.u JOIN k$i b ON b.n = e${i - 1}.v
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |  WHERE l_linenumber <= $TriMaxLine
         |), e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |), $rounds
         |SELECT n AS node, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT u AS n FROM e$KcoreRounds UNION ALL SELECT v FROM e$KcoreRounds
         |) GROUP BY n
         |ORDER BY node""".stripMargin
    },

    "graph_pagerank" -> {
      // the k rounds re-derived as chained CTEs — pure BIGINT arithmetic
      val rounds = (1 to PrIters).map { i =>
        s"""m$i AS (
           |  SELECT e.dst AS node, CAST(sum(r${i - 1}.r // deg.d) AS BIGINT) AS m
           |  FROM e JOIN deg USING (src) JOIN r${i - 1} ON r${i - 1}.node = e.src
           |  GROUP BY e.dst
           |), r$i AS (
           |  SELECT n.node, 150000000 + (85 * coalesce(m$i.m, 0)) // 100 AS r
           |  FROM nodes n LEFT JOIN m$i USING (node)
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e AS (
         |  SELECT concat('u:', CAST(user_id AS VARCHAR)) AS src,
         |         concat('t:', event_type) AS dst FROM events
         |  UNION ALL
         |  SELECT concat('t:', event_type), concat('u:', CAST(user_id AS VARCHAR))
         |  FROM events
         |), deg AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src
         |), nodes AS (
         |  SELECT src AS node FROM e UNION SELECT dst FROM e
         |), r0 AS (
         |  SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes
         |), $rounds
         |SELECT node, r / 1000000000.0 AS rank FROM r$PrIters ORDER BY node""".stripMargin
    },

    "source_jsonl" ->
      // the round-trip identity: everything that left parquet comes back
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Closed-form ground truth of the WET wrap: extraction must recover
    // every record with its exact payload; the %11 wrong-length records
    // flag ok=false (payload still recovered — framing is the magic
    // line, Content-Length is verification only).
    "source_warc" ->
      """SELECT doc_id,
        |  'https://site' || CAST(doc_id AS VARCHAR) || '/doc' AS uri,
        |  doc_id % 11 <> 0 AS ok,
        |  text AS payload
        |FROM documents ORDER BY doc_id""".stripMargin,

    "join_salted" ->
      // the whole point: the salted plan must be indistinguishable from
      // the plain join at the result level
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "layout_zorder" -> {
      // identical exact-integer pipeline: range quantization by scalar
      // min/max, then the bit-interleave as a sum of disjoint-bit terms
      val m = 1L << ZBits
      val q = ZCols.zipWithIndex.map { case (c, i) =>
        s"(((($c) - s.mn$i) * $m) // (s.mx$i - s.mn$i + 1)) AS q$i"
      }.mkString(",\n       ")
      val statSel = ZCols.zipWithIndex.map { case (c, i) =>
        s"min($c) AS mn$i, max($c) AS mx$i"
      }.mkString(", ")
      val n = ZCols.size
      val terms = (for { b <- 0 until ZBits; i <- 0 until n }
        yield s"(((q$i >> $b) & 1) << ${b * n + i})").mkString(" + ")
      s"""WITH s AS (
         |  SELECT $statSel FROM lineitem
         |), q AS (
         |  SELECT l_orderkey, l_linenumber,
         |       $q
         |  FROM lineitem CROSS JOIN s
         |)
         |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS z_key
         |FROM q ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    "sketch_cms" -> cmsSketchSql,

    // merged disjoint-half counters grade against the identical
    // whole-corpus derivation: merge-by-sum == union by construction
    "sketch_cms_merge" -> cmsSketchSql,

    "sketch_bloom" -> bloomSketchSql,

    // bit_or-merged disjoint-half word tables == the whole-build filter
    "sketch_bloom_union" -> bloomSketchSql,

    // max-merged disjoint-half registers == the whole-corpus registers
    "sketch_hll_merge" -> hllSql,

    "sketch_kmv" -> kmvSketchSql,
    // the streamed landing folds to the identical whole-corpus sketch
    "stream_kmv" -> kmvSketchSql,

    // bottom-k re-truncation of disjoint-half samples == the whole-corpus
    // sample (total (hash, id) order), so the same SQL grades the merge
    "sketch_kmv_merge" -> kmvSketchSql,

    // DuckDB answers the BETWEEN join with its IEJoin; graft's bin-bucket
    // rewrite must reproduce it exactly (inclusive bounds, integer micros)
    "join_range" ->
      s"""WITH p AS (
         |  SELECT epoch_us(ts) AS p_us, value AS p_value FROM events
         |), w AS (
         |  SELECT event_id AS window_id, epoch_us(ts) AS w_start,
         |         epoch_us(ts) + $RangeWinUs AS w_end
         |  FROM events WHERE event_type = 'error'
         |)
         |SELECT w.window_id, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(CAST(floor(p.p_value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_ticks
         |FROM p JOIN w ON p.p_us BETWEEN w.w_start AND w.w_end
         |GROUP BY w.window_id
         |ORDER BY window_id""".stripMargin,

    "join_interval" ->
      s"""WITH w AS (
         |  SELECT event_id AS window_id, epoch_us(ts) AS w_start,
         |         epoch_us(ts) + $RangeWinUs AS w_end
         |  FROM events WHERE event_type = 'error'
         |), a AS (
         |  SELECT event_id AS purchase_id, epoch_us(ts) - $AttrWinUs AS a_start,
         |         epoch_us(ts) AS a_end,
         |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS p_ticks
         |  FROM events WHERE event_type = 'purchase'
         |)
         |SELECT w.window_id, CAST(count(*) AS BIGINT) AS n_purchases,
         |       CAST(sum(a.p_ticks) AS BIGINT) AS value_ticks,
         |       CAST(sum(least(w.w_end, a.a_end) - greatest(w.w_start, a.a_start)) AS BIGINT) AS overlap_us
         |FROM w JOIN a ON w.w_start <= a.a_end AND a.a_start <= w.w_end
         |GROUP BY w.window_id
         |ORDER BY window_id""".stripMargin,

    // DuckDB's NATIVE ASOF LEFT JOIN vs graft's union-window plan — the
    // tolerance gate applied identically after the latest-match pick
    // (any earlier sample is older still, so gating after == gating
    // inside)
    "join_asof" ->
      s"""WITH l AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus
         |  FROM events WHERE event_type = 'click'
         |), p0 AS (
         |  SELECT user_id, epoch_us(ts) AS p_us,
         |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS ticks,
         |         row_number() OVER (PARTITION BY user_id, epoch_us(ts)
         |                            ORDER BY event_id DESC) AS rn
         |  FROM events WHERE event_type = 'purchase'
         |), p AS (
         |  SELECT user_id, p_us, ticks FROM p0 WHERE rn = 1
         |)
         |SELECT l.event_id, l.user_id, l.tus,
         |       CASE WHEN p.p_us IS NOT NULL AND l.tus - p.p_us <= $AsofTolUs
         |            THEN p.ticks END AS ticks_ref,
         |       CASE WHEN p.p_us IS NOT NULL AND l.tus - p.p_us <= $AsofTolUs
         |            THEN l.tus - p.p_us END AS age_us
         |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.tus >= p.p_us
         |ORDER BY l.event_id""".stripMargin,

    "join_asof_fwd" ->
      s"""WITH l AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus
         |  FROM events WHERE event_type = 'click'
         |), p0 AS (
         |  SELECT user_id, epoch_us(ts) AS p_us,
         |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS ticks,
         |         row_number() OVER (PARTITION BY user_id, epoch_us(ts)
         |                            ORDER BY event_id DESC) AS rn
         |  FROM events WHERE event_type = 'purchase'
         |), p AS (
         |  SELECT user_id, p_us, ticks FROM p0 WHERE rn = 1
         |)
         |SELECT l.event_id, l.user_id, l.tus,
         |       CASE WHEN p.p_us IS NOT NULL AND p.p_us - l.tus <= $AsofTolUs
         |            THEN p.ticks END AS ticks_ref,
         |       CASE WHEN p.p_us IS NOT NULL AND p.p_us - l.tus <= $AsofTolUs
         |            THEN p.p_us - l.tus END AS lead_us
         |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.tus <= p.p_us
         |ORDER BY l.event_id""".stripMargin,

    "profile_table" -> profileSql,
    "profile_table_approx" -> profileApproxSql,

    "stream_argmax" ->
      // batch twin of the streaming detector's final state: per record the
      // max value, first-occurrence (min t) on exact ties, 0-based instant
      s"""WITH $OpsetCte, mx AS (
         |  SELECT record, max(value) AS mv FROM opset GROUP BY record
         |)
         |SELECT o.record, CAST(min(o.t) - 1 AS BIGINT) AS instant,
         |       round(max(o.value), 6) AS best
         |FROM opset o JOIN mx m ON o.record = m.record AND o.value = m.mv
         |GROUP BY o.record
         |ORDER BY o.record""".stripMargin,

    "instants_multi" -> instantsMultiOracle,

    "dedup_simhash" -> {
      val terms = (0 until Dedup.SimhashBits).map(b =>
        s"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> $b) & 1) = 1)) > len(hs) THEN ${1L << b} ELSE 0 END)")
      s"""WITH $TokCte, h AS (
         |  SELECT doc_id,
         |         list_transform(ts, t -> CAST(concat('0x', substr(md5(t), 1, 12)) AS BIGINT)) AS hs
         |  FROM tok
         |)
         |SELECT doc_id, ${terms.mkString("\n  + ")} AS simhash
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "dedup_jaccard" ->
      s"""WITH $TokCte, g AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(ts) - ${JacN - 1}, 1)),
         |    i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${JacN - 1}), ' ')), 1, 8)) AS BIGINT))) AS gh
         |  FROM tok
         |), kx AS (
         |  SELECT doc_id, unnest(gh) AS k FROM g
         |), sel AS (
         |  SELECT * FROM kx WHERE k % $JacMod = 0
         |), cold AS (
         |  SELECT * FROM sel
         |  WHERE k NOT IN (SELECT k FROM sel GROUP BY k HAVING count(*) > $JacMaxDf)
         |), cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM cold a JOIN cold b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= $JacMinShared
         |)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT id_a, id_b,
         |         round(len(list_intersect(x.gh, y.gh)) * 1.0
         |               / len(list_distinct(list_concat(x.gh, y.gh))), 6) AS jaccard
         |  FROM cand JOIN g x ON x.doc_id = cand.id_a JOIN g y ON y.doc_id = cand.id_b
         |) WHERE jaccard >= $JacThreshold ORDER BY id_a, id_b""".stripMargin,

    // filter-first like the round-11 Spark plan (see dedup_cosine_auto)
    "dedup_cosine" ->
      s"""WITH $EmbCte, ${bktCte}, bkv AS (
         |  SELECT a.vec_id, a.tbl, a.bkey, n.v, n.n
         |  FROM bkt a JOIN nrm n ON n.vec_id = a.vec_id
         |)
         |SELECT DISTINCT id_a, id_b, cos FROM (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |         round(${dotSql("l.v", "r.v")} / (l.n * r.n), 6) AS cos
         |  FROM bkv l JOIN bkv r ON l.tbl = r.tbl AND l.bkey = r.bkey AND l.vec_id < r.vec_id
         |) WHERE cos >= $CosDupThreshold ORDER BY id_a, id_b""".stripMargin,

    // Same filter-first shape as the round-11 Spark plan: vectors ride
    // the bucket rows and the >= threshold fires before the DISTINCT, so
    // only output-sized survivors are deduplicated. The old
    // distinct-then-attach form spilled >79 GB of DuckDB temp at sf10
    // (200k vectors) and died on disk — identical result, infeasible
    // plan, in BOTH engines.
    "dedup_cosine_auto" ->
      s"""WITH $EmbCte, ${autoCfgCte()}, bkv AS (
         |  SELECT a.vec_id, a.tbl, a.bkey, n.v, n.n
         |  FROM abkt a JOIN nrm n ON n.vec_id = a.vec_id
         |)
         |SELECT DISTINCT id_a, id_b, cos FROM (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |         round(${dotSql("l.v", "r.v")} / (l.n * r.n), 6) AS cos
         |  FROM bkv l JOIN bkv r ON l.tbl = r.tbl AND l.bkey = r.bkey AND l.vec_id < r.vec_id
         |) WHERE cos >= $CosDupThreshold ORDER BY id_a, id_b""".stripMargin,

    // The audit slice: identical machinery, left pair side md5-restricted
    // to 1/16 of ids — the join is probe×full instead of full×full, which
    // is what lets DuckDB finish this at sf10 (200k vectors) and hand the
    // bucket-local cosine plan its third-decade hash cell.
    "dedup_cosine_probe" ->
      s"""WITH $EmbCte, ${autoCfgCte()}, bkv AS (
         |  SELECT a.vec_id, a.tbl, a.bkey, n.v, n.n
         |  FROM abkt a JOIN nrm n ON n.vec_id = a.vec_id
         |), bkl AS (
         |  SELECT * FROM bkv WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'
         |)
         |SELECT DISTINCT id_a, id_b, cos FROM (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |         round(${dotSql("l.v", "r.v")} / (l.n * r.n), 6) AS cos
         |  FROM bkl l JOIN bkv r ON l.tbl = r.tbl AND l.bkey = r.bkey AND l.vec_id < r.vec_id
         |) WHERE cos >= $CosDupThreshold ORDER BY id_a, id_b""".stripMargin,

    // the disjoint residue-'1' slice — same construction, different 1/16
    "dedup_cosine_probe2" ->
      s"""WITH $EmbCte, ${autoCfgCte()}, bkv AS (
         |  SELECT a.vec_id, a.tbl, a.bkey, n.v, n.n
         |  FROM abkt a JOIN nrm n ON n.vec_id = a.vec_id
         |), bkl AS (
         |  SELECT * FROM bkv WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '1'
         |)
         |SELECT DISTINCT id_a, id_b, cos FROM (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |         round(${dotSql("l.v", "r.v")} / (l.n * r.n), 6) AS cos
         |  FROM bkl l JOIN bkv r ON l.tbl = r.tbl AND l.bkey = r.bkey AND l.vec_id < r.vec_id
         |) WHERE cos >= $CosDupThreshold ORDER BY id_a, id_b""".stripMargin,

    // no-config lshTopK: the auto-derived buckets (abkt at recall 0.9,
    // the lshAutoConfig default) replayed through the ann_lsh probe shape
    "ann_lsh_auto" ->
      s"""WITH $EmbCte, ${autoCfgCte(0.9)}, qb AS (
         |  SELECT vec_id AS q_id, tbl, bkey FROM abkt
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), cand AS (
         |  SELECT DISTINCT qb.q_id, b.vec_id
         |  FROM abkt b JOIN qb ON b.tbl = qb.tbl AND b.bkey = qb.bkey
         |  WHERE b.vec_id <> qb.q_id
         |), q AS (
         |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT c.q_id, c.vec_id,
         |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
         |  FROM cand c JOIN nrm ON nrm.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id
         |)
         |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored
         |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin,

    "ann_topk" ->
      s"""WITH $EmbCte, q AS (
         |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT q.q_id, nrm.vec_id,
         |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
         |  FROM nrm CROSS JOIN q
         |  WHERE nrm.vec_id <> q.q_id
         |)
         |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored
         |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin,

    "ann_knn" ->
      // ann_topk's neighbor set + the majority vote, ties to the smaller
      // label — each window materialized in its own CTE (the DuckDB rule)
      s"""WITH $EmbCte, q AS (
         |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT q.q_id, nrm.vec_id,
         |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
         |  FROM nrm CROSS JOIN q
         |  WHERE nrm.vec_id <> q.q_id
         |), nn AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |    FROM scored
         |  ) WHERE rn <= $AnnK
         |), votes AS (
         |  SELECT q_id, vec_id % 5 AS label, CAST(count(*) AS BIGINT) AS n_votes
         |  FROM nn GROUP BY q_id, vec_id % 5
         |), ranked AS (
         |  SELECT q_id, label, n_votes,
         |         row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS vr
         |  FROM votes
         |)
         |SELECT q_id, label, n_votes FROM ranked WHERE vr = 1
         |ORDER BY q_id""".stripMargin,

    "ann_lsh" ->
      s"""WITH $EmbCte, ${bktCte}, qb AS (
         |  SELECT vec_id AS q_id, tbl, bkey FROM bkt
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), cand AS (
         |  SELECT DISTINCT qb.q_id, b.vec_id
         |  FROM bkt b JOIN qb ON b.tbl = qb.tbl AND b.bkey = qb.bkey
         |  WHERE b.vec_id <> qb.q_id
         |), q AS (
         |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT c.q_id, c.vec_id,
         |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
         |  FROM cand c JOIN nrm ON nrm.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id
         |)
         |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored
         |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin,

    "mm_features" ->
      s"""SELECT doc_id,
         |       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
         |       ascii_hash,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ords), (a, b) -> a + b) AS BIGINT) AS ascii_sum,
         |       ascii_hash % 16 AS bucket
         |FROM (
         |  SELECT doc_id, text, ords,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), ords),
         |                     (a, b) -> (a * 31 + b) % ${TextAnalysis.FpMod}) AS ascii_hash
         |  FROM (
         |    SELECT doc_id, text,
         |           list_transform(string_split(regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '', 'g'), ''),
         |                          c -> CAST(ord(c) AS BIGINT)) AS ords
         |    FROM documents
         |  )
         |) ORDER BY doc_id""".stripMargin,

    "mm_image" ->
      """SELECT doc_id, TRUE AS ok,
        |       CAST(doc_id % 7 + 1 AS BIGINT) AS width,
        |       CAST(doc_id % 5 + 1 AS BIGINT) AS height,
        |       CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) AS BIGINT) AS n_pixels,
        |       CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) * (doc_id % 256) AS BIGINT) AS sum_r,
        |       CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) * (doc_id * 3 % 256) AS BIGINT) AS sum_g,
        |       CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) * (doc_id * 7 % 256) AS BIGINT) AS sum_b
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_phash" ->
      s"""WITH $phashCtes
         |SELECT doc_id, TRUE AS ok, dhash, ahash
         |FROM phh ORDER BY doc_id""".stripMargin,

    "dedup_phash" ->
      s"""WITH $phashCtes, phb AS (
         |  SELECT doc_id, dhash, t.b AS b, (dhash >> (7 * t.b)) & 127 AS bv
         |  FROM phh, unnest(range(0, ${graft.llm.Multimodal.PhashBands})) AS t(b)
         |), phhot AS (
         |  SELECT b, bv FROM phb GROUP BY b, bv HAVING count(*) > 256
         |), phcold AS (
         |  SELECT phb.* FROM phb ANTI JOIN phhot USING (b, bv)
         |)
         |SELECT DISTINCT id_a, id_b, hamming FROM (
         |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |         CAST(bit_count(xor(a.dhash, c.dhash)) AS BIGINT) AS hamming
         |  FROM phcold a JOIN phcold c ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
         |) WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin,

    // The phash pair construction + the recursive component walk of
    // dedup_clusters, composed: min reachable doc_id over the symmetric
    // Hamming-pair edges == the Spark side's converged label propagation.
    "dedup_phash_clusters" ->
      s"""WITH RECURSIVE $phashCtes, phb AS (
         |  SELECT doc_id, dhash, t.b AS b, (dhash >> (7 * t.b)) & 127 AS bv
         |  FROM phh, unnest(range(0, ${graft.llm.Multimodal.PhashBands})) AS t(b)
         |), phhot AS (
         |  SELECT b, bv FROM phb GROUP BY b, bv HAVING count(*) > 256
         |), phcold AS (
         |  SELECT phb.* FROM phb ANTI JOIN phhot USING (b, bv)
         |), php AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |           bit_count(xor(a.dhash, c.dhash)) AS hamming
         |    FROM phcold a JOIN phcold c ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
         |  ) WHERE hamming <= 6
         |), phe AS (
         |  SELECT id_a AS src, id_b AS dst FROM php
         |  UNION
         |  SELECT id_b, id_a FROM php
         |), phwalk(id, r) AS (
         |  SELECT doc_id, doc_id FROM phh
         |  UNION
         |  SELECT w.id, e.dst FROM phwalk w JOIN phe e ON w.r = e.src
         |), phcomp AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM phwalk GROUP BY id
         |), phsz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM phcomp GROUP BY cluster_id
         |)
         |SELECT c.doc_id, c.cluster_id, s.cluster_size
         |FROM phcomp c JOIN phsz s USING (cluster_id)
         |ORDER BY c.doc_id""".stripMargin,

    "mm_frames" ->
      """WITH fr AS (
        |  SELECT doc_id, unnest(range(0, CAST(doc_id % 6 AS BIGINT) + 1)) AS f
        |  FROM documents
        |)
        |SELECT doc_id, f AS frame_idx,
        |       CAST(doc_id % 4 + 1 AS BIGINT) AS width,
        |       CAST(doc_id % 3 + 1 AS BIGINT) AS height,
        |       CAST((doc_id % 4 + 1) * (doc_id % 3 + 1) * ((doc_id + 11 * f) % 256) AS BIGINT) AS sum_r,
        |       CAST((doc_id % 4 + 1) * (doc_id % 3 + 1) * ((doc_id * 3 + 17 * f) % 256) AS BIGINT) AS sum_g,
        |       CAST((doc_id % 4 + 1) * (doc_id % 3 + 1) * ((doc_id * 7 + 23 * f) % 256) AS BIGINT) AS sum_b
        |FROM fr WHERE f % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Closed-form ground truth of the synthetic WAV generator: sample i
    // is (doc_id*13 + i*37) % 2001 - 1000 over n = doc_id%50+10 samples;
    // truncated payloads (doc_id%9) zero out behind ok=false.
    "mm_audio" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(0, doc_id % 50 + 10),
        |                        i -> (doc_id * 13 + i * 37) % 2001 - 1000) AS sm
        |  FROM documents
        |)
        |SELECT doc_id,
        |  doc_id % 9 <> 0 AS ok,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE 8000 + (doc_id % 4) * 2000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0 ELSE len(sm) END AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE list_sum(list_transform(sm, x -> abs(x))) END AS BIGINT) AS sum_abs,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE list_aggregate(list_transform(sm, x -> abs(x)), 'max') END AS BIGINT) AS max_abs,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE len(list_filter(range(1, len(sm)),
        |                                 i -> (sm[i] < 0) <> (sm[i + 1] < 0))) END AS BIGINT) AS zero_cross
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_bpe_train" -> bpeTrainOracleSql(BpeTrainRounds),
    "text_tokens_ranked" -> bpeRankedOracleSql(BpeTrainRounds),

    "text_tokens_bpe" -> bpeOracleSql(BpeVocab, steps = 10),

    "pipe_chunks_bpe" -> bpeChunksOracleSql(BpeVocab, steps = 10,
      chunkTokens = ChunkSize, stride = ChunkStride),

    "text_tokens" ->
      s"""SELECT doc_id,
         |       CASE WHEN length(trim(text)) = 0 THEN 0
         |            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |       CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePattern.replace("'", "''")}')) AS BIGINT) AS n_tokens_bpe,
         |       CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" -> textQualityOracle,

    "text_langid" -> textLangidOracle,

    "text_fingerprint" ->
      s"""SELECT doc_id,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform(
         |             string_split(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'), ''),
         |             c -> CAST(ord(c) AS BIGINT))),
         |         (a, b) -> (a * 31 + b) % ${TextAnalysis.FpMod}) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_embed" -> {
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
    },

    "ann_text" -> {
      s"""WITH $txtEmbChain, ev AS (
         |  SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v
         |  FROM dense GROUP BY doc_id
         |), evn AS (
         |  SELECT doc_id, v, sqrt(${dotSql("v", "v")}) AS n FROM ev
         |), q AS (
         |  SELECT doc_id AS q_id, v AS qv, n AS qn FROM evn
         |  WHERE doc_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT q.q_id, evn.doc_id AS vec_id,
         |         round(${dotSql("evn.v", "q.qv")} / (evn.n * q.qn), 6) AS cos
         |  FROM evn CROSS JOIN q
         |  WHERE evn.doc_id <> q.q_id
         |)
         |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored
         |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin
    },

    "pipe_sample" -> {
      val denom = 10000
      val cases = PipeFractions.map { case (k, f) =>
        s"WHEN '$k' THEN ${math.round(f * denom)}" }.mkString(" ")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$PipeSeed')), 1, 8)) AS BIGINT) % $denom
         |      < CASE lang $cases ELSE ${math.round(PipeDefaultFrac * denom)} END
         |ORDER BY doc_id""".stripMargin
    },

    "pipe_sample_k" ->
      s"""WITH h AS (
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
         |ORDER BY lang, sample_rank""".stripMargin,

    "pipe_clean" -> pipeCleanOracle,

    // The identical funnel over the closed-form EXTRACTED text of the
    // htmlInjected template (the text_extract ground truth as a CTE).
    "pipe_clean_html" -> pipeCleanOracleFrom("xsrc",
      """xsrc AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || ' heading words' || chr(10) ||
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '5 & 10 <tags> block'
        |         ELSE '' END AS text
        |  FROM documents
        |), """.stripMargin),

    "url_normalize" ->
      s"""WITH $UrlCte
         |SELECT doc_id, url_norm,
         |       regexp_extract(url_norm, '://([^/]*)', 1) AS domain
         |FROM (SELECT doc_id, $UrlNormSql AS url_norm FROM urls)
         |ORDER BY doc_id""".stripMargin,

    // k smallest (md5(id, seed), id) per domain — the window rank
    // materializes in a CTE (DuckDB bars window functions in WHERE).
    "url_domcap" ->
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
         |ORDER BY doc_id""".stripMargin,

    "dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, weight FROM dwt ORDER BY doc_id""".stripMargin,

    // Gumbel key = weight/T − ln(−ln u) with u the (id, seed) md5 bucket
    // pushed to (0,1); top-k by (key DESC, id).
    "dsir_sample" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, weight, g_key FROM (
         |  SELECT doc_id, weight,
         |         round(weight / 1.0 - ln(-ln((CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$DsirSeed')), 1, 8)) AS BIGINT) % $DsirDenom + 0.5) / $DsirDenom)), 6) AS g_key
         |  FROM dwt
         |) ORDER BY g_key DESC, doc_id LIMIT $DsirK""".stripMargin,

    // The threshold plan must reproduce the top-k EXACTLY — the oracle is
    // the same Gumbel top-k SQL at the dsir_select budget.
    "dsir_select" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, weight, g_key FROM (
         |  SELECT doc_id, weight,
         |         round(weight / 1.0 - ln(-ln((CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$DsirSeed')), 1, 8)) AS BIGINT) % $DsirDenom + 0.5) / $DsirDenom)), 6) AS g_key
         |  FROM dwt
         |) ORDER BY g_key DESC, doc_id LIMIT $DsirKSel""".stripMargin,

    // Per-stratum keep fraction min(1, totalN·share / n) re-derived from
    // count(*); the keep decision is the same pure (id, seed) bucket as
    // pipe_sample.
    "pipe_mixture" -> {
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
    },

    "pipe_pack" ->
      s"""WITH ptok AS (
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
         |FROM pcum ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH $TokCte, t2 AS (
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
         |ORDER BY doc_id""".stripMargin,

    "text_bm25" -> {
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
    },

    "text_commonness" ->
      s"""WITH $TokCte, tt AS (
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
         |FROM tok t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "text_perplexity" ->
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
         |ORDER BY doc_id""".stripMargin,

    "text_collocations" ->
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
         |ORDER BY pmi DESC, cb.w1, cb.w2 LIMIT $CollK""".stripMargin,

    "text_passages" ->
      s"""WITH $TokCte, pg AS (
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
         |GROUP BY pe.doc_id ORDER BY doc_id""".stripMargin,

    // Replay of the span construction: hashed-gram census -> hot set ->
    // positional anchors -> lag/cumsum run merge (two window CTEs; no
    // nested windows) -> per-run min/max with the doc-end clip.
    "dedup_spans" ->
      s"""WITH $TokCte, $spanCtes
         |SELECT doc_id, span_start, span_len FROM spsp
         |ORDER BY doc_id, span_start""".stripMargin,

    // The rewrite graded independently: explode span coverage to token
    // positions, anti-join the token stream, re-join survivors in order,
    // fingerprint. Docs with no spans (or nothing left) still get a row.
    "dedup_spans_clean" ->
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
         |ORDER BY k.doc_id""".stripMargin,

    // The C4 line rules replayed over the same closed-form page: split,
    // list_filter on the identical three line predicates, re-join.
    "pipe_clean_lines" ->
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
         |FROM c4kp ORDER BY doc_id""".stripMargin,

    // Line stage replayed ahead of the standard funnel chain: flagged
    // pages drop, text rewrites to surviving lines, then the identical
    // lang/quality/dedup/decon CTEs run over `lsrc`.
    "pipe_clean_c4" -> pipeCleanOracleFrom("lsrc",
      s"""$C4PageCte, lsrc AS (
         |  SELECT doc_id,
         |         array_to_string(list_filter(string_split(p, chr(10)), l ->
         |           regexp_matches(trim(l), '[.!?"]$$')
         |           AND (CASE WHEN length(trim(l)) = 0 THEN 0
         |                     ELSE len(regexp_split_to_array(trim(l), '\\s+')) END) >= 3
         |           AND NOT contains(lower(l), 'javascript')), chr(10)) AS text
         |  FROM c4pg
         |  WHERE NOT (contains(lower(p), 'lorem ipsum') OR contains(p, '{'))
         |), """.stripMargin),

    // Keep-one: span content hashes over the covered token slices, the
    // winner occurrence per hash by (doc_id, start) row_number, coverage
    // from NON-winner spans only, then the identical rebuild.
    "dedup_spans_keep1" ->
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
         |ORDER BY k.doc_id""".stripMargin,

    // Ground truth of the htmlInjected template: head/style/script and
    // every high-link-density or below-minWords block drop; what remains
    // is the heading, the (whitespace-normalized) document text, and the
    // decoded entity block on doc_id % 5 — joined with \n in page order.
    "text_extract" ->
      """SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' heading words' || chr(10) ||
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |  CASE WHEN doc_id % 5 = 0 THEN chr(10) || '5 & 10 <tags> block'
        |       ELSE '' END AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Closed-form edge table of the htmlInjected template's anchors, in
    // page order (the conditional read-more slots in before the footer).
    "text_links" ->
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
        |ORDER BY doc_id, pos""".stripMargin,

    "text_pii" -> {
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
    },

    "pipe_chunks" ->
      s"""WITH $TokCte, ch AS (
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
         |FROM ex ORDER BY doc_id, chunk_id""".stripMargin,

    // Dynamic oracle: the whole two-level quantizer construction — k from
    // count(*), seed selection by (md5(id), id), nearest-seed argmax by
    // (score DESC, seed id ASC) — is re-derived in SQL, no frozen export.
    "dedup_semantic_auto" ->
      s"""WITH $EmbCte, $semAutoCtes
         |SELECT id_a, id_b, cluster, cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
         |         round(${dotSql("a.v", "b.v")} / (a.n * b.n), 6) AS cos
         |  FROM sema2 a JOIN sema2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |) WHERE cos >= $SemThreshold ORDER BY id_a, id_b""".stripMargin,

    // Search twin over the same dynamically re-derived quantizer: probe
    // nearest coarse seeds, then nearest fine seeds among those cells,
    // exact re-rank within the probed inverted lists.
    "ann_ivf_auto" -> ivfAutoTopkSql(AnnAutoProbe1, AnnAutoProbe2),

    "pipe_shuffle" ->
      s"""WITH sk AS (
         |  SELECT doc_id,
         |         CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$PipeSeed')), 1, 8)) AS BIGINT) AS k
         |  FROM documents
         |)
         |SELECT doc_id, k % $PipeShards AS shard,
         |       CAST(row_number() OVER (PARTITION BY k % $PipeShards ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
         |FROM sk ORDER BY doc_id""".stripMargin,

    "decon_flags" ->
      s"""WITH $deconCtes
         |SELECT doc_id, hits FROM dhits ORDER BY doc_id""".stripMargin,

    "decon_clean" ->
      s"""WITH $deconCtes
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id % $DecBenchMod <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM dhits)
         |ORDER BY doc_id""".stripMargin,

    // Bipartite twin of the dedup_minhash_pairs CTEs: train band keys
    // join BENCH band keys, exact Jaccard re-rank, per-doc match stats.
    "decon_fuzzy" -> {
      val rpb = MhHashes / MhBands
      val hEq = (0 until rpb).map(i => s"l.h_$i = r.h_$i").mkString(" AND ")
      s"""WITH $minhashBandedCtes, fcand AS (
         |  SELECT DISTINCT l.doc_id AS did, r.doc_id AS bid
         |  FROM banded l JOIN banded r ON l.band = r.band AND $hEq
         |  WHERE l.doc_id % $DecBenchMod <> 0 AND r.doc_id % $DecBenchMod = 0
         |), fjac AS (
         |  SELECT did,
         |         round(len(list_intersect(a.hs, b.hs)) * 1.0
         |               / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS j
         |  FROM fcand JOIN sh a ON a.doc_id = fcand.did
         |             JOIN sh b ON b.doc_id = fcand.bid
         |)
         |SELECT did AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |       max(j) AS best_jaccard
         |FROM fjac WHERE j >= $MhThreshold GROUP BY did ORDER BY doc_id""".stripMargin
    },

    "plot_signal" ->
      s"""WITH $OpsetCte
         |SELECT record, t, CAST(value AS DOUBLE) AS y,
         |       (event_type = 'error') AS phase
         |FROM opset WHERE record = '1' ORDER BY t""".stripMargin,

    "plot_sel" ->
      s"""WITH $LineitemLabeledCte
         |SELECT l_orderkey, l_linenumber, 'PRICE [$$]' AS variable, 'PRICE ' AS name,
         |       '$$' AS unit, CAST("PRICE [$$]" AS DOUBLE) AS y
         |FROM li ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "plot_byunit" ->
      s"""WITH $LineitemLabeledCte
         |SELECT l_orderkey, l_linenumber, variable, name, unit, y FROM (
         |  SELECT l_orderkey, l_linenumber, 'DISC [%]' AS variable, 'DISC ' AS name,
         |         '%' AS unit, CAST("DISC [%]" AS DOUBLE) AS y FROM li
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, 'TAX [%]', 'TAX ', '%', CAST("TAX [%]" AS DOUBLE) FROM li
         |) ORDER BY l_orderkey, l_linenumber, variable""".stripMargin,

    "plot_group" -> plotGroupOracle,

    "plot_double" -> plotDoubleOracle,

    "plot_ts" ->
      s"""WITH $OpsetCte
         |SELECT record, t, 'value' AS variable, 'value' AS name, '-' AS unit,
         |       CAST(value AS DOUBLE) AS y
         |FROM opset ORDER BY record, t""".stripMargin,
  ) ++ treeOracles ++ ivfOracle ++ pqOracle ++ semOracle ++ semTextOracle ++ tubeFitOracle ++ pcaCircleOracle ++ clsOracle ++ probeAutoOracle ++ pipeFunnelOracle

  // ----- long oracle bodies ----------------------------------------------

  private def sgOracle(deriv: Int): String = {
    val (ctes, rel) = SignalOps.sgOracleCtes(
      "opset", "value", "record", "t", SgW, SgDeg, deriv, "x")
    s"""WITH $OpsetCte, $ctes
       |SELECT record, t, round(x, 6) AS x FROM $rel ORDER BY record, t""".stripMargin
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

  private def plotGroupOracle: String = {
    val melts = LineitemLabels.map { case (c, lab) =>
      val (n, u) = ColumnMeta.nameunit(lab)
      s"""SELECT l_orderkey, l_linenumber, '$lab' AS variable, '$n' AS name, '$u' AS unit,
         |       round(CASE WHEN stddev_samp($c) OVER () <> 0
         |                  THEN ($c - avg($c) OVER ()) / stddev_samp($c) OVER () END, 6) AS y
         |FROM lineitem""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""SELECT * FROM (
       |$melts
       |) WHERE y IS NOT NULL ORDER BY l_orderkey, l_linenumber, variable""".stripMargin
  }

  private def plotDoubleOracle: String = {
    def arm(lab: String, pane: Int): String = {
      val (n, u) = ColumnMeta.nameunit(lab)
      s"""SELECT l_orderkey, l_linenumber, '$lab' AS variable, '$n' AS name, '$u' AS unit,
         |       CAST("$lab" AS DOUBLE) AS y, $pane AS pane FROM li""".stripMargin
    }
    val top = Seq("QTY [u]")
    val arms = (top.map(arm(_, 1)) ++
      LineitemLabels.map(_._2).filterNot(top.contains).map(arm(_, 2))).mkString("\n  UNION ALL\n")
    s"""WITH $LineitemLabeledCte
       |SELECT * FROM (
       |$arms
       |) ORDER BY pane, l_orderkey, l_linenumber, variable""".stripMargin
  }
}
