package graft.tubes

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Opset, Parquet}

/** Confidence tubes — the reference's second flagship (tabata tubes.py).
  *
  * The reference fits an ensemble of linear regressions per target
  * (tubes.py:177 `build_tube`: random factor subsets + random row samples,
  * keep the best few by held-out r²), then `estimate` (tubes.py:306) wraps
  * each record in a tube: ensemble mean `z`, bounds `z ∓ q·(z − min/max)`,
  * optionally Savitzky-Golay-smoothed; `scores` (tubes.py:392) counts
  * out-of-tube samples per record.
  *
  * Spark mapping, designed for 100 TB:
  *  - Per-record one-factor OLS is *closed form* over six window sums
  *    (`n, Σx, Σy, Σx², Σxy, Σy²` partitioned by record) — one shuffle,
  *    whole-stage codegen, records fit independently and in parallel.
  *  - The ensemble fit samples rows with a deterministic hash (no RNG
  *    state, reproducible on any cluster), caches the ~2% sample ONCE, and
  *    runs each retry's normal equations as a tiny aggregation over the
  *    cached sample: one full-data scan total, k×k driver solve (k ≤ 6).
  *  - Estimation/scoring are pure column arithmetic + one groupBy —
  *    no driver loops over records, no collect of signal data.
  */
object Tube {

  /** Default tube factor `q` (reference tube_params, tubes.py:165). */
  val TubeFactor = 2.0

  // ---- highlight (tubes.py:41) -----------------------------------------

  /** Overlay Opset: `origin` plus a boolean `INTERVAL` column marking rows
    * present in `extract` (same record/t keys) — the reference's
    * `highlight` phase construction.
    */
  def highlight(origin: Opset, extract: Opset): Opset = {
    val keys = extract.df.select(col(extract.recordCol).as("_hr"), col(extract.tCol).as("_ht"))
      .distinct().withColumn("_hit", lit(true))
    val joined = origin.df.join(
        keys,
        col(origin.recordCol) === col("_hr") && col(origin.tCol) === col("_ht"),
        "left")
      .withColumn("INTERVAL", coalesce(col("_hit"), lit(false)))
      .drop("_hr", "_ht", "_hit")
    origin.copy(df = joined)
  }

  // ---- derived factors (tubes.py:214-219, 328-330) ---------------------

  /** The reference's derived per-record factors: TIME (0-based sample
    * index), MEDIAN (record median of the target), CAUSAL (record's first
    * target value). All are window computations — no driver iteration.
    */
  def withDerivedFactors(df: DataFrame, rec: String, t: String, target: String): DataFrame = {
    val wRec = Window.partitionBy(rec)
    val wOrd = Window.partitionBy(rec).orderBy(t)
    df.withColumn("TIME", (col(t) - 1).cast("double"))
      .withColumn("MEDIAN", expr(s"percentile($target, 0.5)").over(wRec))
      .withColumn("CAUSAL", first(col(target)).over(wOrd))
  }

  // ---- per-record closed-form OLS --------------------------------------

  /** Per-record 1-factor OLS fit table: (record, b0, b1, r2) — the
    * SQL-oracle-checkable core of `build_tube` (tubes.py:252-255). One
    * groupBy on the record key, map-side partial aggregation of the six
    * sufficient statistics, closed-form solve in the projection.
    */
  def ols1PerRecord(df: DataFrame, rec: String, x: String, y: String): DataFrame = {
    val xc = col(x).cast("double")
    val yc = col(y).cast("double")
    val s = df.groupBy(col(rec)).agg(
      count(lit(1)).cast("double").as("n"),
      sum(xc).as("sx"), sum(yc).as("sy"),
      sum(xc * xc).as("sxx"), sum(xc * yc).as("sxy"), sum(yc * yc).as("syy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val b1 = when(abs(den) > 1e-9,
      (col("n") * col("sxy") - col("sx") * col("sy")) / den).otherwise(lit(0.0))
    val withB = s.withColumn("b1", b1)
      .withColumn("b0", (col("sy") - col("b1") * col("sx")) / col("n"))
    val ssTot = col("syy") - col("sy") * col("sy") / col("n")
    val ssRes = col("syy") + col("n") * col("b0") * col("b0") +
      col("b1") * col("b1") * col("sxx") +
      lit(2.0) * col("b0") * col("b1") * col("sx") -
      lit(2.0) * col("b0") * col("sy") - lit(2.0) * col("b1") * col("sxy")
    withB.withColumn("r2",
        when(abs(ssTot) > 1e-9, lit(1.0) - ssRes / ssTot).otherwise(lit(0.0)))
      .select(col(rec), col("b0"), col("b1"), col("r2"))
  }

  // ---- per-record ensemble estimate (tubes.py:306) ---------------------

  /** Materialize the OLS sufficient statistics for every (target, factor)
    * pair as REAL columns — one window aggregate each — and return the
    * augmented frame plus each target's prediction expressions (plain
    * projection arithmetic over the attributes). Window extraction hoists
    * every syntactic occurrence of a `.over()` separately, so inlining
    * the six sums per prediction into z/min/max/bounds would plant each
    * aggregate 5+ times in the WindowExec; as attributes each is computed
    * once. Distinct factors share their `sum(x)`/`sum(x*x)` columns
    * across targets. Temp columns are prefixed `_tb_` for the caller to
    * drop.
    *
    * The sums are mutually independent, so they are added in ONE ordered
    * `select`: the plan is analysed once, not once per `withColumn`, and
    * all sums land in one WindowExec (chained, the projections of `x*x`
    * and `x*y` between the steps kept Spark from merging them: 7 windows
    * for one target). Not `withColumns(Map)`: a map reorders the columns.
    */
  private def withOlsPreds(df: DataFrame, rec: String,
                           targets: Seq[(String, Seq[String])])
      : (DataFrame, Seq[Seq[Column]]) = {
    val w = Window.partitionBy(rec)
    val allFactors = targets.flatMap(_._2).distinct
    val fIdx = allFactors.zipWithIndex.toMap
    val factorSums = allFactors.flatMap { f =>
      val x = col(f); val i = fIdx(f)
      Seq(sum(x).over(w).as(s"_tb_sx_$i"), sum(x * x).over(w).as(s"_tb_sxx_$i"))
    }
    val targetSums = targets.zipWithIndex.flatMap { case ((target, factors), k) =>
      val y = col(target)
      sum(y).over(w).as(s"_tb_sy_$k") +:
        factors.map(f => sum(col(f) * y).over(w).as(s"_tb_sxy_${k}_${fIdx(f)}"))
    }
    val d = df.select(col("*") +: count(lit(1)).over(w).cast("double").as("_tb_n") +:
      (factorSums ++ targetSums): _*)
    val n = col("_tb_n")
    val preds = targets.zipWithIndex.map { case ((_, factors), k) =>
      val sy = col(s"_tb_sy_$k")
      factors.map { f =>
        val i = fIdx(f)
        val sx = col(s"_tb_sx_$i"); val sxx = col(s"_tb_sxx_$i")
        val sxy = col(s"_tb_sxy_${k}_$i")
        val den = n * sxx - sx * sx
        val b1 = when(abs(den) > 1e-9, (n * sxy - sx * sy) / den).otherwise(lit(0.0))
        val b0 = (sy - b1 * sx) / n
        b0 + b1 * col(f)
      }
    }
    (d, preds)
  }

  private def dropTb(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith("_tb_")).toIndexedSeq: _*)

  /** Tube estimate over a deterministic per-record ensemble: one 1-factor
    * OLS per factor column, ensemble mean `z`, envelope min/max, bounds
    * `zmin = z − q·(z − min)`, `zmax = z + q·(max − z)` (filter_width 0
    * variant; the SG-smoothed variant composes [[SignalOps.sgDf]] on the
    * bounds). Output: (record, t, y, z, zmin, zmax).
    */
  def estimate(df: DataFrame, rec: String, t: String, target: String,
               factors: Seq[String], q: Double = TubeFactor): DataFrame = {
    val (d, allPreds) = withOlsPreds(df, rec, Seq(target -> factors))
    val preds = allPreds.head
    val z = preds.reduce(_ + _) / preds.size
    val pMin = preds.reduce(least(_, _))
    val pMax = preds.reduce(greatest(_, _))
    // z first, then both bounds over it: one projection per dependency level
    d.withColumn("z", z)
      .select(col(rec), col(t), col(target).as("y"), col("z"),
        (col("z") - lit(q) * (col("z") - pMin)).as("zmin"),
        (col("z") + lit(q) * (pMax - col("z"))).as("zmax"))
  }

  /** Out-of-tube scores per record (tubes.py:376/392): N samples and the
    * count outside [zmin, zmax].
    */
  def scores(est: DataFrame, rec: String): DataFrame =
    est.groupBy(col(rec)).agg(
      count(lit(1)).as("n"),
      sum(when(col("y") > col("zmax") || col("y") < col("zmin"), 1L).otherwise(0L)).as("n_out"))

  /** The reference's full score matrix (tubes.py:392 `scores`): one row per
    * record, `n` samples plus one out-of-tube count per fitted target —
    * `targets` maps each target column to its factor columns.
    *
    * Single-pass by construction: every target's tube bounds are window
    * expressions over the SAME `partitionBy(record)` spec, so all targets
    * share one shuffle and one WindowExec batch, followed by one
    * aggregation — NOT one estimate job per target (the reference loops
    * records × targets; at 100 TB that loop must collapse into one scan).
    */
  def scoresMatrix(df: DataFrame, rec: String,
                   targets: Seq[(String, Seq[String])],
                   q: Double = TubeFactor): DataFrame = {
    require(targets.nonEmpty, "scoresMatrix: no fitted targets")
    val (d, allPreds) = withOlsPreds(df, rec, targets)
    val outCols = targets.zip(allPreds).map { case ((target, _), preds) =>
      val y = col(target)
      val z = preds.reduce(_ + _) / preds.size
      val pMin = preds.reduce(least(_, _))
      val pMax = preds.reduce(greatest(_, _))
      val zmin = z - lit(q) * (z - pMin)
      val zmax = z + lit(q) * (pMax - z)
      when(y > zmax || y < zmin, 1L).otherwise(0L).as(s"_out_$target")
    }
    d.select(col(rec) +: outCols: _*)
      .groupBy(col(rec))
      .agg(count(lit(1)).as("n"),
        targets.map { case (tgt, _) => sum(col(s"_out_$tgt")).as(tgt) }: _*)
  }

  /** The reference `describe` (tubes.py:359): one row per fitted target,
    * one column per factor of the pool, value = how many regressions of
    * the target's ensemble use that factor. Metadata-sized (targets ×
    * factors), built driver-side from the fitted models.
    */
  def describe(spark: org.apache.spark.sql.SparkSession,
               fitted: Seq[(String, Seq[TubeModel])],
               factorPool: Seq[String]): DataFrame = {
    val rows = fitted.map { case (target, models) =>
      org.apache.spark.sql.Row.fromSeq(
        target +: factorPool.map(f => models.count(_.factors.contains(f)).toLong))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("target",
        org.apache.spark.sql.types.StringType) +:
        factorPool.map(f => org.apache.spark.sql.types.StructField(f,
          org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  // ---- ensemble fit (tubes.py:177) -------------------------------------

  /** One fitted regression of the ensemble. */
  final case class TubeModel(factors: Seq[String], intercept: Double,
                             coefs: Array[Double], r2: Double) {
    /** The model's prediction as a column expression over `df`'s columns. */
    def predictCol: Column =
      factors.zip(coefs.toIndexedSeq).map { case (f, c) => col(f) * c }
        .foldLeft(lit(intercept): Column)(_ + _)
  }

  // ---- model persistence (the reference pickles Tube state with its
  // HDF5 store; here the fitted ensembles become one tiny parquet table,
  // so they live wherever the data lives — local disk, HDFS, S3) --------

  /** Persist fitted ensembles (target → models). Row = one regression:
    * (target, idx, factors, intercept, coefs, r2); `idx` preserves the
    * ensemble order (tie-break order in [[fit]]'s keep-best).
    */
  def saveFitted(spark: org.apache.spark.sql.SparkSession,
                 fitted: Seq[(String, Seq[TubeModel])], path: String): Unit = {
    import spark.implicits._
    fitted.flatMap { case (target, models) =>
      models.zipWithIndex.map { case (m, i) =>
        (target, i, m.factors, m.intercept, m.coefs.toSeq, m.r2)
      }
    }.toDF("target", "idx", "factors", "intercept", "coefs", "r2")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload ensembles written by [[saveFitted]], exactly (parquet doubles
    * are binary round-trips, unlike JSON text).
    */
  def loadFitted(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[(String, Seq[TubeModel])] =
    Parquet.read(spark, path)
      .orderBy("target", "idx").collect()
      .map { r =>
        (r.getAs[String]("target"),
          TubeModel(r.getAs[scala.collection.Seq[String]]("factors").toSeq,
            r.getAs[Double]("intercept"),
            r.getAs[scala.collection.Seq[Double]]("coefs").toArray,
            r.getAs[Double]("r2")))
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toSeq.sortBy(_._1)

  private def lcg(x: Long): Long = (x * 6364136223846793005L + 1442695040888963407L) >>> 11

  /** Ensemble fit, the Spark re-expression of `build_tube`:
    *
    *  - retry k picks a deterministic pseudo-random factor subset (LCG of
    *    the seed — reproducible, unlike the reference's global RNG);
    *  - train/validation rows are disjoint deterministic hash samples of
    *    ~`samplesPct` of every record (reference: per-record
    *    `np.random.choice`); the bucket hash is md5-based so an ANSI-SQL
    *    oracle can reproduce the exact sample (and so independently
    *    re-score every kept model — see SparkEntry's tube_fit oracle);
    *  - each retry solves OLS by normal equations aggregated over the
    *    CACHED sample — one full-data scan for the whole fit, then
    *    driver-side k×k solves (k ≤ maxFeatures + 1);
    *  - keep the `keepBest` models by held-out r².
    */
  def fit(df: DataFrame, rec: String, t: String, target: String, factorPool: Seq[String],
          retries: Int = 10, keepBest: Int = 5, samplesPct: Double = 0.01,
          maxFeatures: Int = 5, seed: Long = 42L): Seq[TubeModel] = {
    val pctBuckets = math.max(1, math.round(samplesPct * 100).toInt)
    val bucket = graft.llm.Dedup.md5Hash32(
      concat_ws("|", col(rec), col(t), lit(seed))) % 100
    // ONE cached scan for both samples: train and valid are disjoint
    // bucket ranges of the same ~2·samplesPct hash sample, so caching
    // them separately would run the (dominant) full-data scan twice —
    // once per cache build. Materialize the bucket as a column so the
    // two downstream filters are cheap comparisons over the cached rows.
    val sampled = df.withColumn("_tube_bucket", bucket)
      .filter(col("_tube_bucket") < 2 * pctBuckets).cache()
    val train = sampled.filter(col("_tube_bucket") < pctBuckets)
    val valid = sampled.filter(col("_tube_bucket") >= pctBuckets)
    try {
      // Every retry's factor subset is a pure function of the seed —
      // enumerate them all BEFORE touching the data, so the whole fit is
      // exactly TWO Spark jobs (one train aggregation, one validation
      // aggregation) instead of 2×retries serialized job latencies.
      val subsets: IndexedSeq[Seq[String]] = (0 until retries).map { k =>
        // factor subset: LCG-shuffled pool, LCG-picked size (≤ maxFeatures)
        val r0 = lcg(seed + k)
        val size = (lcg(r0) % math.min(maxFeatures, factorPool.size)).toInt + 1
        factorPool.sortBy(f => lcg(r0 + f.hashCode)).take(size)
      }

      // Normal equations G = XᵀX, v = Xᵀy for ALL retries in ONE
      // aggregation: distinct Gram entries sum(a·b) and moments sum(a·y)
      // are keyed by canonical column-name pair, so factors shared
      // between subsets are summed once. "" denotes the intercept column.
      val InterceptKey = ""
      def termCol(name: String): Column =
        if (name == InterceptKey) lit(1.0) else col(name).cast("double")
      val y = col(target).cast("double")
      val pairKeys = scala.collection.mutable.LinkedHashSet[(String, String)]()
      val momKeys = scala.collection.mutable.LinkedHashSet[String]()
      subsets.foreach { cc =>
        val names = InterceptKey +: cc
        for (i <- names.indices; j <- i until names.size) {
          val (a, b) = (names(i), names(j))
          pairKeys += (if (a <= b) (a, b) else (b, a))
        }
        names.foreach(momKeys += _)
      }
      val pairs = pairKeys.toIndexedSeq
      val moms = momKeys.toIndexedSeq
      val pairIdx = pairs.zipWithIndex.toMap
      val momIdx = moms.zipWithIndex.toMap
      val trainExprs =
        pairs.zipWithIndex.map { case ((a, b), i) =>
          sum(termCol(a) * termCol(b)).as(s"g_$i") } ++
        moms.zipWithIndex.map { case (a, i) =>
          sum(termCol(a) * y).as(s"v_$i") }
      val trow = train.agg(trainExprs.head, trainExprs.tail: _*).head()
      // sum over an empty input is SQL NULL: an empty sample would
      // otherwise unbox to an all-zero normal-equation matrix and yield a
      // silent all-zero-coefficient model (r2=0) — fail fast instead (the
      // usual cause: tiny inputs with the default samplesPct).
      require(!trow.isNullAt(0),
        s"Tube.fit: the deterministic hash sample (samplesPct=$samplesPct) " +
          "left an empty train set — raise samplesPct or supply more rows")

      val models = subsets.map { cc =>
        val names = InterceptKey +: cc
        val m = names.size // factors + intercept
        val g = Array.tabulate(m, m) { (i, j) =>
          val (a, b) = (names(i), names(j))
          val key = if (a <= b) (a, b) else (b, a)
          trow.getAs[Double](s"g_${pairIdx(key)}")
        }
        val v = Array.tabulate(m)(i => trow.getAs[Double](s"v_${momIdx(names(i))}"))
        val coef = solve(g, v)
        TubeModel(cc, coef(0), coef.drop(1), 0.0)
      }

      // Held-out r² for ALL models in ONE validation aggregation: one
      // SSR column per retry plus the shared total-variance sums.
      val validExprs = models.zipWithIndex.map { case (mo, k) =>
        // (y-p)*(y-p), not pow(·,2): Math.pow is not guaranteed
        // bit-exact for squaring, and the SQL oracle multiplies
        val p = mo.predictCol
        sum((y - p) * (y - p)).as(s"ssres_$k")
      } ++ Seq(sum(y).as("sy"), sum(y * y).as("syy"),
        count(lit(1)).cast("double").as("n"))
      val vrow = valid.agg(validExprs.head, validExprs.tail: _*).head()
      val n = vrow.getAs[Double]("n")
      require(n > 0,
        s"Tube.fit: the deterministic hash sample (samplesPct=$samplesPct) " +
          "left an empty validation set — raise samplesPct or supply more rows")
      val sy = vrow.getAs[Double]("sy")
      val syy = vrow.getAs[Double]("syy")
      val sstot = syy - sy * sy / n
      val scored = models.zipWithIndex.map { case (mo, k) =>
        val ssres = vrow.getAs[Double](s"ssres_$k")
        val r2 = if (math.abs(sstot) > 1e-9) 1.0 - ssres / sstot else 0.0
        mo.copy(r2 = r2)
      }
      // The reference keeps a keep_best-sized population, replacing the
      // worst on improvement (tubes.py:256-262) — i.e. the best keepBest
      // of the retries it ran. Ties broken by retry order for determinism.
      scored.zipWithIndex.sortBy { case (mo, i) => (-mo.r2, i) }
        .take(keepBest).map(_._1)
    } finally {
      sampled.unpersist()
    }
  }

  /** Solve G x = v (symmetric positive semidefinite normal equations) by
    * Gaussian elimination with partial pivoting; a near-singular pivot
    * gets a tiny ridge, matching the pseudo-inverse behavior of the
    * reference's sklearn OLS on collinear factors.
    */
  private def solve(gIn: Array[Array[Double]], vIn: Array[Double]): Array[Double] = {
    val m = gIn.length
    val g = gIn.map(_.clone())
    val v = vIn.clone()
    for (c <- 0 until m) {
      var piv = c
      for (r <- c + 1 until m) if (math.abs(g(r)(c)) > math.abs(g(piv)(c))) piv = r
      if (piv != c) {
        val tg = g(c); g(c) = g(piv); g(piv) = tg
        val tv = v(c); v(c) = v(piv); v(piv) = tv
      }
      if (math.abs(g(c)(c)) < 1e-9) g(c)(c) += 1e-6
      for (r <- 0 until m if r != c) {
        val f = g(r)(c) / g(c)(c)
        if (f != 0.0) {
          for (q <- c until m) g(r)(q) -= f * g(c)(q)
          v(r) -= f * v(c)
        }
      }
    }
    Array.tabulate(m)(i => v(i) / g(i)(i))
  }
}
