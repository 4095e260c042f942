package graft.dsp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.core.SavGol
import graft.functions.SgFilter

/** Distributed signal operators over long-format Opset data
  * (`record, t, <signals>`).
  *
  * The two core operators of the reference's instant-detection pipeline:
  *
  *  - [[sgDf]]: Savitzky-Golay filtering (tabata instants.py:76,
  *    `scipy.signal.savgol_filter` with the default `mode='interp'`). Each
  *    record's rows are collected once, t-sorted, by one `groupBy(record)`;
  *    the native [[graft.functions.SgFilter]] kernel filters the record in
  *    one primitive loop with driver-precomputed coefficients; one explode
  *    restores the rows. [[withSgColumns]] runs several filters over one
  *    collect.
  *
  *  - [[indicatorDf]]: the reference's `indicator` (instants.py:45) —
  *    count bumps/dips of a smoothed derivative by splitting each record at
  *    zero-threshold crossings and emitting a per-segment linear ramp
  *    `z0+s .. z0+s+1`. Pure window algebra, no UDFs.
  *
  * Each operator also has a `...OracleCtes` twin that emits the equivalent
  * SQL (DuckDB dialect) from the SAME coefficient arrays, used by the
  * driver's oracle comparison.
  */
object SignalOps {

  /** Savitzky-Golay filtered column `out` added to `df`. Records shorter
    * than `w` samples are dropped (scipy raises on them; here they are
    * filtered distributedly so no record silently yields null rows). An
    * interior sample is null when a null sample lies under its stencil; a
    * null sample among a record's first or last `w` raises.
    *
    * @param x     signal column name
    * @param rec   record column name
    * @param t     order column name
    * @param w     odd window width
    * @param deg   polynomial degree
    * @param deriv derivative order (0 = smoothing)
    */
  def sgDf(df: DataFrame, x: String, rec: String, t: String,
           w: Int, deg: Int, deriv: Int, out: String): DataFrame =
    withSgColumns(df, rec, t, deg, Seq((out, x, w, deriv)))

  /** `df`'s columns plus one SG column per `(out, x, w, deriv)` of
    * `filters`, optionally followed by the 1-based row number and the
    * record length (`positions`, both long).
    *
    * One `groupBy(rec)` collects each record's rows once as `t`-sorted
    * structs; records shorter than the narrowest window are dropped before
    * any kernel runs; each filter is one [[graft.functions.SgFilter]] call
    * per record, null for a record shorter than its window; one explode
    * restores the rows. `rec` comes out as the grouping attribute, so the
    * output stays hash-partitioned on it and a downstream
    * `partitionBy(rec)` window plans no exchange. Every column of `df`
    * must be orderable (the rows are sorted as structs, `t` first).
    */
  def withSgColumns(df: DataFrame, rec: String, t: String, deg: Int,
                    filters: Seq[(String, String, Int, Int)],
                    positions: Option[(String, String)] = None): DataFrame = {
    val fields = df.columns.toSeq.filter(_ != rec)
    val rows = df.groupBy(col(rec))
      .agg(sort_array(collect_list(struct((t +: fields.filter(_ != t)).map(col): _*))).as("_sg_rows"))
      .filter(size(col("_sg_rows")) >= filters.map(_._3).min)
    val kernels = filters.zipWithIndex.map { case ((_, x, w, d), i) =>
      column(SgFilter(expression(col("_sg_rows").getField(x).cast("array<double>")), w, deg, d))
        .as(s"_sg_k$i")
    }
    val exploded = rows
      .select(col(rec) +: col("_sg_rows") +: size(col("_sg_rows")).as("_sg_n") +: kernels: _*)
      .select(Seq(col(rec), posexplode(col("_sg_rows")).as(Seq("_sg_i", "_sg_row")), col("_sg_n")) ++
        filters.indices.map(i => col(s"_sg_k$i")): _*)
    val pos = positions.toSeq.flatMap { case (rn, n) =>
      Seq((col("_sg_i") + 1).cast("long").as(rn), col("_sg_n").cast("long").as(n))
    }
    exploded.select(
      df.columns.toSeq.map(c => if (c == rec) col(rec) else col("_sg_row").getField(c).as(c)) ++ pos ++
        filters.zipWithIndex.map { case ((out, _, _, _), i) =>
          col(s"_sg_k$i").getItem(col("_sg_i")).as(out)
        }: _*)
  }

  /** DuckDB CTE chain equivalent to [[sgDf]]: returns (cteClauses,
    * finalRelationName); the final relation exposes (rec, t, out).
    *
    * DuckDB rejects window calls nested inside another window's aggregate
    * ("window function calls cannot be nested"), so row number and record
    * length are materialized as plain columns in a first CTE, and every
    * window term (lag/lead, first/last-w samples) becomes a plain column in
    * a second CTE before the edge CASE combines them arithmetically, with
    * the same tap order as [[graft.core.SavGol.filter]]. Records shorter
    * than `w` are dropped, as in [[sgDf]].
    */
  def sgOracleCtes(src: String, x: String, rec: String, t: String,
                   w: Int, deg: Int, deriv: Int, out: String,
                   prefix: String = ""): (String, String) = {
    val half = w / 2
    val cw   = SavGol.centralWeights(w, deg, deriv)
    val ew   = SavGol.edgeWeights(w, deg, deriv)
    val sgn  = if (deriv % 2 == 0) 1.0 else -1.0
    val over = s"PARTITION BY $rec ORDER BY $t"
    val part = s"PARTITION BY $rec"
    val lagLead = (1 to half).flatMap(k => Seq(
      s"lag(_x, $k) OVER ($over) AS _lag_$k",
      s"lead(_x, $k) OVER ($over) AS _lead_$k"))
    // j-th sample from the start / end of the record as plain columns
    // (exactly one row matches each CASE, so max() picks it).
    val firstCols = (0 until w).map(j =>
      s"max(CASE WHEN _rn = ${j + 1} THEN _x END) OVER ($part) AS _fst_$j")
    val lastCols = (0 until w).map(j =>
      s"max(CASE WHEN _rn = _n - $j THEN _x END) OVER ($part) AS _lst_$j")
    val interior = (0 until w).map { j =>
      val off = j - half
      val term = if (off < 0) s"_lag_${-off}" else if (off > 0) s"_lead_$off" else "_x"
      s"($term) * (${cw(j)})"
    }.mkString(" + ")
    def leftEdge(i: Int): String =
      (0 until w).map(j => s"_fst_$j * (${ew(i)(j)})").mkString(" + ")
    def rightEdge(i: Int): String =
      (0 until w).map(j => s"_lst_$j * (${sgn * ew(i)(j)})").mkString(" + ")
    val cases = (0 until half).map(i => s"WHEN _rn = ${i + 1} THEN (${leftEdge(i)})") ++
      (0 until half).map(i => s"WHEN _rn = _n - $i THEN (${rightEdge(i)})")
    val ctes =
      s"""${prefix}_sg_base AS (
         |  SELECT $rec, $t, $x AS _x,
         |         row_number() OVER ($over) AS _rn,
         |         count(*) OVER ($part) AS _n
         |  FROM $src
         |), ${prefix}_sg_win AS (
         |  SELECT $rec, $t, _x, _rn, _n,
         |         ${(lagLead ++ firstCols ++ lastCols).mkString(",\n         ")}
         |  FROM ${prefix}_sg_base WHERE _n >= $w
         |), ${prefix}_sg_out AS (
         |  SELECT $rec, $t, _rn, _n,
         |         CASE ${cases.mkString(" ")} ELSE ($interior) END AS $out
         |  FROM ${prefix}_sg_win
         |)""".stripMargin
    (ctes, s"${prefix}_sg_out")
  }

  /** The reference `indicator` (instants.py:45) on top of a pre-computed
    * smoothed column `sg`: threshold crossings of `sg` vs `sigma` split each
    * record into segments; segment `s` (0-based) ramps linearly from
    * `z0+s` to `z0+s+1` over its points, where `z0` is 0 if the first
    * crossing is upward and 1 otherwise. Records with no crossing get 0.
    *
    * Returns the z column; `df` must carry `rec`, `t` and `sg` columns.
    */
  def indicatorDf(df: DataFrame, sg: String, rec: String, t: String,
                  sigma: Double, out: String): DataFrame =
    indicatorDf(df, sg, rec, t, lit(sigma), sigma > 0, out)

  /** As above with a column-valued threshold (e.g. an epsilon-scaled sigma
    * joined in from an aggregation); `positive` picks the crossing
    * direction the reference derives from sigma's sign (instants.py:59).
    */
  def indicatorDf(df: DataFrame, sg: String, rec: String, t: String,
                  sigma: Column, positive: Boolean, out: String): DataFrame = {
    val wOrd  = Window.partitionBy(rec).orderBy(t)
    val wFull = Window.partitionBy(rec).orderBy(t)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val b  = if (positive) (col(sg) > sigma).cast("int") else (col(sg) < sigma).cast("int")
    val d1 = df.withColumn("_b", b)
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_dp", lead(col("_b"), 1).over(wOrd) - col("_b"))
      .withColumn("_c", when(col("_dp").isNotNull && col("_dp") =!= 0, 1).otherwise(0))
    val d2 = d1
      .withColumn("_seg", sum(col("_c")).over(wOrd)) // crossings at idx <= current
      .withColumn("_ncross", sum(col("_c")).over(wFull))
      .withColumn("_rnc", min(when(col("_c") === 1, col("_rn"))).over(wFull))
      .withColumn("_firstdp", max(when(col("_rn") === col("_rnc"), col("_dp"))).over(wFull))
    // _seg counts crossings with index <= current row, so the row AT a
    // crossing index already belongs to... careful: reference splits
    // segments so that sample k (dp[k]!=0) ENDS its segment at k (exclusive
    // upper bound), i.e. sample k starts the NEXT segment? No: z[i0:i] with
    // boundaries i in k — sample k is the first of the next segment.
    // _seg(j) = #\{k <= j\} gives: j=k -> 1 (next segment) as required.
    val wSeg    = Window.partitionBy(rec, "_seg").orderBy(t)
    val wSegAll = Window.partitionBy(rec, "_seg")
    val z0 = when(col("_firstdp") === 1, lit(0.0)).otherwise(lit(1.0))
    val m  = count(lit(1)).over(wSegAll)
    val p  = row_number().over(wSeg) - 1
    val ramp = when(m > 1, p.cast("double") / (m - 1).cast("double")).otherwise(lit(0.0))
    d2.withColumn(out,
        when(col("_ncross") === 0, lit(0.0))
          .otherwise(z0 + (col("_seg")).cast("double") + ramp))
      .drop("_b", "_rn", "_dp", "_c", "_seg", "_ncross", "_rnc", "_firstdp")
  }

  /** DuckDB CTE chain producing (rec, t, z) for [[indicatorDf]] applied to
    * an SG-smoothed signal: returns (cteClauses, finalRelationName). `src`
    * is a FROM-able relation exposing rec/t/x.
    */
  def indicatorOracleCtes(src: String, x: String, rec: String, t: String,
                          w: Int, deg: Int, deriv: Int, sigma: Double): (String, String) =
    indicatorOracleCtes(src, x, rec, t, w, deg, deriv,
      if (sigma > 0) s"_sg > $sigma" else s"_sg < $sigma", "")

  /** As above with an arbitrary SQL crossing condition over `_sg` (e.g.
    * `_sg > 2.0 * (SELECT eps FROM ...)`) and a CTE-name prefix so several
    * indicator chains can coexist in one query.
    */
  def indicatorOracleCtes(src: String, x: String, rec: String, t: String,
                          w: Int, deg: Int, deriv: Int,
                          bCond: String, prefix: String): (String, String) = {
    val over = s"PARTITION BY $rec ORDER BY $t"
    val (sgCtes, sgRel) = sgOracleCtes(src, x, rec, t, w, deg, deriv, "_sg", prefix)
    val ctes = s"""$sgCtes, ${prefix}_bd AS (
  SELECT $rec, $t, CASE WHEN $bCond THEN 1 ELSE 0 END AS _b FROM $sgRel
), ${prefix}_dpd AS (
  SELECT $rec, $t, _b,
         (lead(_b) OVER ($over)) - _b AS _dp,
         row_number() OVER ($over) AS _rn
  FROM ${prefix}_bd
), ${prefix}_cd AS (
  SELECT *, CASE WHEN _dp IS NOT NULL AND _dp <> 0 THEN 1 ELSE 0 END AS _c FROM ${prefix}_dpd
), ${prefix}_segd AS (
  SELECT *,
         sum(_c) OVER ($over) AS _seg,
         sum(_c) OVER (PARTITION BY $rec) AS _ncross,
         min(CASE WHEN _c = 1 THEN _rn END) OVER (PARTITION BY $rec) AS _rnc
  FROM ${prefix}_cd
), ${prefix}_fd AS (
  SELECT *,
         max(CASE WHEN _rn = _rnc THEN _dp END) OVER (PARTITION BY $rec) AS _firstdp
  FROM ${prefix}_segd
), ${prefix}_ind_out AS (
  SELECT $rec, $t,
         CASE WHEN _ncross = 0 THEN 0.0
              ELSE (CASE WHEN _firstdp = 1 THEN 0.0 ELSE 1.0 END)
                   + CAST(_seg AS DOUBLE)
                   + (CASE WHEN (count(*) OVER (PARTITION BY $rec, _seg)) > 1
                           THEN CAST(row_number() OVER (PARTITION BY $rec, _seg ORDER BY $t) - 1 AS DOUBLE)
                                / CAST((count(*) OVER (PARTITION BY $rec, _seg)) - 1 AS DOUBLE)
                           ELSE 0.0 END)
         END AS z
  FROM ${prefix}_fd
)"""
    (ctes, s"${prefix}_ind_out")
  }

  /** Reference (driver-side, array-based) implementations used by the
    * ScalaTest specs to pin the distributed versions to the exact semantics
    * of instants.py:45/76. Small arrays only — never used in the engine.
    */
  object local {
    def savgol(y: Array[Double], w: Int, deg: Int, deriv: Int): Array[Double] = {
      val n = y.length
      require(n >= w, s"record shorter than window ($n < $w)")
      val half = w / 2
      val cw = SavGol.centralWeights(w, deg, deriv)
      val ew = SavGol.edgeWeights(w, deg, deriv)
      val sgn = if (deriv % 2 == 0) 1.0 else -1.0
      Array.tabulate(n) { i =>
        if (i < half) (0 until w).map(j => ew(i)(j) * y(j)).sum
        else if (i >= n - half) {
          val ii = n - 1 - i
          sgn * (0 until w).map(j => ew(ii)(j) * y(n - 1 - j)).sum
        } else (0 until w).map(j => cw(j) * y(i - half + j)).sum
      }
    }

    /** Direct translation of instants.py:45 for test fixtures. */
    def indicator(y: Array[Double], width: Int, order: Int, sigma: Double,
                  deg: Int = 2): Array[Double] = {
      val x = savgol(y, width, deg, order)
      val b = x.map(v => if (sigma > 0) v > sigma else v < sigma)
      val dp = (0 until y.length - 1).map(i => (if (b(i + 1)) 1 else 0) - (if (b(i)) 1 else 0))
      val k = dp.zipWithIndex.filter(_._1 != 0).map(_._2)
      val z = Array.fill(y.length)(0.0)
      if (k.nonEmpty) {
        var z0 = 1.0 - (if (dp(k.head) == 1) 1.0 else 0.0)
        var i0 = 0
        (k :+ y.length).foreach { i =>
          val m = i - i0
          (0 until m).foreach { j =>
            z(i0 + j) = if (m > 1) z0 + j.toDouble / (m - 1) else z0
          }
          z0 += 1.0
          i0 = i
        }
      }
      z
    }
  }

  /** Index-bucket resampling: one row per (record, bucket of `every`
    * consecutive samples) with count/mean/min/max and the bucket's first
    * sample index `t0` — the downsampling pass every long-signal UI and
    * coarse-grained model runs before touching a 10^9-sample channel.
    *
    * Aggregation-shaped on purpose: ONE map-side-combined groupBy, no
    * window and no sort — at 100 TB the resample ships only bucket
    * partials through the shuffle, and parallelism is records × buckets
    * rather than records. The mean is rounded at the caller-visible
    * precision (6) since float summation order is partition-dependent;
    * min/max/count are exact.
    */
  def resample(df: DataFrame, valueCol: String, recordCol: String, tCol: String,
               every: Int): DataFrame = {
    require(every >= 1, "resample: every must be >= 1")
    df.groupBy(col(recordCol),
        (expr(s"($tCol - 1) div $every") * every + 1).as("t0"))
      .agg(count(lit(1)).as("n"),
        round(avg(col(valueCol)), 6).as("mean_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))
  }

  /** Z-score outlier flags per record: samples whose value sits more
    * than `k` standard deviations from the record mean, with `z`
    * rounded to 6. The moment sums are EXACT — values quantize to 1e-6
    * BIGINT ticks per row, and Σt / Σt² accumulate in 38-digit decimals
    * (tick² ≤ 1e16; a 10^9-sample record stays within 10^25 ≪ 10^38) —
    * so mean/stddev are computed ONCE per record from exact integers
    * and the flag set is bit-reproducible at any partitioning, where a
    * float `stddev_pop` sums in shuffle order. A constant record
    * (σ = 0, or a negative float epsilon under the sqrt) flags nothing.
    *
    * Plan shape: one map-side-combined moment aggregation + a broadcast
    * join back to the samples — two scans, no window, no sort.
    */
  def outliers(df: DataFrame, valueCol: String, recordCol: String, tCol: String,
               k: Double, broadcastStats: Boolean = true): DataFrame = {
    require(k > 0, "outliers: k must be positive")
    val tk = df.withColumn("_tk",
      floor(col(valueCol) * 1e6 + 0.5).cast("long"))
    val st = tk.groupBy(col(recordCol)).agg(
      count(lit(1)).as("_n"),
      sum(col("_tk").cast("decimal(38,0)")).as("_s1"),
      sum((col("_tk").cast("decimal(38,0)") * col("_tk")).cast("decimal(38,0)")).as("_s2"))
    val mu = col("_s1").cast("double") / col("_n")
    val sd = sqrt(col("_s2").cast("double") / col("_n") - mu * mu)
    val stats = st.select(col(recordCol), mu.as("_mu"), sd.as("_sd"))
    // the stats table is RECORD-count-sized: broadcast is right up to
    // millions of records; a billion-record corpus flips the flag and
    // pays one co-shuffled join instead
    tk.join(if (broadcastStats) broadcast(stats) else stats, Seq(recordCol))
      .filter(col("_sd") > 0 && abs(col("_tk") - col("_mu")) > lit(k) * col("_sd"))
      .select(col(recordCol), col(tCol), col(valueCol),
        round((col("_tk") - col("_mu")) / col("_sd"), 6).as("z"))
  }

  /** Per-record cross-correlation at integer lags — the multi-channel
    * alignment primitive (which lag of B best matches A; A == B gives
    * the autocorrelation/periodicity read). Returns one row per
    * `(record, lag)` for lag ∈ [−maxLag, maxLag]:
    * `n_pairs` (valid aligned samples) and `xcorr` = Σ a_t·b_{t+lag}
    * as a STRING of the exact integer sum in 1e-12 units (both inputs
    * quantize to 1e-6 ticks, products accumulate in DECIMAL(38,0) — the
    * sg_outliers exact-moment idiom; a string survives any engine's
    * wide-integer type). Normalization (÷ √(Σa²·Σb²)) is left to the
    * caller — it divides two exact sums.
    *
    * Plan shape: ONE record-hash exchange. All 2·maxLag+1 shifted
    * columns share the same window spec, so Spark evaluates them in a
    * single WindowExec pass; the per-(record, lag) sums ride the same
    * partitioning (subset rule) and the lag unpivot is a row-local
    * stack. `maxLag` is a handful by nature (an alignment search radius,
    * not a data size).
    *
    * CONTRACT (the Opset.asof convention): the shift is by ROW POSITION
    * in `tCol` order, which equals a shift by TIME only when each
    * record's `tCol` is contiguous (the Opset tick contract: t = 1..n
    * with no gaps). On a gapped series, "lag 1" here means "the next
    * SAMPLE", not "t+1" — a t-arithmetic self-join pairs differently.
    * Null samples: a pair counts toward `n_pairs` only when BOTH sides
    * are non-null (the product is the unit of both the sum and the
    * count); callers whose convention counts one-sided nulls filter or
    * impute first.
    */
  def crossCorr(df: DataFrame, colA: String, colB: String,
                recordCol: String, tCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 1000, "crossCorr: maxLag must be in [0, 1000]")
    val w = Window.partitionBy(recordCol).orderBy(tCol)
    val lags = -maxLag to maxLag
    def pcol(l: Int) = s"_p${l + maxLag}"
    val tk = df
      .withColumn("_a", floor(col(colA) * 1e6 + 0.5).cast("long"))
      .withColumn("_b", floor(col(colB) * 1e6 + 0.5).cast("long"))
    val paired = lags.foldLeft(tk) { (d, l) =>
      val shifted = if (l >= 0) lead(col("_b"), l).over(w)
                    else lag(col("_b"), -l).over(w)
      d.withColumn(pcol(l),
        (col("_a").cast("decimal(38,0)") * shifted).cast("decimal(38,0)"))
    }
    val agg = paired.groupBy(col(recordCol)).agg(
      sum(col(pcol(lags.head))).as(s"s${lags.head + maxLag}"),
      (lags.tail.flatMap(l => Seq(sum(col(pcol(l))).as(s"s${l + maxLag}"))) ++
        lags.map(l => count(col(pcol(l))).as(s"n${l + maxLag}"))): _*)
    val stackArgs = lags.map(l =>
      s"${l}L, n${l + maxLag}, CAST(s${l + maxLag} AS STRING)").mkString(", ")
    agg.selectExpr(recordCol,
      s"stack(${lags.size}, $stackArgs) AS (lag, n_pairs, xcorr)")
      .filter(col("n_pairs") > 0)
  }
}
