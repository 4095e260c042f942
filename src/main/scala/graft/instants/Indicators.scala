package graft.instants

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.SgResidualStddev
import graft.dsp.SignalOps

/** The indicator feature bank behind the reference's instant detection
  * (tabata instants.py:211 `make_indicators`): positional features
  * LEN/REV/PERCENT, the raw signals, and a grid of hump-counting
  * indicators at several (half-width, derivative order, ±sigma) settings,
  * each scaled by a per-(width, order) noise level epsilon.
  *
  * The SG columns come from one collect of each record and the native
  * SG kernel, the crossings are window algebra over `(record, t)` — the
  * whole bank is one shuffle on `record` regardless of grid size — and
  * epsilon is one per-record native aggregation, never a per-record
  * driver loop.
  */
object Indicators {

  /** One indicator configuration of the grid. `halfWidth < 0` encodes the
    * reference's reversed variant `c[-1] − c` (instants.py:342-347);
    * `sigma` is the signed multiplier `e*s` applied to epsilon.
    */
  final case class IndicatorCode(col: String, halfWidth: Int, order: Int, sigma: Double) {
    def name: String = {
      val dir = if (sigma >= 0) "u" else "d"
      val rev = if (halfWidth < 0) "-" else "+"
      // no '.' in the label: Spark column resolution and spark.ml attribute
      // names treat dots as nested-field separators
      val s = math.abs(sigma)
      val sStr = if (s == s.floor) s.toInt.toString else s.toString.replace('.', 'p')
      s"$col[${rev}w${math.abs(halfWidth)}o$order$dir$sStr]"
    }
  }

  /** Positional features (instants.py:306-307): LEN = 0-based index,
    * REV = reversed index, PERCENT = LEN/(n−1).
    */
  def withPositional(df: DataFrame, rec: String, t: String): DataFrame = {
    val wRec = Window.partitionBy(rec)
    val n = count(lit(1)).over(wRec)
    df.withColumn("LEN", (col(t) - 1).cast("double"))
      .withColumn("REV", (n - col(t)).cast("double"))
      .withColumn("PERCENT",
        when(n > 1, col("LEN") / (n - 1).cast("double")).otherwise(lit(0.0)))
  }

  /** The reference's epsilon (instants.py:276-295): for window `w = 2l+1`
    * and derivative order `d`, the max over records of the population
    * stddev of `SG_w(x, d) − SG_{2w+1}(SG_w(x, d), d)` — a per-scale noise
    * floor for the crossing thresholds. One distributed aggregation.
    */
  def epsilon(df: DataFrame, rec: String, t: String, x: String,
              w: Int, d: Int, deg: Int): Double =
    epsilons(df, rec, t, Seq((x, w, d)), deg)((x, w, d))

  /** All epsilons of a grid in ONE distributed job. Epsilon is a
    * per-record SCALAR, so instead of paying three WindowExec passes of
    * per-row machinery (stage-1 SG, stage-2 SG over its output, then the
    * stddev aggregation), each record's t-sorted sample array is collected
    * once per signal column and the whole two-stage residual + stddev runs
    * as one primitive loop per record inside the native
    * [[graft.functions.SgResidualStddev]] expression — bit-identical
    * arithmetic to the window formulation (same tap fold order, same
    * CentralMomentAgg Welford updates in t order; pinned by SelectorSpec),
    * one shuffle (`groupBy(record)`, map-side partial collect). The max
    * over records of `graft_sg_eps(arr, w, deg, d)` per combo is a
    * `treeAggregate` over those per-record scalars: one scalar per combo
    * reaches the driver, and no second aggregate stage (with a job of its
    * own) is planned.
    *
    * Per-combo record eligibility: a record participates in combo i's
    * stddev iff it has at least 2w_i+1 samples — the native expression
    * returns null for shorter records, and the max skips nulls.
    *
    * At 100 TB the per-record arrays are the same memory class WindowExec
    * already buffers per partition; the collect_list aggregation is
    * ObjectHashAggregate, which falls back to sort-based spilling when a
    * partition holds more record groups than memory.
    */
  def epsilons(df: DataFrame, rec: String, t: String,
               combos: Seq[(String, Int, Int)], deg: Int): Map[(String, Int, Int), Double] = {
    require(combos.nonEmpty, "epsilons: empty combo grid")
    val cols = combos.map(_._1).distinct
    val collects = cols.map { x =>
      transform(
        array_sort(collect_list(struct(col(t).as("o"), col(x).cast("double").as("v")))),
        s => s.getField("v")).as(s"_eps_arr_$x")
    }
    val perRec = df.groupBy(col(rec)).agg(collects.head, collects.tail: _*)
      .select(combos.map { case (x, w, o) =>
        column(SgResidualStddev(expression(col(s"_eps_arr_$x")), w, deg, o))
      }: _*)
    val k = combos.size
    val tops = perRec.queryExecution.toRdd.treeAggregate(Array.fill[Option[Double]](k)(None))(
      (acc, r) => {
        for (i <- 0 until k if !r.isNullAt(i)) acc(i) = Some(maxOf(acc(i), r.getDouble(i)))
        acc
      },
      (a, b) => {
        for (i <- 0 until k; v <- b(i)) a(i) = Some(maxOf(a(i), v))
        a
      })
    combos.zip(tops).map { case (cmb, top) =>
      require(top.isDefined,
        s"epsilon: no record has the >= ${2 * cmb._2 + 1} samples required for " +
          s"(col=${cmb._1}, w=${cmb._2}, order=${cmb._3}) — shorten the window or supply longer records")
      cmb -> top.get
    }.toMap
  }

  /** Spark's `max` step over doubles: NaN above every number, and on a tie
    * the value already held stays.
    */
  private def maxOf(acc: Option[Double], v: Double): Double = acc match {
    case Some(m) if SQLOrderingUtil.compareDoubles(v, m) <= 0 => m
    case _ => v
  }

  /** (rn, n) pair + stage-1 SG column `<prefix>_b_i = SG_w(x, d)` per
    * combo, all from one collect of each record
    * ([[SignalOps.withSgColumns]]); a combo's column is null on records
    * shorter than its window, and rows of records shorter than the
    * NARROWEST combo window are dropped. The base of [[bank]]'s output
    * chain.
    */
  private[instants] def withStage1Sg(df: DataFrame, rec: String, t: String,
                           combos: Seq[(String, Int, Int)], deg: Int,
                           prefix: String): DataFrame =
    SignalOps.withSgColumns(df, rec, t, deg,
      combos.zipWithIndex.map { case ((x, w, o), i) => (s"${prefix}_b_$i", x, w, o) },
      positions = Some((s"${prefix}_rn", s"${prefix}_n")))

  /** Add the indicator column for one code; `eps` is its noise floor.
    * Reversed codes subtract from the record's last value (instants.py:343).
    */
  def withIndicator(df: DataFrame, rec: String, t: String,
                    code: IndicatorCode, eps: Double, deg: Int): DataFrame = {
    val l = math.abs(code.halfWidth)
    val w = 2 * l + 1
    val sg = SignalOps.sgDf(df, code.col, rec, t, w, deg, code.order, "_isg")
    // direction comes from the sign of the configured sigma, NOT of
    // sigma*eps: for a perfectly-smooth signal eps == 0 and the product
    // would silently flip an upward indicator to downward crossings
    val ind = SignalOps.indicatorDf(sg, "_isg", rec, t,
        lit(code.sigma * eps), positive = code.sigma > 0, code.name)
      .drop("_isg")
    if (code.halfWidth >= 0) ind
    else {
      val wFull = Window.partitionBy(rec).orderBy(t)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ind.withColumn(code.name, last(col(code.name)).over(wFull) - col(code.name))
    }
  }

  /** The full bank for a grid of codes over one signal column. Returns the
    * augmented DataFrame and the effective (code, epsilon) list.
    *
    * The epsilon aggregation is [[epsilons]] (one groupBy job, no window
    * machinery) and the output chain computes its stage-1 SG columns
    * from its own collect ([[withStage1Sg]]): neither consumer re-reads
    * the other's work, so nothing is cached. Codes differing only in
    * sigma sign or the reversed variant reuse the same smoothed column.
    *
    * Records shorter than the widest code window are dropped (same final
    * row set as folding [[withIndicator]], whose per-code filters compound).
    */
  def bank(df: DataFrame, rec: String, t: String, codes: Seq[IndicatorCode],
           deg: Int): (DataFrame, Seq[(IndicatorCode, Double)]) = {
    def comboOf(cd: IndicatorCode): (String, Int, Int) =
      (cd.col, 2 * math.abs(cd.halfWidth) + 1, cd.order)
    val combos = codes.map(comboOf).distinct
    // the stage-1 frame: (df columns, rn, n, SG_w per combo), rows limited
    // to records >= the narrowest window (the output re-filters to the
    // widest below)
    val shared = withStage1Sg(df, rec, t, combos, deg, "_bk")
    val epsMap = epsilons(df, rec, t, combos, deg)
    val withEps = codes.map(cd => (cd, epsMap(comboOf(cd))))

    val wOrd = Window.partitionBy(rec).orderBy(t)
    val wFull = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val maxW = combos.map(_._2).max
    val n = col("_bk_n")
    val sgName = combos.zipWithIndex.map { case (c, i) => c -> s"_bk_b_$i" }.toMap
    val base = shared
      .filter(n >= maxW)
      .withColumn("LEN", (col(t) - 1).cast("double"))
      .withColumn("REV", (n - col(t)).cast("double"))
      .withColumn("PERCENT",
        when(n > 1, col("LEN") / (n - 1).cast("double")).otherwise(lit(0.0)))
    val out = withEps.foldLeft(base) { case (d, (cd, e)) =>
      // direction comes from the sign of the configured sigma, NOT of
      // sigma*eps: for a perfectly-smooth signal eps == 0 and the product
      // would silently flip an upward indicator to downward crossings
      val ind = SignalOps.indicatorDf(d, sgName(comboOf(cd)), rec, t,
        lit(cd.sigma * e), positive = cd.sigma > 0, cd.name)
      if (cd.halfWidth >= 0) ind
      else ind.withColumn(cd.name, last(col(cd.name)).over(wFull) - col(cd.name))
    }
    (out.drop("_bk_rn" +: "_bk_n" +: combos.map(sgName): _*), withEps)
  }
}
