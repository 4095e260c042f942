package graft.instants

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.SavGol

/** Window formulations of the native SG kernels, kept as the brute-force
  * twins they are pinned bit-identical against:
  *
  *  - [[sgWindowDf]] twins [[graft.dsp.SignalOps.sgDf]] (SgKernelSpec):
  *    row number and length, two full-frame edge arrays, `w−1` lag/lead
  *    frames and a CASE over the edge rows;
  *  - [[epsilonsFromSg]] twins [[Indicators.epsilons]] (SelectorSpec):
  *    stage-2 SG over [[Indicators.withStage1Sg]]'s stage-1 columns, then
  *    per-record stddev_pop and global max.
  */
object ReferenceTwins {

  /** [[graft.dsp.SignalOps.sgDf]] as a chain of windows over `(rec, t)`.
    * Row number and record length are materialized first — Spark refuses
    * window expressions nested inside another window's aggregate — then
    * both edge arrays in one `select`, then the filtered column.
    */
  def sgWindowDf(df: DataFrame, x: String, rec: String, t: String,
                 w: Int, deg: Int, deriv: Int, out: String): DataFrame = {
    val wOrd  = Window.partitionBy(rec).orderBy(t)
    val wFull = Window.partitionBy(rec).orderBy(t)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = df
      .select(col("*"), row_number().over(wOrd).cast("long").as("_sg_rn"),
        count(lit(1)).over(wFull).as("_sg_n"))
      .filter(col("_sg_n") >= w)
    val (fw, lw) = sgEdgeArrays(col(x), rec, t, col("_sg_rn"), col("_sg_n"), w)
    base
      .select(col("*"), fw.as("_sg_fw"), lw.as("_sg_lw"))
      .withColumn(out, sgExpr(col(x), rec, t, col("_sg_rn"), col("_sg_n"), w, deg, deriv,
        col("_sg_fw"), col("_sg_lw")))
      .drop("_sg_rn", "_sg_n", "_sg_fw", "_sg_lw")
  }

  /** The edge-sample arrays of one (signal, window) pair: the record's
    * FIRST w samples and its REVERSED last w samples, each as one
    * full-frame window column. `collect_list` skips nulls, which would
    * silently SHIFT the edge fit, so a null edge sample raises instead.
    */
  private def sgEdgeArrays(x: Column, rec: String, t: String, rn: Column, n: Column,
                           w: Int): (Column, Column) = {
    val wFull = Window.partitionBy(rec).orderBy(t)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val xd = when(x.isNull, raise_error(lit(
        "sgEdgeArrays: null sample in an SG edge window — collect_list " +
          "would silently shift the edge fit; clean the signal first"))
        .cast("double"))
      .otherwise(x.cast("double"))
    (collect_list(when(rn <= lit(w), xd)).over(wFull),
      reverse(collect_list(when(rn > n - lit(w), xd)).over(wFull)))
  }

  /** The SG filtered value as one Column, given materialized row-number
    * (`rn`, 1-based, long) and record-length (`n`) columns and the
    * [[sgEdgeArrays]] columns. Interior: left-fold dot product over
    * lag/lead taps; edge rows: a CASE over left-fold dot products with the
    * edge arrays. The caller must have filtered records shorter than `w`
    * (or guard the expression with `when(n >= w, ...)`).
    */
  private def sgExpr(x: Column, rec: String, t: String, rn: Column, n: Column,
                     w: Int, deg: Int, deriv: Int, firstW: Column, lastW: Column): Column = {
    val wOrd = Window.partitionBy(rec).orderBy(t)
    val half = w / 2
    val cw   = SavGol.centralWeights(w, deg, deriv)
    val ew   = SavGol.edgeWeights(w, deg, deriv)
    val interior = (0 until w).map { j =>
      val off = j - half
      val term = if (off < 0) lag(x, -off).over(wOrd)
                 else if (off > 0) lead(x, off).over(wOrd)
                 else x
      term * lit(cw(j))
    }.reduce(_ + _)
    def dotLit(arr: Column, cs: Array[Double]): Column =
      (0 until w).map(j => element_at(arr, j + 1) * lit(cs(j))).reduce(_ + _)
    // right edge (mirror): f^(d)(n-1-i) = (-1)^d * edge(i) . reverse(last w)
    val sgn = if (deriv % 2 == 0) 1.0 else -1.0
    (0 until half).foldLeft(
      (0 until half).foldLeft(interior) { (acc, i) =>
        when(rn === lit(i + 1).cast("long"), dotLit(firstW, ew(i))).otherwise(acc)
      }
    ) { (acc, i) =>
      when(rn === n - lit(i), dotLit(lastW, ew(i).map(sgn * _))).otherwise(acc)
    }
  }

  /** Per-combo generated-code cost proxy for the stage-2 residual
    * expression: the edge-fit CASE expands to 2·half₂ rows × w₂ taps of
    * `element_at × weight` terms with w₂ = 2w+1 — the O(w²) part that
    * dominates the fused (project + partial-aggregate) codegen stage.
    */
  private def residualCodeCost(w: Int): Int = 2 * w * (2 * w + 1)

  /** Per-chunk cost budget: combos are greedily packed until the summed
    * [[residualCodeCost]] crosses this, keeping each chunk's fused
    * whole-stage method comfortably under janino's 64 KB bytecode limit
    * (the un-chunked 4-combo grid at Σcost ≈ 1700 used to fail compile
    * and silently run interpreted).
    */
  private val EpsilonChunkBudget = 600

  /** A single combo beyond this cost (w ≥ 15) cannot compile even
    * alone: its chunk runs with whole-stage fusion OFF — the identical
    * execution Spark falls back to after a failed compile, minus the
    * wasted compile attempts and the ERROR spam. Per-expression codegen
    * still applies.
    */
  private val EpsilonFusionOffCost = 900

  /** The epsilon aggregation over a frame already carrying the (rn, n)
    * pair and stage-1 SG columns from [[Indicators.withStage1Sg]]:
    * residual r_i = b_i − SG_{2w+1}(b_i, d) where the record has >= 2w+1
    * samples, then per-record stddev_pop and global max in a two-level
    * job.
    *
    * Combos are processed in code-cost-bounded CHUNKS: one job per chunk,
    * residual columns built only for the chunk's combos, so the fused
    * projection+aggregation codegen stage of each job stays under the
    * JVM's 64 KB method limit (see [[EpsilonChunkBudget]]). Per-combo
    * results are independent — same expressions, same two-level
    * aggregation shape — so chunking is bit-identical to the one-job
    * formulation. Column pruning drops the other chunks' stage-1 windows
    * from each job.
    */
  def epsilonsFromSg(withB: DataFrame, rec: String, t: String,
                     combos: Seq[(String, Int, Int)], deg: Int,
                     prefix: String): Map[(String, Int, Int), Double] = {
    val rn = col(s"${prefix}_rn")
    val n  = col(s"${prefix}_n")
    val chunks = combos.zipWithIndex.foldLeft(Vector(Vector.empty[((String, Int, Int), Int)])) {
      case (acc, cmb @ ((_, w, _), _)) =>
        val cur = acc.last
        val curCost = cur.map { case ((_, cw, _), _) => residualCodeCost(cw) }.sum
        if (cur.nonEmpty && curCost + residualCodeCost(w) > EpsilonChunkBudget)
          acc :+ Vector(cmb)
        else acc.init :+ (cur :+ cmb)
    }
    chunks.flatMap { chunk =>
      val withR = chunk.foldLeft(withB) { case (d0, ((_, w, o), i)) =>
        val w2 = 2 * w + 1
        val b = col(s"${prefix}_b_$i")
        val (fw, lw) = sgEdgeArrays(b, rec, t, rn, n, w2)
        d0.withColumn(s"${prefix}_fw2_$i", fw).withColumn(s"${prefix}_lw2_$i", lw)
          .withColumn(s"${prefix}_r_$i",
            when(n >= w2,
              b - sgExpr(b, rec, t, rn, n, w2, deg, o,
                col(s"${prefix}_fw2_$i"), col(s"${prefix}_lw2_$i"))))
          .drop(s"${prefix}_fw2_$i", s"${prefix}_lw2_$i")
      }
      val sds  = chunk.map { case (_, i) => stddev_pop(col(s"${prefix}_r_$i")).as(s"${prefix}_s_$i") }
      val tops = chunk.map { case (_, i) => max(col(s"${prefix}_s_$i")).as(s"${prefix}_e_$i") }
      val agged = withR
        .groupBy(col(rec)).agg(sds.head, sds.tail: _*)
        .agg(tops.head, tops.tail: _*)
      val chunkCost = chunk.map { case ((_, w, _), _) => residualCodeCost(w) }.sum
      val row =
        if (chunkCost <= EpsilonFusionOffCost) agged.head()
        else {
          // single over-wide combo: fusion off for this one action (see
          // [[EpsilonFusionOffCost]]); restore the caller's conf after
          val conf = withB.sparkSession.conf
          val key = "spark.sql.codegen.wholeStage"
          val prev = conf.getOption(key)
          conf.set(key, "false")
          try agged.head()
          finally prev match {
            case Some(v) => conf.set(key, v)
            case None => conf.unset(key)
          }
        }
      chunk.zipWithIndex.map { case ((cmb, _), j) =>
        require(!row.isNullAt(j),
          s"epsilon: no record has the >= ${2 * cmb._2 + 1} samples required for " +
            s"(col=${cmb._1}, w=${cmb._2}, order=${cmb._3}) — shorten the window or supply longer records")
        cmb -> row.getDouble(j)
      }
    }.toMap
  }
}
