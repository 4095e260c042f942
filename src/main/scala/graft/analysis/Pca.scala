package graft.analysis

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** PCA correlation circle (tabata plots.py:531 `pcacircle`).
  *
  * The reference standardizes the columns (StandardScaler) and fits a PCA —
  * equivalently an eigen-decomposition of the *correlation matrix* — and
  * draws each variable at `(v₁ᵢ·√λ₁, v₂ᵢ·√λ₂)`, the loadings on a chosen
  * component pair.
  *
  * Spark mapping: the correlation matrix comes from one co-moment pass, a
  * single `treeAggregate` job over the rows cast to double. Each column
  * pair keeps the six-slot buffer of Spark's `corr` (n, x̄, ȳ, Cxy, Mx, My)
  * in plain arrays, so no aggregate class is generated and compiled per
  * query. Only the p(p+1)/2 buffers reach the driver, where a cyclic
  * Jacobi sweep (p ≤ tens) produces the eigen-system. No data rows are
  * ever collected, so the operator scales with the scan, not the row
  * count.
  */
object Pca {

  /** Distributed correlation matrix of `cols` plus the row count — ONE
    * job. Each pair skips the rows where either of its two values is null
    * (what `corr` does per pair); the count is every row, as `count(1)`.
    * Fails fast on a null correlation (fewer than 2 rows, a zero-variance
    * or an all-null column): the eigen-system would otherwise be silently
    * wrong. A zero-variance column fails here whatever the ANSI setting;
    * Spark's `corr` raises DIVIDE_BY_ZERO for it under ANSI and yields null
    * without.
    */
  def corrMatrixAndCount(df: DataFrame, cols: Seq[String]): (Array[Array[Double]], Long) = {
    val p = cols.size
    val rows = df.select(cols.map(col(_).cast("double")): _*).queryExecution.toRdd
    val mom = rows.treeAggregate(new CoMoments(p))(_ add _, _ merge _)
    val m = Array.ofDim[Double](p, p)
    for (((a, b), k) <- mom.pairs.zipWithIndex) {
      val r = mom.corr(k)
      require(r.isDefined,
        s"corr(${cols(a)}, ${cols(b)}) is null (zero-variance or all-null column)")
      m(a)(b) = r.get
      m(b)(a) = r.get
    }
    (m, mom.rows)
  }

  /** The co-moments of every column pair (i ≤ j) of a p-column double row,
    * plus the row count: the buffer, update and merge formulas of Spark's
    * `corr` (`PearsonCorrelation`), one buffer per pair. The result matches
    * `corr` per pair up to the order in which partition buffers merge.
    */
  private final class CoMoments(p: Int) extends Serializable {
    val pairs: Array[(Int, Int)] = (for (i <- 0 until p; j <- i until p) yield (i, j)).toArray
    private val n, xAvg, yAvg, ck, xMk, yMk = new Array[Double](pairs.length)
    var rows = 0L

    def add(r: InternalRow): CoMoments = {
      rows += 1
      var k = 0
      while (k < pairs.length) {
        val i = pairs(k)._1
        val j = pairs(k)._2
        if (!r.isNullAt(i) && !r.isNullAt(j)) {
          val x = r.getDouble(i)
          val y = r.getDouble(j)
          val newN = n(k) + 1.0
          val dx = x - xAvg(k)
          val dy = y - yAvg(k)
          val newXAvg = xAvg(k) + dx / newN
          val newYAvg = yAvg(k) + dy / newN
          ck(k) += dx * (y - newYAvg)
          xMk(k) += dx * (x - newXAvg)
          yMk(k) += dy * (y - newYAvg)
          n(k) = newN
          xAvg(k) = newXAvg
          yAvg(k) = newYAvg
        }
        k += 1
      }
      this
    }

    def merge(o: CoMoments): CoMoments = {
      rows += o.rows
      var k = 0
      while (k < pairs.length) {
        val n1 = n(k)
        val n2 = o.n(k)
        val newN = n1 + n2
        val dx = o.xAvg(k) - xAvg(k)
        val dxN = if (newN == 0.0) 0.0 else dx / newN
        val dy = o.yAvg(k) - yAvg(k)
        val dyN = if (newN == 0.0) 0.0 else dy / newN
        xAvg(k) += dxN * n2
        yAvg(k) += dyN * n2
        ck(k) = ck(k) + o.ck(k) + dx * dyN * n1 * n2
        xMk(k) = xMk(k) + o.xMk(k) + dx * dxN * n1 * n2
        yMk(k) = yMk(k) + o.yMk(k) + dy * dyN * n1 * n2
        n(k) = newN
        k += 1
      }
      this
    }

    /** Pair k's correlation, or None where `corr` is null: fewer than 2
      * rows, or a zero divisor (a zero-variance column).
      */
    def corr(k: Int): Option[Double] = {
      val d = math.sqrt(xMk(k) * yMk(k))
      if (n(k) < 2.0 || d == 0.0) None else Some(ck(k) / d)
    }
  }

  /** Distributed correlation matrix of `cols` (one job). */
  def corrMatrix(df: DataFrame, cols: Seq[String]): Array[Array[Double]] =
    corrMatrixAndCount(df, cols)._1

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix. Returns
    * (eigenvalues, eigenvectors-as-rows) sorted by descending eigenvalue,
    * each vector sign-fixed so its largest-magnitude entry is positive
    * (eigenvector signs are otherwise arbitrary).
    */
  def jacobiEigen(m0: Array[Array[Double]], sweeps: Int = 50): (Array[Double], Array[Array[Double]]) = {
    val p = m0.length
    val a = m0.map(_.clone())
    val v = Array.tabulate(p, p)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    // Tolerance is the SUM of squared off-diagonals: 1e-24 bounds each
    // element near 1e-12, so a Rayleigh quotient v'Cv recomputed from the
    // returned vectors (the pca_circle oracle does exactly that) agrees
    // with the returned eigenvalue far inside round-6 — 1e-12 would only
    // bound elements near 1e-6. Convergence is quadratic; the tighter
    // threshold costs at most one extra sweep of a p×p driver matrix.
    while (sweep < sweeps && off > 1e-24) {
      for (i <- 0 until p - 1; j <- i + 1 until p if math.abs(a(i)(j)) > 1e-15) {
        val theta = (a(j)(j) - a(i)(i)) / (2.0 * a(i)(j))
        val t =
          if (theta == 0.0) 1.0
          else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until p) {
          val aik = a(i)(k); val ajk = a(j)(k)
          a(i)(k) = c * aik - s * ajk
          a(j)(k) = s * aik + c * ajk
        }
        for (k <- 0 until p) {
          val aki = a(k)(i); val akj = a(k)(j)
          a(k)(i) = c * aki - s * akj
          a(k)(j) = s * aki + c * akj
          val vki = v(k)(i); val vkj = v(k)(j)
          v(k)(i) = c * vki - s * vkj
          v(k)(j) = s * vki + c * vkj
        }
      }
      off = offDiag(a)
      sweep += 1
    }
    val order = (0 until p).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col = Array.tabulate(p)(k => v(k)(i))
      val mx = col.maxBy(math.abs)
      if (mx < 0) col.map(-_) else col
    }.toArray
    (vals, vecs)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    s
  }

  /** The correlation-circle table: one row per (variable, component) with
    * the loading `x = vᵢ·√λ'` (λ' carries the reference's sklearn n/(n−1)
    * sample-variance factor) and the component's explained-variance ratio.
    * A local table, its rows already in (component, variable) order.
    */
  def circle(df: DataFrame, cols: Seq[String], spark: SparkSession): DataFrame =
    circleWithEigen(df, cols, spark)._1

  /** [[circle]] plus the eigensystem and row count it used — the export
    * surface for an independent oracle (re-derive each eigenvalue as the
    * Rayleigh quotient v'Cv over an independently computed correlation
    * matrix, then reproduce loadings and explained-variance ratios).
    */
  def circleWithEigen(df: DataFrame, cols: Seq[String], spark: SparkSession)
      : (DataFrame, Array[Array[Double]], Long) = {
    import spark.implicits._
    val (c, nRows) = corrMatrixAndCount(df, cols)
    require(nRows >= 2, s"PCA needs at least 2 rows, got $nRows")
    val n = nRows.toDouble
    val (vals, vecs) = jacobiEigen(c)
    val total = vals.sum
    val rows = for {
      k <- vals.indices
      i <- cols.indices.sortBy(cols(_))
    } yield {
      val lambdaSample = vals(k) * n / (n - 1.0)
      // HALF_UP to match Spark/DuckDB `round` (repo convention; math.rint
      // is HALF_EVEN and would diverge on exact .5 boundaries)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (cols(i), (k + 1).toLong,
        r6(vecs(k)(i) * math.sqrt(math.max(lambdaSample, 0.0))),
        r6(vals(k) / total))
    }
    (rows.toDF("variable", "component", "x", "evr"), vecs, nRows)
  }
}
