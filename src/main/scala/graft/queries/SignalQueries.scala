package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Pca
import graft.core.Parquet
import graft.dsp.SignalOps
import graft.instants.Splits
import Shared._

/** Signal processing over the opset: Savitzky-Golay smoothing and
  * indicators, outliers, cross-correlation, resampling (row 17), record
  * splits (row 21) and the PCA correlation circle (row 16).
  */
object SignalQueries {

  private val IndSigma = 2.0

  /** lineitem numeric columns for the PCA queries. */
  private val PcaCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** pca_circle's table with its eigenvectors (rows) and row count. The
    * oracle reads only the eigenVECTORS: it re-derives the eigenvalues
    * from its own correlation matrix.
    */
  private val pcaCircle = new Fitted[(DataFrame, Array[Array[Double]], Long)]("pcaCircle")(
    (s, dir) => Pca.circleWithEigen(Parquet.read(s, s"$dir/lineitem.parquet"), PcaCols, s))

  /** The pca_circle oracle: DuckDB computes its OWN correlation matrix of
    * [[PcaCols]], recovers eigenvalue k as the Rayleigh quotient
    * `v_k' C v_k` of the fitted (unit) eigenvector, and re-derives the
    * loadings `v_ik * sqrt(max(lambda_k * n/(n-1), 0))` and EVR
    * `lambda_k / sum(lambda)`. The Jacobi sweep converges off-diagonals
    * to ~1e-12 (Pca.jacobiEigen), so the recovered eigenvalues agree with
    * the Spark side's far inside the shared round-6.
    */
  private def pcaCircleOracle(vecs: Array[Array[Double]]): String = {
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
         |ORDER BY component, variable""".stripMargin
  }

  private def sgOracle(deriv: Int): String = {
    val (ctes, rel) = SignalOps.sgOracleCtes(
      "opset", "value", "record", "t", SgW, SgDeg, deriv, "x")
    s"""WITH $OpsetCte, $ctes
       |SELECT record, t, round(x, 6) AS x FROM $rel ORDER BY record, t""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // -- signal processing (row 17) --
    QuerySpec("sg_smooth", { (s, dir) =>
      SignalOps.sgDf(opset(s, dir).df, "value", "record", "t", SgW, SgDeg, 0, "x")
        .select(col("record"), col("t"), round(col("x"), 6).as("x"))
        .orderBy("record", "t")
    }, sgOracle(0)),

    QuerySpec("sg_deriv", { (s, dir) =>
      SignalOps.sgDf(opset(s, dir).df, "value", "record", "t", SgW, SgDeg, 1, "x")
        .select(col("record"), col("t"), round(col("x"), 6).as("x"))
        .orderBy("record", "t")
    }, sgOracle(1)),

    QuerySpec("sg_indicator", { (s, dir) =>
      val df = SignalOps.sgDf(opset(s, dir).df, "value", "record", "t", SgW, SgDeg, 1, "_sg")
      SignalOps.indicatorDf(df, "_sg", "record", "t", IndSigma, "z")
        .select(col("record"), col("t"), round(col("z"), 6).as("z"))
        .orderBy("record", "t")
    }, {
      val (ctes, rel) = SignalOps.indicatorOracleCtes(
        "opset", "value", "record", "t", SgW, SgDeg, 1, IndSigma)
      s"""WITH $OpsetCte, $ctes
         |SELECT record, t, round(z, 6) AS z FROM $rel ORDER BY record, t""".stripMargin
    }),

    // -- record splits (row 21) --
    // -- Signal outlier flags (row 17 sibling: exact-moment z-scores) --
    QuerySpec("sg_outliers", { (s, dir) =>
      SignalOps.outliers(opset(s, dir).df, "value", "record", "t", 3.0)
        .orderBy("record", "t")
    }, outliersSql),

    // -- Per-record cross-correlation at integer lags (row 17 sibling) --
    // Autocorrelation fixture (A == B): lag structure of each record's
    // signal, exact 1e-12-unit integer sums carried as strings.
    QuerySpec("sg_xcorr", { (s, dir) =>
      SignalOps.crossCorr(opset(s, dir).df, "value", "value", "record", "t", 3)
        .orderBy("record", "lag")
    },
      // autocorrelation re-derived as a self-join on (record, t + lag);
      // HUGEINT sum surfaces as VARCHAR to match the Spark DECIMAL string
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
         |ORDER BY q.record, lg.lag""".stripMargin),

    // -- Signal resampling (row 17 sibling: the downsampling pass) --
    QuerySpec("sg_resample", { (s, dir) =>
      SignalOps.resample(opset(s, dir).df, "value", "record", "t", 20)
        .orderBy("record", "t0")
    }, s"""WITH $OpsetCte
         |SELECT record, ((t - 1) // 20) * 20 + 1 AS t0,
         |       CAST(count(*) AS BIGINT) AS n,
         |       round(avg(value), 6) AS mean_v,
         |       min(value) AS min_v, max(value) AS max_v
         |FROM opset GROUP BY record, t0 ORDER BY record, t0""".stripMargin),

    QuerySpec("split_left", { (s, dir) =>
      val os = opset(s, dir)
      Splits.left(os, Splits.argmaxInstants(os, "value")).df
        .select("record", "t", "event_type", "value").orderBy("record", "t")
    }, s"""WITH $OpsetCte, $InstantsCte
         |SELECT o.record, o.t, o.event_type, o.value
         |FROM opset o JOIN instants USING (record)
         |WHERE o.t <= instants.i ORDER BY o.record, o.t""".stripMargin),

    QuerySpec("split_right", { (s, dir) =>
      val os = opset(s, dir)
      Splits.right(os, Splits.argmaxInstants(os, "value")).df
        .select("record", "t", "event_type", "value").orderBy("record", "t")
    }, s"""WITH $OpsetCte, $InstantsCte
         |SELECT o.record, o.t, o.event_type, o.value
         |FROM opset o JOIN instants USING (record)
         |WHERE o.t > instants.i ORDER BY o.record, o.t""".stripMargin),

    QuerySpec("split_between", { (s, dir) =>
      val os = opset(s, dir)
      val lr = Splits.argmaxInstants(os, "value")
        .select(col("record"), col("i"), least(col("i") + 10L, lit(Long.MaxValue)).as("j"))
      Splits.between(os, lr).df
        .select("record", "t", "event_type", "value").orderBy("record", "t")
    }, s"""WITH $OpsetCte, $InstantsCte
         |SELECT o.record, o.t, o.event_type, o.value
         |FROM opset o JOIN instants USING (record)
         |WHERE o.t > instants.i AND o.t <= instants.i + 10 ORDER BY o.record, o.t""".stripMargin),

    // -- PCA correlation circle (row 16) --
    QuerySpec("pca_corr", { (s, dir) =>
      val li = Parquet.read(s, s"$dir/lineitem.parquet")
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
    }, {
      val arms = (for (a <- PcaCols; b <- PcaCols if a <= b)
        yield s"SELECT '$a' AS var_a, '$b' AS var_b, round(corr($a, $b), 6) AS corr FROM lineitem")
        .mkString("\n  UNION ALL\n  ")
      s"""SELECT * FROM (
         |  $arms
         |) ORDER BY var_a, var_b""".stripMargin
    }),

    // the oracle reads only the eigenVECTORS: it recovers each eigenvalue
    // as the Rayleigh quotient v'Cv over DuckDB's OWN correlation matrix,
    // then re-derives loadings and EVR — the eigensystem property is
    // checked, not echoed. The local table arrives in (component,
    // variable) order, so it needs no sort.
    QuerySpec("pca_circle", (s, dir) => pcaCircle(s, dir)._1,
      pcaCircle.oracle(fit => pcaCircleOracle(fit._2))),
  )
}
