package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsp.SignalOps
import graft.instants.Splits
import graft.tubes.Tube
import Shared._

/** Tubes (rows 23-26): per-record regression bands and their fitted
  * ensemble.
  */
object TubeQueries {

  /** The tube_fit factor pool and sampling; the kept ensemble models are
    * re-scored by the oracle, which recomputes each held-out r2.
    */
  private val TubeFitPool = Seq("TIME", "TIME2", "SGV", "MEDIAN", "CAUSAL")
  private val TubeFitPct = 0.01 // 1 bucket of 100 trains, the next validates
  private val TubeFitSeed = 42L
  private val tubeFit = new Fitted[Seq[Tube.TubeModel]]("tubeFit")(
    (s, dir) => Tube.fit(Tube.withDerivedFactors(tubeBase(s, dir), "record", "t", "value"),
      "record", "t", "value", TubeFitPool, samplesPct = TubeFitPct, seed = TubeFitSeed))

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

  /** The tube_fit oracle: re-score every fitted ensemble model. DuckDB
    * rebuilds the factor table (including window MEDIAN/CAUSAL), selects
    * the SAME md5-bucket validation rows the Spark fit held out, evaluates
    * the models' (intercept, coefs) literally, and recomputes the
    * held-out r2 — arithmetic written in the Spark expressions' operation
    * order, rounded to 4 decimals on both sides.
    */
  private def tubeFitOracle(models: Seq[Tube.TubeModel]): String = {
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
         |ORDER BY model_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // -- tubes (rows 23-26) --
    QuerySpec("tube_highlight", { (s, dir) =>
      val os = opset(s, dir)
      val lr = Splits.argmaxInstants(os, "value")
        .select(col("record"), col("i"), (col("i") + 10L).as("j"))
      Tube.highlight(os, Splits.between(os, lr)).df
        .select("record", "t", "value", "INTERVAL").orderBy("record", "t")
    }, s"""WITH $OpsetCte, $InstantsCte, ext AS (
         |  SELECT o.record, o.t FROM opset o JOIN instants USING (record)
         |  WHERE o.t > instants.i AND o.t <= instants.i + 10
         |)
         |SELECT o.record, o.t, o.value, (ext.t IS NOT NULL) AS "INTERVAL"
         |FROM opset o LEFT JOIN ext ON o.record = ext.record AND o.t = ext.t
         |ORDER BY o.record, o.t""".stripMargin),

    QuerySpec("tube_fit1", { (s, dir) =>
      val df = opset(s, dir).df.withColumn("TIME", (col("t") - 1).cast("double"))
      Tube.ols1PerRecord(df, "record", "TIME", "value")
        .select(col("record"), round(col("b0"), 6).as("b0"),
          round(col("b1"), 6).as("b1"), round(col("r2"), 6).as("r2"))
        .orderBy("record")
    }, s"""WITH $OpsetCte, s AS (
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
         |FROM d ORDER BY record""".stripMargin),

    QuerySpec("tube_fit", { (s, dir) =>
      // Ensemble fit over the full factor pool. The oracle RE-SCORES each
      // kept model: DuckDB reproduces the md5-bucket validation sample,
      // evaluates the models' coefficients as literals, and must land on
      // the same held-out r2 — an independent check of the sampling, the
      // factor algebra, and the scoring.
      import s.implicits._
      tubeFit(s, dir).zipWithIndex
        .map { case (m, i) => (i.toLong, m.factors.mkString(","),
          BigDecimal(m.r2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toDF("model_id", "factors", "r2").orderBy("model_id")
    }, tubeFit.oracle(tubeFitOracle)),

    QuerySpec("tube_estimate", { (s, dir) =>
      Tube.estimate(tubeBase(s, dir), "record", "t", "value", TubeFactors, TubeQ)
        .select(col("record"), col("t"), col("y"), round(col("z"), 6).as("z"),
          round(col("zmin"), 6).as("zmin"), round(col("zmax"), 6).as("zmax"))
        .orderBy("record", "t")
    }, s"""WITH $OpsetCte, $tubeEstimateCtes
         |SELECT record, t, y, round(z, 6) AS z, round(zmin, 6) AS zmin, round(zmax, 6) AS zmax
         |FROM est ORDER BY record, t""".stripMargin),

    QuerySpec("tube_scores", { (s, dir) =>
      val est = Tube.estimate(tubeBase(s, dir), "record", "t", "value", TubeFactors, TubeQ)
      Tube.scores(est, "record").orderBy("record")
    }, s"""WITH $OpsetCte, $tubeEstimateCtes
         |SELECT record, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN y > zmax OR y < zmin THEN 1 ELSE 0 END) AS BIGINT) AS n_out
         |FROM est GROUP BY record ORDER BY record""".stripMargin),

    QuerySpec("tube_scores_multi", { (s, dir) =>
      // the reference's records×targets score matrix (tubes.py:392): two
      // fitted targets, one shared shuffle/window pass
      Tube.scoresMatrix(tubeBase(s, dir), "record",
        Seq("value" -> TubeFactors, "SGV" -> Seq("TIME", "TIME2")), TubeQ)
        .orderBy("record")
    }, tubeScoresMultiSql),
  )
}
