package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionArtifacts
import graft.dsp.SignalOps
import graft.instants.{Indicators, Selector, Splits}
import graft.instants.Indicators.IndicatorCode
import Shared._

/** The instants pipeline (rows 18-20, 22): the indicator bank, the
  * fitted selector tree and the instants it predicts.
  */
object InstantQueries {

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
    * times, so instants_fit/predict/scores share one fit. The oracles
    * evaluate the tree as [[Selector.treeSql]]'s CASE.
    */
  private val fittedSelector = new Fitted[(DataFrame, Selector.SelectorModel)]("selector")(
    { (s, dir) =>
      val selected = Splits.argmaxInstants(opset(s, dir), "value")
      (selected, Selector.fit(cachedBank(s, dir), selected, "record", "t", InstFeatCols))
    })

  /** Predicted instants per sf dir (belief + argmax over the cached bank),
    * shared by instants_predict and instants_scores.
    */
  private def computedInstants(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "computed")(
      Selector.predictInstants(
        Selector.belief(fittedSelector(s, dir)._2, cachedBank(s, dir), "record", "t"),
        "record", "t").cache())

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

  /** instants_fit's oracle: the fitted tree's class of every sample. */
  private def instantsFitOracle(tree: String): String =
    s"""WITH $OpsetCte, $bankOracleCtes
       |SELECT record, t, CAST(($tree) AS BIGINT) AS cls
       |FROM bankq ORDER BY record, t""".stripMargin

  /** instants_predict's oracle: the instant the fitted tree predicts. */
  private def instantsPredictOracle(tree: String): String =
    s"""WITH $OpsetCte, $bankOracleCtes, ${treePredictCtes(tree)}
       |SELECT record, i FROM predq ORDER BY record""".stripMargin

  /** instants_scores's oracle: the predicted instant against the argmax. */
  private def instantsScoresOracle(tree: String): String =
    s"""WITH $OpsetCte, $bankOracleCtes, ${treePredictCtes(tree)}, $InstantsCte
       |SELECT s.record, s.i AS t0, p.i AS t1, p.i - s.i AS gap
       |FROM instants s JOIN predq p USING (record)
       |ORDER BY s.record""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // -- instants pipeline (rows 18-20, 22) --
    QuerySpec("instants_epsilon", { (s, dir) =>
      import s.implicits._
      val eps = Indicators.epsilon(opset(s, dir).df, "record", "t", "value", SgW, 1, SgDeg)
      val r = BigDecimal(eps).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((SgW, 1, r)).toDF("w", "d", "eps")
    }, s"""WITH $OpsetCte, $epsilonCtes
         |SELECT $SgW AS w, 1 AS d, round(eps, 6) AS eps FROM ev""".stripMargin),

    QuerySpec("instants_features", { (s, dir) =>
      cachedBank(s, dir).select(Seq(col("record"), col("t"), col("LEN"), col("REV"),
          round(col("PERCENT"), 6).as("PERCENT"), col("value")) ++
          IndCodes.map(c => round(col(c.name), 6).as(c.name)): _*)
        .orderBy("record", "t")
    }, s"""WITH $OpsetCte, $bankOracleCtes
         |SELECT record, t, "LEN", "REV", round("PERCENT", 6) AS "PERCENT", value,
         |       round("${IndCodes(0).name}", 6) AS "${IndCodes(0).name}",
         |       round("${IndCodes(1).name}", 6) AS "${IndCodes(1).name}",
         |       round("${IndCodes(2).name}", 6) AS "${IndCodes(2).name}"
         |FROM bankq ORDER BY record, t""".stripMargin),

    // graded surface of the fit: every leaf decision of the fitted tree,
    // hash-checked against the oracle evaluating Selector.treeSql's CASE
    // export over independently computed features (importances remain
    // available via SelectorModel.importances, spec-tested)
    QuerySpec("instants_fit", { (s, dir) =>
      val (_, sel) = fittedSelector(s, dir)
      Selector.classify(sel, cachedBank(s, dir), "record", "t").orderBy("record", "t")
    }, fittedSelector.oracle(fit => instantsFitOracle(Selector.treeSql(fit._2)))),

    QuerySpec("instants_predict", (s, dir) => computedInstants(s, dir).orderBy("record"),
      fittedSelector.oracle(fit => instantsPredictOracle(Selector.treeSql(fit._2)))),

    QuerySpec("instants_multi", { (s, dir) =>
      // multi-signal indicator bank (Indicators.bank's multi-column path):
      // raw signal + derived v2 = value², one fused epsilons/window pass
      val base = opsetWide(s, dir).df.withColumn("v2", col("value") * col("value"))
      val (bankDf, _) = Indicators.bank(base, "record", "t", MultiCodes, SgDeg)
      bankDf.select(col("record"), col("t"),
          round(col(MultiCodes(0).name), 6).as(MultiCodes(0).name),
          round(col(MultiCodes(1).name), 6).as(MultiCodes(1).name))
        .orderBy("record", "t")
    }, instantsMultiOracle),

    QuerySpec("instants_scores", { (s, dir) =>
      val (selected, _) = fittedSelector(s, dir)
      Selector.allScores(selected, computedInstants(s, dir), "record").orderBy("record")
    }, fittedSelector.oracle(fit => instantsScoresOracle(Selector.treeSql(fit._2)))),
  )
}
