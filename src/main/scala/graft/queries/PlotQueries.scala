package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ColumnMeta, Parquet}
import graft.plots.PlotData
import Shared._

/** Plot data preparation (rows 6, 11-15). */
object PlotQueries {

  /** lineitem numeric signal columns with reference-style unit labels. */
  private val LineitemLabels = Seq(
    "l_quantity" -> "QTY [u]",
    "l_extendedprice" -> "PRICE [$]",
    "l_discount" -> "DISC [%]",
    "l_tax" -> "TAX [%]",
  )

  private def lineitemLabeled(s: SparkSession, dir: String): DataFrame = {
    val li = Parquet.read(s, s"$dir/lineitem.parquet")
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

  val specs: Seq[QuerySpec] = Seq(
    // -- plot data preparation (rows 6, 11-15) --
    QuerySpec("plot_signal", { (s, dir) =>
      PlotData.signalTrace(opset(s, dir).get("1"), Seq("record", "t"), "value",
          col("event_type") === "error")
        .orderBy("t")
    }, s"""WITH $OpsetCte
         |SELECT record, t, CAST(value AS DOUBLE) AS y,
         |       (event_type = 'error') AS phase
         |FROM opset WHERE record = '1' ORDER BY t""".stripMargin),

    // fanOut deliberately NOT applied to the 1-2-column melts (plot_sel/
    // byunit/ts): measured regressions — the melt is cheap per row and
    // the round-robin exchange costs more than the serial scan saves
    QuerySpec("plot_sel", { (s, dir) =>
      PlotData.selplot(lineitemLabeled(s, dir), Seq("l_orderkey", "l_linenumber"),
          LineitemLabels.map(_._2), Some("PRICE"))
        .orderBy("l_orderkey", "l_linenumber")
    }, s"""WITH $LineitemLabeledCte
         |SELECT l_orderkey, l_linenumber, 'PRICE [$$]' AS variable, 'PRICE ' AS name,
         |       '$$' AS unit, CAST("PRICE [$$]" AS DOUBLE) AS y
         |FROM li ORDER BY l_orderkey, l_linenumber""".stripMargin),

    QuerySpec("plot_byunit", { (s, dir) =>
      PlotData.byunitplot(lineitemLabeled(s, dir), Seq("l_orderkey", "l_linenumber"),
          LineitemLabels.map(_._2), "%")
        .orderBy("l_orderkey", "l_linenumber", "variable")
    }, s"""WITH $LineitemLabeledCte
         |SELECT l_orderkey, l_linenumber, variable, name, unit, y FROM (
         |  SELECT l_orderkey, l_linenumber, 'DISC [%]' AS variable, 'DISC ' AS name,
         |         '%' AS unit, CAST("DISC [%]" AS DOUBLE) AS y FROM li
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, 'TAX [%]', 'TAX ', '%', CAST("TAX [%]" AS DOUBLE) FROM li
         |) ORDER BY l_orderkey, l_linenumber, variable""".stripMargin),

    QuerySpec("plot_group", { (s, dir) =>
      PlotData.groupplotStandardized(lineitemLabeled(s, dir),
          Seq("l_orderkey", "l_linenumber"), LineitemLabels.map(_._2))
        .orderBy("l_orderkey", "l_linenumber", "variable")
    }, plotGroupOracle),

    QuerySpec("plot_double", { (s, dir) =>
      PlotData.doubleplot(graft.core.Fanout.fanOut(lineitemLabeled(s, dir)),
          Seq("l_orderkey", "l_linenumber"),
          LineitemLabels.map(_._2), Seq("QTY"))
        .orderBy("pane", "l_orderkey", "l_linenumber", "variable")
    }, plotDoubleOracle),

    QuerySpec("plot_ts", { (s, dir) =>
      PlotData.melt(opset(s, dir).df, Seq("record", "t"), Seq("value"))
        .orderBy("record", "t")
    }, s"""WITH $OpsetCte
         |SELECT record, t, 'value' AS variable, 'value' AS name, '-' AS unit,
         |       CAST(value AS DOUBLE) AS y
         |FROM opset ORDER BY record, t""".stripMargin),
  )
}
