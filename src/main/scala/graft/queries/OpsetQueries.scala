package graft.queries

import org.apache.spark.sql.functions._

import graft.core.ColumnMeta
import graft.instants.Splits
import Shared._

/** The Opset store (SURVEY §2 rows 1-5) and the `"NAME [unit]"` column
  * metadata utilities (rows 8-10).
  */
object OpsetQueries {

  private val RecordIdxCte =
    """idx AS (
      |  SELECT record, CAST(row_number() OVER (ORDER BY record) - 1 AS BIGINT) AS pos
      |  FROM (SELECT DISTINCT record FROM opset)
      |)""".stripMargin

  /** Labels exercising the `"NAME [unit]"` metadata utilities. */
  private val MetaLabels = Seq("ALT [m]", "TEMP [C]", "EGT [C]", "N1 [%]", "N2 [%]", "TIME")

  val specs: Seq[QuerySpec] = Seq(
    // -- Opset core (SURVEY §2 rows 1-5) --
    QuerySpec("opset_records", (s, dir) => opset(s, dir).records,
      s"WITH $OpsetCte SELECT DISTINCT record FROM opset ORDER BY record"),

    QuerySpec("opset_get", (s, dir) =>
      opset(s, dir).get("1").orderBy("t"),
      s"WITH $OpsetCte SELECT record, t, event_type, value FROM opset WHERE record = '1' ORDER BY t"),

    QuerySpec("opset_slice", (s, dir) =>
      opset(s, dir).slice(2, 5).df.orderBy("record", "t"),
      s"""WITH $OpsetCte, $RecordIdxCte
         |SELECT o.record, o.t, o.event_type, o.value
         |FROM opset o JOIN idx USING (record)
         |WHERE idx.pos >= 2 AND idx.pos < 5
         |ORDER BY o.record, o.t""".stripMargin),

    QuerySpec("opset_put", { (s, dir) =>
      val os = opset(s, dir)
      val incoming = os.get("1").withColumn("value", col("value") + 100.0)
      Splits.argmaxInstants(os.put(incoming), "value") // reuse: navigate post-put
        .orderBy("record")
        .select(col("record"), col("i"))
    }, s"""WITH $OpsetCte, put AS (
         |  SELECT record, t, event_type, value FROM opset WHERE record <> '1'
         |  UNION ALL
         |  SELECT record, t, event_type, value + 100.0 AS value FROM opset WHERE record = '1'
         |)
         |SELECT record, CAST(t - 1 AS BIGINT) AS i
         |FROM (SELECT record, t,
         |             row_number() OVER (PARTITION BY record ORDER BY value DESC, t) AS rn
         |      FROM put)
         |WHERE rn = 1 ORDER BY record""".stripMargin),

    QuerySpec("opset_nav", (s, dir) =>
      opset(s, dir).recordIndex.filter(col("pos") === 3L).select("pos", "record"),
      s"WITH $OpsetCte, $RecordIdxCte SELECT pos, record FROM idx WHERE pos = 3"),

    QuerySpec("opset_clean", (s, dir) =>
      opset(s, dir).clean.df.agg(count(lit(1)).cast("long").as("n")),
      "SELECT CAST(0 AS BIGINT) AS n"),

    QuerySpec("opset_sorted", (s, dir) =>
      // custom sortkey (opset.py:74): records in DESCENDING numeric order
      opset(s, dir).withSortKey(c => -c.cast("long")).recordIndex
        .orderBy("pos"),
      s"""WITH $OpsetCte
         |SELECT record,
         |       CAST(row_number() OVER (ORDER BY -CAST(record AS BIGINT), record) - 1 AS BIGINT) AS pos
         |FROM (SELECT DISTINCT record FROM opset)
         |ORDER BY pos""".stripMargin),

    QuerySpec("opset_asof", { (s, dir) =>
      // as-of alignment: every sample joined with the signal's value at
      // the latest 5-periodic "slow channel" sample time <= t
      val os = opset(s, dir)
      val slow = os.df.filter((col("t") - 1) % 5 === 0)
        .select("record", "t", "value")
      os.asof(slow, Seq("value"), "_ref").df
        .select("record", "t", "value", "value_ref")
        .orderBy("record", "t")
    },
      // mirrors Opset.asof's union + running last_value(IGNORE NULLS)
      // exactly (the operator only COPIES doubles, so the engines agree
      // bit-for-bit); right rows sort before left at equal t via _src
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
         |ORDER BY record, t""".stripMargin),

    // -- column metadata (rows 8-10) --
    QuerySpec("meta_nameunit", { (s, _) =>
      val rows = MetaLabels.map { lab =>
        val (n, u) = ColumnMeta.nameunit(lab); (lab, n, u)
      }
      s.createDataFrame(rows).toDF("label", "name", "unit").orderBy("label")
    }, ("SELECT * FROM (VALUES " +
        MetaLabels.map { lab =>
          val (n, u) = ColumnMeta.nameunit(lab)
          s"('${lab}', '${n}', '${u}')"
        }.mkString(", ") +
        ") t(label, name, unit) ORDER BY label")),

    QuerySpec("meta_byunits", { (s, _) =>
      val rows = ColumnMeta.byunits(MetaLabels).zipWithIndex.flatMap {
        case ((unit, cols), gi) => cols.map(c => (gi.toLong, unit, c))
      }
      s.createDataFrame(rows).toDF("unit_order", "unit", "label")
        .orderBy("unit_order", "label")
    }, ("SELECT * FROM (VALUES " +
        ColumnMeta.byunits(MetaLabels).zipWithIndex.flatMap { case ((unit, cols), gi) =>
          cols.map(c => s"(CAST($gi AS BIGINT), '$unit', '$c')")
        }.mkString(", ") +
        ") t(unit_order, unit, label) ORDER BY unit_order, label")),
  )
}
