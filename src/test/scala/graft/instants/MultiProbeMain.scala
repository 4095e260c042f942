package graft.instants

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Opset
import graft.instants.Indicators.IndicatorCode

/** Attributes instants_multi wall time: opset chain, epsilon job (which
  * also writes the shared stage-1 cache), and the output chain reading it.
  */
object MultiProbeMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]").appName("multi-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
    }
    spark.range(1000).selectExpr("sum(id)").collect()
    val codes = Seq(
      IndicatorCode("value", 3, 1, 2.0),
      IndicatorCode("v2", 3, 1, -2.0))
    val combos = Seq(("value", 7, 1), ("v2", 7, 1))
    (1 to 2).foreach { pass =>
      spark.catalog.clearCache()
      println(s"--- pass $pass")
      val base = t("opset plan build")(
        Opset.fromEvents(spark, dir).df.withColumn("v2", col("value") * col("value")))
      t("opset chain count")(base.count())
      val s1 = Indicators.withStage1Sg(base, "record", "t", combos, 2, "_bk")
      t("stage1 count (uncached)")(s1.count())
      t("stage1 count again (uncached)")(s1.count())
      val s1c = s1.cache()
      t("stage1 cache materialize")(s1c.count())
      t("eps agg from CACHED stage1")(
        ReferenceTwins.epsilonsFromSg(s1c, "record", "t", combos, 2, "_bk"))
      s1c.unpersist(true)
      t("eps agg from UNCACHED stage1")(
        ReferenceTwins.epsilonsFromSg(s1, "record", "t", combos, 2, "_bk"))
      val (bankDf, _) = t("bank build (epsilon job inside)")(
        Indicators.bank(base, "record", "t", codes, 2))
      t("bank output count")(bankDf.count())
      val out = bankDf.select(col("record"), col("t"),
        round(col(codes(0).name), 6).as(codes(0).name),
        round(col(codes(1).name), 6).as(codes(1).name))
      t("full query count")(out.count())
      if (pass == 2) {
        val plan = s1.queryExecution.executedPlan.toString
        println("[probe] stage1 plan nodes: Sort=" + "(?m)^\\s*[+:]?-? ?\\*?\\(?\\d*\\)? ?Sort ".r.findAllIn(plan).length)
        val counts = Seq("Sort", "Window", "Exchange", "WindowGroupLimit").map { n =>
          n + "=" + ("\\b" + n + "\\b").r.findAllIn(plan).length }
        println("[probe] stage1: " + counts.mkString(" "))
      }
    }
    spark.stop()
  }
}
