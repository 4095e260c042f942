package graft

/** Plan-audit helper: prints `explain("formatted")` for the named queries
  * (or a headline set) so scan pruning (`ReadSchema`), filter pushdown
  * (`PushedFilters`), broadcast joins and WholeStageCodegen spans can be
  * inspected. Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  private val Headline = Seq(
    "opset_get", "split_left", "dedup_exact", "dedup_minhash_pairs",
    "ann_topk", "sg_smooth", "tube_estimate", "plot_group", "text_quality")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Headline
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
