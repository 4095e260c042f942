package graft

import org.apache.spark.sql.SparkSession

/** Simulates the driver's smoke check: a PLAIN session (no
  * GraftExtensions, no nanosAsLong) calling SparkEntry.entry.
  */
object EntryProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY rows=$n")
    // graft's operators build their native expressions directly, so
    // these queries run on the native path with no GraftExtensions
    for (q <- Seq("ann_topk", "text_fingerprint", "dedup_minhash_sig", "dedup_jaccard",
        "text_collocations", "text_perplexity", "text_repetition")) {
      val c = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
      println(s"PLAIN $q rows=$c")
    }
    spark.stop()
  }
}
