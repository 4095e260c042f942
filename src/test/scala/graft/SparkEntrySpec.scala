package graft

/** Guards the driver contract: every oracle key must have a query (a
  * dangling oracle silently weakens the correctness gate), rows-only
  * queries are a known closed set, and the inventory only grows.
  */
class SparkEntrySpec extends SparkSpec {

  // oracled dynamically once the corresponding query has run in the session
  // (the oracle SQL embeds the fitted tree / trained centroids / kept tube
  // models / eigenvectors as literals) — so depending on what already ran
  // in this JVM, each of these may or may not carry an oracle here
  private val RowsOnlyUntilRun = Set(
    "instants_fit", "instants_predict", "instants_scores", "ann_ivf",
    "ann_indexed", "ann_indexed_append", "ann_pq", "tube_fit", "pca_circle",
    "dedup_semantic", "stream_ivf_assign", "text_classifier", "ann_recall",
    "dedup_text", "ann_probe_auto", "pipe_funnel")

  test("every oracleSql key has a matching queries entry") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("every query without an oracle is a known rows-only query") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val unexpected = rowsOnly -- RowsOnlyUntilRun
    assert(unexpected.isEmpty, s"unexpected rows-only queries: $unexpected")
  }

  test("the graded inventory does not shrink") {
    assert(SparkEntry.queries.size >= 52)
    assert(SparkEntry.oracleSql.size >= 43)
  }

  test("oracle SQL is non-empty and references no Spark-only syntax") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, name)
      assert(!sql.contains("`"), s"$name: backticks are Spark-only quoting")
    }
  }

  // A consumer of a shared session artifact must return the same rows
  // whether its producer query built the artifact or the consumer did.
  // Input: the sf0.001 tables committed with the benchmark.
  private val Dir = "perfbench/fixture"
  for ((producer, consumer) <- Seq(
      "graph_triangles" -> "graph_clustering",
      "dedup_minhash_pairs" -> "dedup_clusters",
      "dsir_weights" -> "dsir_sample")) {
    test(s"$consumer returns the same rows with or without $producer run first") {
      def rows(q: String) =
        SparkEntry.queries(q)(spark, Dir).collect().map(_.toString).sorted.toSeq
      SparkEntry.clearSessionCaches(spark)
      rows(producer)
      val producerFirst = rows(consumer)
      SparkEntry.clearSessionCaches(spark)
      val consumerFirst = rows(consumer)
      SparkEntry.clearSessionCaches(spark)
      assert(producerFirst.nonEmpty)
      assert(consumerFirst == producerFirst)
    }
  }

  // The driver's smoke check runs `entry` in a plain session. events.parquet
  // is the only table that needs `nanosAsLong`, so `entry` and the queries
  // over documents and embeddings must run without it.
  test("entry and the document/embedding queries run with nanosAsLong unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      assert(SparkEntry.entry(spark).count() > 0)
      for (q <- Seq("ann_topk", "text_fingerprint", "dedup_minhash_sig", "dedup_jaccard",
          "text_collocations", "text_perplexity", "text_repetition"))
        assert(SparkEntry.queries(q)(spark, Dir).count() > 0, q)
    } finally prev.foreach(spark.conf.set(key, _))
  }
}
