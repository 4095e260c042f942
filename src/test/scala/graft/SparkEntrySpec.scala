package graft

import org.apache.spark.sql.functions.col

import graft.queries.{ModelSql, QuerySpec}

/** Guards the query/oracle contract: every query has exactly one oracle
  * at any directory, a fitted model's oracle describes the fit of the
  * directory it is asked about whatever ran before, and the inventory
  * only grows.
  */
class SparkEntrySpec extends SparkSpec {

  // Input: the sf0.001 tables committed with the benchmark.
  private val Dir = "perfbench/fixture"

  /** The queries whose oracles freeze a fitted model as SQL literals. */
  private val ModelQueries = Seq(
    "pca_circle", "instants_fit", "instants_predict", "instants_scores", "tube_fit",
    "ann_ivf", "ann_recall", "ann_indexed", "ann_indexed_append", "stream_ivf_assign",
    "ann_pq", "text_classifier", "pipe_funnel", "dedup_semantic", "dedup_text",
    "ann_probe_auto")

  /** `out`, holding the model tables of [[Dir]] with about a fifth of each
    * one's rows dropped: another directory whose fits differ from the
    * fixture's.
    */
  private def otherDir(out: String): String = {
    for ((table, key) <- Seq("events" -> "event_id", "lineitem" -> "l_orderkey",
        "embeddings" -> "vec_id", "documents" -> "doc_id"))
      graft.core.Parquet.read(spark, s"$Dir/$table.parquet").filter(col(key) % 5 =!= 3)
        .coalesce(1).write.parquet(s"$out/$table.parquet")
    out
  }

  private def modelOracles(dir: String): Map[String, String] =
    SparkEntry.oracleSql(spark, dir).filter { case (k, _) => ModelQueries.contains(k) }

  private def runModelQueries(): Unit =
    ModelQueries.foreach(q => SparkEntry.queries(q)(spark, Dir).queryExecution.toRdd.count())

  test("every oracleSql key has a matching queries entry") {
    SparkEntry.clearSessionCaches(spark)
    val dangling = SparkEntry.oracleSql(spark, Dir).keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  // The known rows-only set is empty: a model query's oracle fits the
  // model on demand, so every query has one even on a cleared session.
  test("every query without an oracle is a known rows-only query") {
    SparkEntry.clearSessionCaches(spark)
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql(spark, Dir).keySet
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
    assert(ModelQueries.size === 16 && ModelQueries.forall(SparkEntry.queries.contains))
  }

  // `queries` is a ListMap over the family runs: a name declared twice
  // would silently keep one entry.
  test("every query name is declared once") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.diff(names.distinct).isEmpty, "declared more than once")
    assert(SparkEntry.queries.size === SparkEntry.specs.size)
  }

  test("the model queries are exactly the specs whose oracle reads a fitted model") {
    val fromModel = SparkEntry.specs.collect { case QuerySpec(q, _, _: ModelSql[_]) => q }
    assert(fromModel.sorted === ModelQueries.sorted)
  }

  test("the graded inventory does not shrink") {
    assert(SparkEntry.queries.size >= 166)
    assert(SparkEntry.oracleSql(spark, Dir).size >= 166)
  }

  test("oracle SQL is non-empty and references no Spark-only syntax") {
    SparkEntry.oracleSql(spark, Dir).foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, name)
      assert(!sql.contains("`"), s"$name: backticks are Spark-only quoting")
    }
  }

  /** The model oracles of [[Dir]] with the queries run before `oracleSql`
    * and with `oracleSql` run first, on a cleared session each time, and
    * the Spark jobs `oracleSql` started once the queries had run.
    */
  private lazy val (queriedFirst, oracleFirst, jobsOnceQueried) = {
    SparkEntry.clearSessionCaches(spark)
    runModelQueries()
    val jobs = jobsStarted(SparkEntry.oracleSql(spark, Dir))
    val queried = modelOracles(Dir)
    SparkEntry.clearSessionCaches(spark)
    val first = modelOracles(Dir)
    runModelQueries()
    assert(modelOracles(Dir) === first, "the queries refitted a model the oracles had fitted")
    (queried, first, jobs)
  }

  for (q <- ModelQueries)
    test(s"$q: the same oracle whether the query or oracleSql fits the model") {
      assert(queriedFirst(q) === oracleFirst(q))
    }

  test("oracleSql starts no Spark job once the model queries have run") {
    assert(jobsOnceQueried === 0)
  }

  test("fitting at another directory leaves the fixture's model oracles unchanged") { withTempDir { tmp =>
    val fixture = modelOracles(Dir)
    val other = SparkEntry.oracleSql(spark, otherDir(tmp))
    assert(other.keySet === SparkEntry.queries.keySet)
    assert(modelOracles(Dir) === fixture)
    // the other directory fits other models, so a mix-up would show
    for (q <- Seq("pca_circle", "instants_fit", "tube_fit", "ann_ivf", "text_classifier"))
      assert(other(q) !== fixture(q), q)
    SparkEntry.clearSessionCaches(spark)
  }}

  test("the no-arg oracleSql holds a model's oracle only while one directory has fitted it") { withTempDir { tmp =>
    SparkEntry.clearSessionCaches(spark)
    assert(!SparkEntry.oracleSql.contains("pca_circle"))
    SparkEntry.queries("pca_circle")(spark, Dir)
    val one = SparkEntry.oracleSql
    assert(ModelQueries.filter(one.contains) === Seq("pca_circle"), "it fits nothing")
    assert(one("pca_circle") === SparkEntry.oracleSql(spark, Dir)("pca_circle"))
    SparkEntry.queries("pca_circle")(spark, otherDir(tmp))
    val two = SparkEntry.oracleSql
    assert(!two.contains("pca_circle"))
    assert(ModelQueries.filter(two.contains).size === 15, "the models one directory fitted stay")
    SparkEntry.clearSessionCaches(spark)
  }}

  // A consumer of a shared session artifact must return the same rows
  // whether its producer query built the artifact or the consumer did.
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
