package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.core.Opset
import graft.dsp.SignalOps
import graft.instants.Splits
import graft.llm.Dedup
import graft.tubes.Tube

/** Physical-plan regression guards for the scale claims in BASELINE.md's
  * plan audit: these are the properties that decide whether a query that
  * works at sf0.1 still works at 1000 executors and 100 TB.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def collectAll[A](p: SparkPlan)(f: PartialFunction[SparkPlan, A]): Seq[A] = {
    // plain children stop at AQE / query-stage / reused-exchange
    // boundaries — unwrap them so the walk sees the whole physical plan
    val kids: Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      // a cached frame hides its build plan behind the relation leaf —
      // descend so audits (pushed filters, join shapes) see the plan
      // that actually materializes the cache
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(c.relation.cachedPlan)
      case other => other.children
    }
    val self = if (f.isDefinedAt(p)) Seq(f(p)) else Seq.empty
    self ++ kids.flatMap(c => collectAll(c)(f))
  }

  /** An unpartitioned window is tolerable ONLY over per-partition
    * metadata: its subtree must aggregate on a spark_partition_id()-derived
    * key, bounding the window's input to one row per shuffle partition
    * (recordIndex's cumulative-offset pass). Anything else funnels DATA
    * through one partition and fails.
    */
  private def isPartitionMetaWindow(w: WindowExec): Boolean = {
    val hasPidAgg = collectAll[Unit](w) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.groupingExpressions.nonEmpty => ()
    }.nonEmpty
    val hasPidSource = collectAll[Unit](w) {
      case p: org.apache.spark.sql.execution.ProjectExec
        if p.projectList.exists(_.collectFirst {
          case _: org.apache.spark.sql.catalyst.expressions.SparkPartitionID => ()
        }.nonEmpty) => ()
    }.nonEmpty
    hasPidAgg && hasPidSource
  }

  test("no operator plans a single-partition (unpartitioned) window over data") {
    val os = Opset.fromEvents(spark, dir)
    for (df <- Seq(os.recordIndex, os.slice(1, 3).df,
        Dedup.exact(spark.read.parquet(s"$dir/documents.parquet"), "doc_id", Seq("text")))) {
      val bad = collectAll(plan(df)) {
        case w: WindowExec if w.partitionSpec.isEmpty && !isPartitionMetaWindow(w) => w
      }
      assert(bad.isEmpty, s"unpartitioned WindowExec over data in:\n${plan(df)}")
    }
  }

  test("Dedup.exact is aggregation-shaped: no window, map-side partial agg") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Dedup.exact(docs, "doc_id", Seq("text")))
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "exact dedup must not sort groups through a window")
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size >= 2, "expected partial + final HashAggregate")
  }

  test("record filters sit below the record shuffle (filter-before-exchange)") {
    val os = Opset.fromEvents(spark, dir)
    val p = plan(os.get("1"))
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.nonEmpty)
    // the t-index window's subtree must already contain the record filter
    val filtersBelow = windows.flatMap(w => collectAll(w) {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("user_id") || f.condition.toString.contains("record") => f
    })
    assert(filtersBelow.nonEmpty,
      s"record filter not pushed below the window:\n$p")
  }

  test("split joins broadcast the metadata-sized instant table") {
    val os = Opset.fromEvents(spark, dir)
    val lr = Splits.argmaxInstants(os, "value")
    val p = plan(Splits.left(os, lr).df)
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected BroadcastHashJoin:\n$p")
  }

  test("mega-bucket cap: unhit adds NOTHING to the plan; firing anti-joins as a broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.select(col("doc_id"), Dedup.distinctNgramHashes(col("text"), 5).as("sh"))
    val sigs = Dedup.minhashSignature(base, "sh", 16).drop("sh")
    def antiJoins(df: DataFrame) = collectAll(plan(df)) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => b
    }
    // default cap unhit on this corpus: the guard must leave the pair
    // plan untouched (zero overhead in the common case)
    assert(antiJoins(Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4)).isEmpty)
    // a cap low enough to fire: the over-cap set must ship as a
    // broadcast anti-join — the guard never adds a shuffle
    val fired = Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4, maxBucket = 2)
    assert(antiJoins(fired).nonEmpty,
      s"expected the over-cap bucket set to anti-join as a broadcast:\n${plan(fired)}")
  }

  test("shuffleDeterministic plans ONE shard shuffle and no unpartitioned window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.Pipeline.shuffleDeterministic(docs, "doc_id", 7L, 8))
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size === 1, s"expected exactly one shuffle:\n$p")
    assert(collectAll(p) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.isEmpty, s"the position window must partition on shard:\n$p")
  }

  test("decontaminate probes the bench grams via broadcast; corpus side never shuffles before the join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.Pipeline.decontaminate(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected the bench gram set to broadcast:\n$p")
    // the 100 TB property: the training corpus reaches the gram probe as
    // one un-shuffled scan — only the metadata-sized bench side (distinct)
    // and the post-join per-doc count may exchange
    val streamed = bcasts.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bcasts.head.left
      case _ => bcasts.head.right
    }
    assert(collectAll(streamed) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"training side must not shuffle below the gram probe:\n$p")
  }

  test("commonness probes the vocab via broadcast; corpus side never shuffles before the join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.TextAnalysis.commonness(
      docs, graft.llm.TextAnalysis.vocabulary(docs, "text", 20)))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected the top-k vocabulary to broadcast:\n$p")
    val streamed = bcasts.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bcasts.head.left
      case _ => bcasts.head.right
    }
    assert(collectAll(streamed) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"corpus side must not shuffle below the vocab probe:\n$p")
  }

  test("dedup clusters assignment plans no window — a mega-cluster cannot funnel") {
    // a boilerplate near-dup cluster can hold a large fraction of the
    // corpus; sizing it through a Window.partitionBy(cluster_id) would
    // push that whole membership through ONE task. The contract is
    // aggregation shape (groupBy + join back): zero WindowExec anywhere.
    val docs = (1L to 40L).toDF("doc_id")
    val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.clusters(docs, "doc_id", pairs)
    val windows = collectAll(plan(out)) { case w: WindowExec => w }
    assert(windows.isEmpty, s"clusters must stay window-free:\n${plan(out)}")
  }

  test("sampleStratified plans zero shuffles — a pure codegen'd filter scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.llm.Pipeline.sampleStratified(
      docs, "doc_id", "lang", Map("en" -> 0.3), default = 0.1, seed = 7L)
    val p = plan(out)
    assert(collectAll(p) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"stratified sampling must not shuffle:\n$p")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      s"stratified sampling must not window:\n$p")
  }

  test("packSequences plans ONE shard-partitioned shuffle and no unpartitioned window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.llm.Pipeline.packSequences(docs, "doc_id", "text", "source", 512)
    val p = plan(out)
    assert(collectAll(p) { case s: ShuffleExchangeExec => s }.size <= 1,
      s"packing must shuffle once, on the shard key:\n$p")
    val unpart = collectAll(p) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, s"packing window must partition on the shard key:\n$p")
  }

  test("tube scoresMatrix shares ONE record shuffle across all targets") {
    val base = (1 to 50).flatMap(i => Seq(("a", i.toLong, i * 1.0), ("b", i.toLong, 50.0 - i)))
      .toDF("record", "t", "value")
      .withColumn("TIME", (col("t") - 1).cast("double"))
      .withColumn("TIME2", col("TIME") * col("TIME"))
    val m = Tube.scoresMatrix(base, "record",
      Seq("value" -> Seq("TIME", "TIME2"), "TIME2" -> Seq("TIME")), 2.0)
    val shuffles = collectAll(plan(m)) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1,
      s"multi-target scoring must not shuffle per target:\n${plan(m)}")
  }

  test("dupPassageStats probes the duplicated-gram set via broadcast; corpus side never shuffles before the join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Dedup.dupPassageStats(docs, "doc_id", "text", n = 3, minDocs = 2))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected the duplicated-gram tail to broadcast:\n$p")
    // the 100 TB property of the probe phase: the corpus reaches the gram
    // probe with no KEYED exchange — nothing repartitions it by content
    // before the broadcast decides. The one allowed exchange below the
    // join is Fanout.fanOut's round-robin scan-parallelism repair, which
    // is a no-op on any production-scale (already-wide) scan.
    val streamed = bcasts.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bcasts.head.left
      case _ => bcasts.head.right
    }
    val keyed = collectAll(streamed) { case s: ShuffleExchangeExec => s }
      .filterNot(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
    assert(keyed.isEmpty,
      s"probe side must not KEY-shuffle below the gram join:\n$p")
  }

  test("dupSpans: hot set broadcasts via semi-join; the only doc-keyed exchange " +
    "feeds the anchor window ABOVE the probe (anchors move, tokens never)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(Dedup.dupSpans(docs, "doc_id", "text", n = 3, minDocs = 2))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected the duplicated-gram set to broadcast:\n$p")
    val streamed = bcasts.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bcasts.head.left
      case _ => bcasts.head.right
    }
    // corpus side reaches the anchor probe with no KEYED exchange (the
    // round-robin scan-parallelism repair — Fanout.fanOut, a no-op on
    // already-wide scans — is the one allowed exchange below the probe)...
    val keyed = collectAll(streamed) { case s: ShuffleExchangeExec => s }
      .filterNot(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
    assert(keyed.isEmpty,
      s"probe side must not KEY-shuffle below the anchor semi-join:\n$p")
    // ...and every window (the run merge) sits above that semi-join, so
    // its exchange carries only surviving anchors
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(collectAll(w.child) {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.nonEmpty, s"run-merge window must consume the anchor join's output:\n$p")
    }
  }

  test("chunk and redactPii plan zero shuffles (pure per-row pipelines)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (df <- Seq(
        graft.llm.Pipeline.chunk(docs, "doc_id", "text", 32, 24),
        docs.select(graft.llm.TextAnalysis.redactPii(col("text"))),
        docs.select(graft.llm.TextAnalysis.piiCols(col("text")).map { case (n, c) => c.as(n) }: _*))) {
      assert(collectAll(plan(df)) { case s: ShuffleExchangeExec => s }.isEmpty,
        s"expected a shuffle-free per-row pipeline:\n${plan(df)}")
    }
  }

  test("semanticDupAuto: seed probes broadcast, windows stay partitioned") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.llm.Similarity.semanticDupAuto(
      emb, "vec_id", "embedding", 0.4, targetOccupancy = 64))
    // both assignment probes reach the corpus as broadcasts: the coarse
    // cross join must be broadcast-nested-loop (never a shuffled cartesian)
    val bnl = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(bnl.nonEmpty, s"coarse assignment must broadcast the seed table:\n$p")
    // every window is partitioned — the fine-seed selection shuffles on the
    // coarse cell key, never through one partition
    val badWindows = collectAll(p) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(badWindows.isEmpty, s"unpartitioned window in semanticDupAuto:\n$p")
  }

  test("ivfTopKAuto: the corpus reaches the inverted-list probe un-shuffled, via broadcast") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.llm.Similarity.ivfTopKAuto(
      emb, "vec_id", "embedding", Seq(0L, 1L), k = 3, targetOccupancy = 16))
    // the (query, cluster) probe set is metadata-sized (queries × probes)
    // and must broadcast into the assigned-corpus join; the corpus side of
    // that join must not shuffle — the probe IS the point of the index
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected the query probe set to broadcast:\n$p")
    val badWindows = collectAll(p) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(badWindows.isEmpty, s"unpartitioned window in ivfTopKAuto:\n$p")
  }

  test("importanceWeights: the scoring probe is ONE projection over the text " +
    "scan — no join, no exchange, the native tick-sum (round 15)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.Pipeline.importanceWeights(
      docs, docs.filter(col("source") === "src0"), "doc_id", "text"))
    // the ratio table collects at plan-build (metadata-sized, <= buckets
    // rows) and scores as a graft_gram_tick_sum literal-table projection:
    // the OUTPUT plan must be join-free and exchange-free
    assert(collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.isEmpty, s"native probe must not join:\n$p")
    assert(collectAll(p) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"native probe must not shuffle:\n$p")
    assert(p.toString.contains("graft_gram_tick_sum"),
      s"expected the fused tick-sum scan:\n$p")
  }

  test("resampleTopK plans a TakeOrdered top-k, never a global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = graft.llm.Pipeline.importanceWeights(
      docs, docs.filter(col("source") === "src0"), "doc_id", "text")
    val p = plan(graft.llm.Pipeline.resampleTopK(w, "doc_id", k = 10, seed = 1L))
    assert(collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"expected TakeOrderedAndProject:\n$p")
    assert(collectAll(p) { case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
      s"a global SortExec defeats the per-partition k-heap:\n$p")
  }

  test("sampleToMixture: stratum counts broadcast; the kept scan never shuffles") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.Pipeline.sampleToMixture(
      docs, "doc_id", "source", Map("src0" -> 0.5, "src1" -> 0.5), 100L, 3L))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected the stratum-count table to broadcast:\n$p")
    val streamed = bcasts.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bcasts.head.left
      case _ => bcasts.head.right
    }
    assert(collectAll(streamed) { case s: ShuffleExchangeExec => s }.isEmpty,
      s"document side must not shuffle below the count join:\n$p")
  }

  test("ivfIndexTopK prunes the index scan to the probed cells (partition pruning)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = graft.llm.Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    withTempDir { path =>
      graft.llm.Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, path)
      val p = plan(graft.llm.Similarity.ivfIndexTopK(spark.read.parquet(path),
        emb.filter(col("vec_id").isin(0L, 1L)), "vec_id", "embedding", 3, cents, nProbe = 1))
      // the probed-cell literal must land in the scan's PARTITION filters —
      // pruning at plan time, not a post-scan row filter
      val idxScans = collectAll(p) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == new java.io.File(path).getName) => s
      }
      assert(idxScans.nonEmpty, s"expected a scan of the written index:\n$p")
      idxScans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          s"index scan must carry partition filters (pruned cells):\n$s")
        assert(s.relation.partitionSchema.fieldNames.contains("cell"),
          "index layout must be partitioned by cell")
      }
    }
  }

  test("cleanCorpus: row-local filters sit below the dedup-winner exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.Pipeline.cleanCorpus(
      docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", deconN = 4))
    // every shuffle in the funnel must see only filter survivors: below
    // each exchange that reads the raw documents scan there is a Filter
    val exchanges = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(exchanges.nonEmpty, "expected the dedup-winner aggregation to shuffle")
    exchanges.foreach { ex =>
      val scansBelow = collectAll[Unit](ex) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => ()
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => ()
      }
      val filtersBelow = collectAll(ex) {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }
      assert(scansBelow.isEmpty || filtersBelow.nonEmpty,
        s"an exchange reads the scan with no filter below it:\n$ex")
    }
  }

  test("bm25TopK: term filter below the doc shuffle; idf and query tables broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq(0L -> Seq("hash", "join")), k = 5))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.size >= 2, s"expected idf AND query-term broadcasts:\n$p")
    // the 100 TB property: every exchange that reads the raw corpus scan
    // sits above the query-term Filter — the shuffle carries term hits,
    // never the corpus
    val exchanges = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(exchanges.nonEmpty)
    exchanges.foreach { ex =>
      val scansBelow = collectAll[Unit](ex) {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => ()
        case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => ()
      }
      val filtersBelow = collectAll(ex) {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }
      assert(scansBelow.isEmpty || filtersBelow.nonEmpty,
        s"an exchange reads the corpus scan with no term filter below it:\n$ex")
    }
  }

  test("pqTopK: codes scan never shuffles below the broadcast of the query tables") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val books = graft.llm.Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 4, iters = 1)
    val p = plan(graft.llm.Similarity.pqTopK(emb, "vec_id", "embedding",
      Seq(0L, 1L), 3, books))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, s"expected the per-query distance tables to broadcast:\n$p")
    // the corpus side reaches the ADC score as one un-shuffled projection;
    // the only exchange is the per-query top-k window above it
    val streamedShuffles = bcasts.flatMap(j => collectAll(j.children.head) {
      case s: ShuffleExchangeExec => s
    }) ++ bcasts.flatMap(j => collectAll(j.children.last) {
      case s: ShuffleExchangeExec => s
    })
    assert(streamedShuffles.isEmpty,
      s"no shuffle may sit below the ADC broadcast join:\n$p")
  }

  test("bigramNll: count tables broadcast; the scoring scan never shuffles below the probes") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.TextAnalysis.bigramNll(docs))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.size >= 2, s"expected both LM count tables to broadcast:\n$p")
    // the streamed (scoring) side of the OUTER probe must reach the join
    // un-shuffled — its only exchange is the final per-doc aggregation
    // ABOVE the joins
    bcasts.foreach { b =>
      val streamed = b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.left
        case _ => b.right
      }
      val shuffles = collectAll(streamed) { case s: ShuffleExchangeExec => s }
      // inner probe sits under the outer one, so allow the OTHER join's
      // broadcast subtree but never a streamed-side data shuffle
      assert(shuffles.forall(sh => collectAll[Unit](sh) {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.groupingExpressions.nonEmpty => ()
      }.nonEmpty), s"scoring side must not shuffle data below the LM probes:\n$p")
    }
  }

  test("star_join: dimension tables broadcast, fact chain co-shuffles") {
    val p = plan(SparkEntry.queries("star_join")(spark, dir))
    val bcasts = collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.size >= 2, s"nation and region must broadcast:\n$p")
  }

  test("collocations: top-k plans as TakeOrdered, never a global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.TextAnalysis.collocations(docs,
      scope = new graft.core.CacheScope))
    assert(collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"expected TakeOrderedAndProject:\n$p")
    assert(collectAll(p) {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isEmpty, s"a global SortExec defeats the per-partition k-heap:\n$p")
  }

  test("range/overlap/asof joins and triangles never plan a nested-loop join") {
    for (q <- Seq("join_range", "join_interval", "join_asof", "graph_triangles")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(collectAll(p) {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }.isEmpty, s"$q planned a BroadcastNestedLoopJoin:\n$p")
      assert(collectAll(p) {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"$q planned a CartesianProduct:\n$p")
    }
  }

  test("Graph.triangles plans each intermediate once: 7 distinct exchanges, not 22") {
    // cached input edges, as SparkEntry feeds them: a cached relation read
    // on both sides of a self-join gets fresh output ids, so exchanges
    // over the duplicated subtrees are never reused — each copy runs.
    // The two-degree-join orientation under a wedge self-join planned
    // 22 distinct exchanges here; a count above 7 means a duplicated
    // subtree is back
    val rnd = new scala.util.Random(11)
    val edges = (Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
      (1 to 40).map(i => (0L, i.toLong))).toDF("s", "d").cache()
    try {
      val tri = graft.graph.Graph.triangles(edges, "s", "d")
      tri.collect()
      val exchanges = collectAll(plan(tri)) {
        case s: ShuffleExchangeExec => s: SparkPlan
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      // a reused exchange is walked into as its original: count each once
      val distinct = exchanges.foldLeft(List.empty[SparkPlan]) { (seen, e) =>
        if (seen.exists(_ eq e)) seen else e :: seen
      }
      assert(distinct.size === 7, s"distinct exchanges in:\n${plan(tri)}")
    } finally edges.unpersist()
  }

  test("graph_triangles: the l_linenumber cap reaches the parquet scan as a pushed filter") {
    val p = plan(SparkEntry.queries("graph_triangles")(spark, dir))
    val scans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata
    }
    assert(scans.nonEmpty && scans.forall(
      _.get("PushedFilters").exists(_.contains("LessThanOrEqual(l_linenumber,3)"))),
      s"the fan-out cap must prune at the scan:\n$p")
  }

  test("stats_histogram: boundary assignment broadcasts — the corpus shuffles once, for the count") {
    val p = plan(SparkEntry.queries("stats_histogram")(spark, dir))
    assert(collectAll(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty, s"boundary table must broadcast:\n$p")
  }

  test("building a plan runs no Spark job: parquet schemas come from footers") {
    for (q <- Seq("sg_smooth", "events_funnel", "plot_byunit", "text_pii", "dedup_exact_salted"))
      assert(jobsStarted(SparkEntry.queries(q)(spark, dir)) === 0, s"jobs while building $q")
    withTempDir { store =>
      Opset.fromEvents(spark, dir).save(store)
      assert(jobsStarted(Opset.load(spark, store)) === 0, "jobs while loading an Opset store")
    }
  }

  test("pca_circle: the fit is one job and compiles less than corr per pair; the table needs no sort") {
    val li = graft.core.Parquet.read(spark, s"$dir/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    assert(jobsStarted(graft.analysis.Pca.corrMatrixAndCount(li, cols)) === 1)
    // the built query is a local table: one job to fit, one to read it;
    // a sort over it would add range-sampling jobs
    assert(jobsStarted(SparkEntry.queries("pca_circle")(spark, dir).queryExecution.toRdd.count()) <= 2)
    // a column set no other query uses, so neither form finds its classes
    // in the codegen cache: the fit generates only the scan's projection,
    // corr per pair a partial and a final hash aggregate as well
    val fresh = Seq("l_tax", "l_linenumber", "l_discount")
    val fit = compiledClasses(graft.analysis.Pca.corrMatrixAndCount(li, fresh))
    val agg = compiledClasses(li.agg(corr("l_tax", "l_linenumber"), corr("l_tax", "l_discount"),
      corr("l_linenumber", "l_discount"), corr("l_tax", "l_tax"), corr("l_linenumber", "l_linenumber"),
      corr("l_discount", "l_discount"), count(lit(1))).head())
    assert(fit < agg, s"the fit compiled $fit classes, corr per pair $agg")
  }

  test("sgDf over a record-partitioned input plans no window and no exchange of its own") {
    val df = (for (r <- 0 until 6; t <- 1 to 30) yield (s"r$r", t.toLong, math.sin(r + t * 0.3)))
      .toDF("record", "t", "value").repartition(4, col("record"))
    val p = plan(SignalOps.sgDf(df, "value", "record", "t", 7, 2, 1, "x"))
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty, s"plan:\n$p")
    assert(collectAll(p) { case e: ShuffleExchangeExec => e }.size === 1, s"plan:\n$p")
  }

  test("tube_estimate: the SG kernel and the tube windows share one record exchange") {
    val p = plan(SparkEntry.queries("tube_estimate")(spark, dir))
    val byRecord = collectAll(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.startsWith("hashpartitioning(record#") => e
    }
    assert(byRecord.size === 1, s"plan:\n$p")
  }

  test("sgDf compiles few classes on a fresh input") {
    // a schema no other test uses, so no class is in the codegen cache:
    // the collect and the kernel compile 14 classes in a fresh JVM, the
    // lag/lead window chain they replaced compiled 42
    val fresh = (for (r <- 0 until 3; t <- 1 to 40) yield (r.toShort, t, (r + t * 0.1).toFloat, (t % 3).toByte))
      .toDF("rk", "tk", "v", "b")
    val n = compiledClasses(SignalOps.sgDf(fresh, "v", "rk", "tk", 11, 3, 2, "x").queryExecution.toRdd.count())
    assert(n <= 20, s"sgDf compiled $n classes")
  }
}
