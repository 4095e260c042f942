package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.TextAnalysis
import graft.streaming.StreamOps.SigEvent

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("stateless batch operators apply unchanged to a stream (text analysis)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = TextAnalysis.analyze(in.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("ta_out").outputMode("append").start()
    try {
      in.addData((1L, "the cat and the dog"), (2L, ""))
      q.processAllAvailable()
      val rows = spark.table("ta_out").collect()
      assert(rows.length === 2)
      val r1 = rows.find(_.getLong(0) == 1L).get
      assert(r1.getAs[String]("lang_id") === "en")
      assert(r1.getAs[Long]("n_tokens") === 5L)
    } finally q.stop()
  }

  test("windowedEventCounts aggregates per watermarked window") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.windowedEventCounts(
      in.toDF().toDF("ts", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("wc_out").outputMode("update").start()
    try {
      in.addData((ts(1), "click", 1.0), (ts(2), "click", 3.0), (ts(3), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wc_out")
        .select("event_type", "n", "avg_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows === Set(("click", 2L, 2.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streamingDedup keeps first occurrence per key within the watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = StreamOps.streamingDedup(
      in.toDF().toDF("ts", "doc_id", "text"), Seq("text"), "ts")
    val q = out.writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    try {
      in.addData((ts(1), 1L, "aaa"), (ts(2), 2L, "aaa"), (ts(3), 3L, "bbb"))
      q.processAllAvailable()
      val texts = spark.table("dd_out").select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(texts === Set((1L, "aaa"), (3L, "bbb")))
    } finally q.stop()
  }

  test("runningArgmax tracks the first-occurrence max per record across batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SigEvent]
    val q = StreamOps.runningArgmax(in.toDS())
      .toDF("record", "i", "v")
      .writeStream.format("memory").queryName("am_out").outputMode("update").start()
    try {
      in.addData(SigEvent("r", 1, 5.0), SigEvent("r", 2, 9.0), SigEvent("r", 3, 9.0))
      q.processAllAvailable()
      in.addData(SigEvent("r", 4, 12.0), SigEvent("s", 1, 1.0))
      q.processAllAvailable()
      val last = spark.table("am_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      // latest update per record: r's max moved to t=4 (0-based 3); ties kept first occurrence earlier
      assert(last.contains(("r", 1L, 9.0)))  // batch 1: first-occurrence argmax at t=2 → i=1
      assert(last.contains(("r", 3L, 12.0))) // batch 2: new max at t=4 → i=3
      assert(last.contains(("s", 0L, 1.0)))
    } finally q.stop()
  }

  test("streamingNearDupClaims flags a later near-duplicate, keeps distinct docs") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val textA = "the quick brown fox jumps over the lazy dog again and again at dawn"
    val textA2 = textA + " ok" // near-dup: shares almost every 5-gram shingle
    val textB = "completely different content about structured streaming state stores"
    val out = StreamOps.streamingNearDupClaims(
      in.toDF().toDF("ts", "doc_id", "text"), "doc_id", "text", "ts")
    val q = out.writeStream.format("memory").queryName("nd_out").outputMode("update").start()
    try {
      in.addData((ts(1), 1L, textA), (ts(2), 2L, textB))
      q.processAllAvailable()
      in.addData((ts(3), 3L, textA2)) // later batch: buckets already owned by doc 1
      q.processAllAvailable()
      val v = StreamOps.nearDupVerdicts(spark.table("nd_out")).collect()
        .map(r => r.getLong(0) -> (r.getBoolean(2), Option(r.get(1)))).toMap
      assert(v(1L) === ((false, None)), "first doc owns its buckets")
      assert(v(2L) === ((false, None)), "distinct doc shares no band")
      assert(v(3L) === ((true, Some(1L))), "near-dup of the earlier doc")
    } finally q.stop()
  }

  test("nearDupVerdicts marks same-batch near-dups with a deterministic owner") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val t = "sampled tokens share every shingle of this exact sentence for banding"
    val out = StreamOps.streamingNearDupClaims(
      in.toDF().toDF("ts", "doc_id", "text"), "doc_id", "text", "ts")
    val q = out.writeStream.format("memory").queryName("nd2_out").outputMode("update").start()
    try {
      // identical text in ONE micro-batch: earliest ts wins; id breaks ties
      in.addData((ts(5), 7L, t), (ts(4), 9L, t), (ts(5), 8L, t))
      q.processAllAvailable()
      val v = StreamOps.nearDupVerdicts(spark.table("nd2_out")).collect()
        .map(r => r.getLong(0) -> (r.getBoolean(2), Option(r.get(1)))).toMap
      assert(v(9L) === ((false, None)), "earliest ts owns the bucket")
      assert(v(7L) === ((true, Some(9L))))
      assert(v(8L) === ((true, Some(9L))))
    } finally q.stop()
  }

  test("streamingNearDupClaims drops null/empty-text docs instead of cross-claiming them") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val real = "a normal document with enough distinct tokens to shingle properly"
    val out = StreamOps.streamingNearDupClaims(
      in.toDF().toDF("ts", "doc_id", "text"), "doc_id", "text", "ts")
    val q = out.writeStream.format("memory").queryName("nd3_out").outputMode("update").start()
    try {
      // degenerate docs: null text shingles to [null] → all-null
      // signature → every null-text doc bands to the SAME per-band
      // bucket; empty text shingles to {hash("")} so empty docs collide
      // with each other too. Without the pre-banding filter doc 2 (and
      // the later null doc 3) would be claimed near-dups of doc 1.
      in.addData((ts(1), 1L, null: String), (ts(2), 4L, real))
      q.processAllAvailable()
      in.addData((ts(3), 2L, ""), (ts(4), 3L, null: String))
      q.processAllAvailable()
      val v = StreamOps.nearDupVerdicts(spark.table("nd3_out")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(v === Map(4L -> false), "degenerate docs emit no claims and no verdicts")
    } finally q.stop()
  }

  test("writeOpsetStore lands a stream as an Opset.load-able parquet store") {
    implicit val sc = spark.sqlContext
    import graft.core.Opset
    val in = MemoryStream[(String, Long, Double)]
    withTempDir { dir =>
      in.addData(("r1", 1L, 10.0), ("r1", 2L, 11.0), ("r2", 1L, 20.0))
      val q = StreamOps.writeOpsetStore(
        in.toDF().toDF("record", "t", "value"),
        s"$dir/store", s"$dir/ckpt")
      q.awaitTermination() // AvailableNow: drains the backlog and stops
      val os = Opset.load(spark, s"$dir/store")
      assert(os.size === 2L)
      assert(os.get("r1").count() === 2L)
      // exactly-once: restarting over the same checkpoint adds nothing
      val q2 = StreamOps.writeOpsetStore(
        in.toDF().toDF("record", "t", "value"),
        s"$dir/store", s"$dir/ckpt")
      q2.awaitTermination()
      assert(Opset.load(spark, s"$dir/store").df.count() === 3L)
    }
  }

  test("Sketches.hllRegisters applies unchanged to a stream; the multi-batch fold equals the batch sketch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val regs = graft.analysis.Sketches.hllRegisters(
      in.toDF().toDF("g", "k"), Seq("g"), col("k"))
    val q = regs.writeStream.format("memory").queryName("hll_out")
      .outputMode("update").start()
    try {
      in.addData((1 to 300).map(i => ("g", s"k$i")): _*)
      q.processAllAvailable()
      in.addData((200 to 500).map(i => ("g", s"k$i")): _*) // overlap re-asserts maxes
      q.processAllAvailable()
      val folded = spark.table("hll_out")
        .groupBy("g", "bucket").agg(max("mj").cast("int").as("mj"))
      val batch = graft.analysis.Sketches.hllRegisters(
        (1 to 500).map(i => ("g", s"k$i")).toDF("g", "k"), Seq("g"), col("k"))
      assert(folded.collect().toSet === batch.collect().toSet)
    } finally q.stop()
  }

  test("sessionWindowCounts merges gap-adjacent events; append emits on watermark close") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamOps.sessionWindowCounts(
        in.toDF().toDF("et", "user_id"), "et", "user_id", "10 seconds", "0 seconds")
      .select(col("user_id"), unix_micros(col("session.start")).as("s"),
        unix_micros(col("session.end")).as("e"), col("n_events"))
    val q = out.writeStream.format("memory").queryName("sw_out")
      .outputMode("append").start()
    try {
      in.addData((ts(1000), 1L), (ts(1005), 1L), (ts(1030), 1L), (ts(1002), 2L))
      q.processAllAvailable()
      in.addData((ts(5000), 99L)) // watermark push past every session end
      q.processAllAvailable()
      val rows = spark.table("sw_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def us(sec: Long) = sec * 1000000L
      assert(rows === Set(
        (1L, us(1000), us(1015), 2L), // 1000+1005 merge (gap 5 < 10), end = 1005+10
        (1L, us(1030), us(1040), 1L),
        (2L, us(1002), us(1012), 1L)))
      // the sentinel's own session never closes, so it never lands
      assert(!rows.exists(_._1 == 99L))
    } finally q.stop()
  }

  test("intervalJoin pairs effects with in-window causes per key") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val views = MemoryStream[(Timestamp, Long, Long)]
    val joined = StreamOps.intervalJoin(
        clicks.toDF().toDF("c_et", "c_user", "c_id"),
        views.toDF().toDF("v_et", "v_user", "v_id"),
        col("c_user") === col("v_user"), "c_et", "v_et",
        "10 seconds", "1 minute")
      .select("c_id", "v_id")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      views.addData((ts(1000), 1L, 10L), (ts(1005), 1L, 11L), (ts(1030), 1L, 12L),
        (ts(1005), 2L, 20L))
      clicks.addData((ts(1008), 1L, 1L), (ts(1031), 1L, 2L))
      q.processAllAvailable()
      val rows = spark.table("ij_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // click 1 @1008s (user 1): views @1000,@1005 inside [−10 s, 0];
      // click 2 @1031s: view @1030 inside, @1000/@1005 too old; user 2's
      // view never matches
      assert(rows === Set((1L, 10L), (1L, 11L), (2L, 12L)))
    } finally q.stop()
  }

  test("streamingKmv: landed per-batch slices merge to the exact whole-corpus sketch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    withTempDir { dir =>
      val q = StreamOps.streamingKmv(in.toDF().toDF("g", "id", "v"),
        Seq("g"), col("id"), col("v"), k = 16, seed = 7L,
        s"$dir/rows", s"$dir/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try {
        val all = (1 to 200).map(i => (s"g${i % 2}", i.toLong, i * 1.5))
        in.addData(all.take(90): _*)
        q.processAllAvailable()
        in.addData(all.drop(90): _*) // disjoint ids: the kmvMerge contract
        q.processAllAvailable()
      } finally q.stop()
      // the exactly-once layout: one batch=<id> subdir per micro-batch
      val raw = spark.read.parquet(s"$dir/rows")
      assert(raw.columns.contains("batch"))
      assert(raw.select("batch").distinct().count() >= 2)
      val slices = StreamOps.readSlices(spark, s"$dir/rows")
      assert(!slices.columns.contains("batch"))
      // at least two landed slices, each truncated to <= k rows per group
      assert(slices.count() > 16 * 2)
      val merged = graft.analysis.Sketches.kmvMerge(Seq(slices), Seq("g"), 16)
      val whole = graft.analysis.Sketches.kmvSketch(
        (1 to 200).map(i => (s"g${i % 2}", i.toLong, i * 1.5)).toDF("g", "id", "v"),
        Seq("g"), col("id"), col("v"), 16, 7L)
      assert(merged.collect().toSet === whole.collect().toSet)
      // and the quantile surface folds identically
      val qm = graft.analysis.Sketches.kmvQuantiles(merged, Seq("g"), Seq(0.5, 0.9))
      val qw = graft.analysis.Sketches.kmvQuantiles(whole, Seq("g"), Seq(0.5, 0.9))
      assert(qm.collect().toSet === qw.collect().toSet)
    }
  }

  test("streamingTopK: landed per-batch slices fold to the exact global leaderboard") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)]
    withTempDir { dir =>
      val ord = Seq(col("v").desc, col("id").asc)
      val q = StreamOps.streamingTopK(in.toDF().toDF("k", "id", "v"),
        Seq("k"), ord, k = 3, s"$dir/rows", s"$dir/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try {
        val all = (1 to 120).map(i => ((i % 4).toLong, i.toLong, (i * 37 % 101).toDouble))
        in.addData(all.take(50): _*)
        q.processAllAvailable()
        in.addData(all.drop(50): _*)
        q.processAllAvailable()
      } finally q.stop()
      val folded = graft.core.TopK.perKey(
        StreamOps.readSlices(spark, s"$dir/rows"), Seq("k"), ord, 3)
      val whole = graft.core.TopK.perKey(
        (1 to 120).map(i => ((i % 4).toLong, i.toLong, (i * 37 % 101).toDouble))
          .toDF("k", "id", "v"), Seq("k"), ord, 3)
      assert(folded.collect().toSet === whole.collect().toSet)
      assert(folded.count() === 12L) // 4 keys x top-3, ranks intact
    }
  }

  test("streamingBinCounts: multi-batch update emissions fold (max per bin) to the " +
    "batch count table; quantiles through the shared estimator match the batch twin") {
    implicit val sc = spark.sqlContext
    val all = (1 to 300).map(i => (s"g${i % 2}", ((i * 2654435761L) % 997L).toDouble))
    val batchDf = all.toDF("g", "v")
    val bounds = batchDf.groupBy("g")
      .agg(min(col("v")).as("_mn"), max(col("v")).as("_mx"))
    val nBins = 32
    val in = MemoryStream[(String, Double)]
    val cnts = StreamOps.streamingBinCounts(
      in.toDF().toDF("g", "v"), Seq("g"), col("v"), bounds, nBins)
    withTempDir { dir =>
      val q = StreamOps.landUpdates(cnts, s"$dir/rows", s"$dir/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try {
        in.addData(all.take(130): _*)
        q.processAllAvailable()
        in.addData(all.drop(130): _*)
        q.processAllAvailable()
      } finally q.stop()
      // monotone-register fold: max count per (group, bin)
      val folded = spark.read.parquet(s"$dir/rows")
        .groupBy("g", "_bin").agg(max(col("_c")).as("_c"))
      // register-bounded: never more than groups x nBins state rows
      assert(folded.count() <= 2L * nBins)
      // the folded table IS the batch count table
      val batchCnts = batchDf
        .select(col("g"), col("v").cast("double").as("_v"))
        .join(broadcast(bounds), Seq("g"))
        .withColumn("_bin", graft.analysis.Stats.binIndex(nBins))
        .groupBy("g", "_bin").agg(count(lit(1)).as("_c"))
      assert(folded.collect().toSet === batchCnts.collect().toSet)
      // and the shared estimator reproduces the batch operator bit-for-bit
      val viaStream = graft.analysis.Stats.binnedQuantilesFromCounts(
        folded, bounds, Seq("g"), Seq(0.5, 0.9), nBins)
      val viaBatch = graft.analysis.Stats.binnedQuantiles(
        batchDf, Seq("g"), col("v"), Seq(0.5, 0.9), nBins)
      assert(viaStream.collect().toSet === viaBatch.collect().toSet)
    }
  }
}
