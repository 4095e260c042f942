package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analysis.{Sketches, Stats}
import graft.core.Parquet
import graft.events.EventOps
import graft.streaming.{StreamOps, StreamReplay}
import Shared._

/** Structured Streaming (row 39): each query replays a batch input as a
  * bounded stream through one operator and grades the sink against the
  * batch oracle.
  */
object StreamQueries {

  /** The event time of a streamed `events` row, by the read schema of its
    * `ts`: TIMESTAMP(NANOS) parquet decodes as LONG nanos under the rig's
    * nanosAsLong conf (truncating to micros cannot move an event across a
    * 10 s window boundary), timestamp[us] parquet as a timestamp type
    * (NTZ cast to the session type, the identity on the stored micros in
    * a UTC session). Both give the DuckDB oracles' epoch_us grid.
    */
  private def streamEventTime(schema: org.apache.spark.sql.types.StructType, query: String): Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts div 1000"))
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType => col("ts").cast("timestamp")
      case other => // schema drift: fail here, not as a wrong-but-plausible grid
        throw new IllegalArgumentException(s"$query: unsupported events.ts type $other — " +
          "expected LONG (nanos vintage), TIMESTAMP, or TIMESTAMP_NTZ")
    }

  // Attribution window shared by the stream_join query/oracle: views in
  // the hour before each click of the same user (46 pairs at sf0.01).
  private val JoinLookback = "1 hour"
  private val JoinLookbackUs = 3600L * 1000000

  val specs: Seq[QuerySpec] = Seq(
    // -- Structured Streaming near-dup ingestion filter (row 39) --
    // The one streaming row with a batch-SQL oracle: documents replays as
    // a bounded one-batch stream with event time monotone in doc_id, the
    // per-bucket first-owner claims land via foreachBatch (the stateful
    // operator emits updates, which the file sink proper cannot accept),
    // and the landed claims fold to one verdict per document. Under that
    // event-time order, "first owner" of a band
    // bucket is min(doc_id) over the docs sharing the band signature —
    // exactly what the oracle's GROUP BY reproduces, so the stream's
    // no-re-rank claim semantics are graded by DuckDB like any batch
    // operator.
    QuerySpec("stream_neardup", { (s, dir) =>
      val path = s"$dir/documents.parquet"
      val rows = StreamReplay.file(s, dir, path) { (docs, rows, ckpt) =>
        // +1000s: an event time of exactly epoch 0 (doc_id 0) is not ">"
        // the stateful operator's initial watermark of 0 and gets dropped
        // as late; any positive offset keeps the order monotone in doc_id
        val claims = StreamOps.streamingNearDupClaims(
          docs.withColumn("ts", timestamp_seconds(col("doc_id") + 1000)), "doc_id", "text", "ts",
          shingleLen = MhShingle, numHashes = MhHashes, bands = MhBands)
        StreamOps.landUpdates(claims.toDF(), rows, ckpt)
      }
      val verdicts = StreamOps.nearDupVerdicts(Parquet.read(s, rows))
      Parquet.read(s, path).select(col("doc_id"))
        .join(verdicts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy("doc_id")
    }, {
      // the stream's first-owner-per-bucket semantics under doc_id-monotone
      // event time: owner(band bucket) = min(doc_id) sharing the band
      // signature; a doc's dup_of = min owner ≠ itself over its bands.
      // Same banding CTEs as the batch minhash oracles — the stream reuses
      // those exact expressions by construction.
      val rpb = MhHashes / MhBands
      val hs = (0 until rpb).map(i => s"h_$i").mkString(", ")
      // sbanded mirrors the stream's degenerate-doc drop (StreamOps
      // filters null/empty text BEFORE banding): without it an empty-text
      // doc shingles to md5('') here, collides in every band, and the
      // oracle would call it a dup while the stream reports is_dup=false.
      // Short-but-nonempty docs need no filter — both sides hash the
      // whole text as the single shingle.
      s"""WITH $minhashBandedCtes, sbanded AS (
         |  SELECT b.* FROM banded b JOIN documents d USING (doc_id)
         |  WHERE d.text IS NOT NULL AND length(d.text) > 0
         |), own AS (
         |  SELECT band, $hs, min(doc_id) AS owner
         |  FROM sbanded GROUP BY band, $hs
         |), claims AS (
         |  SELECT b.doc_id, o.owner
         |  FROM sbanded b JOIN own o USING (band, $hs)
         |), v AS (
         |  SELECT doc_id, min(CASE WHEN owner <> doc_id THEN owner END) AS dup_of
         |  FROM claims GROUP BY doc_id
         |)
         |SELECT d.doc_id, v.dup_of, (v.dup_of IS NOT NULL) AS is_dup
         |FROM documents d LEFT JOIN v USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    }),

    // -- Structured Streaming windowed aggregation (row 39) --
    // Same land-and-grade shape as stream_neardup: events replays as a
    // bounded one-batch stream, so every group's single Update-mode
    // emission IS its final aggregate; the watermarked 10 s tumbling
    // windows land via foreachBatch, and the landed rows equal a batch
    // GROUP BY on the window start (event time: [[streamEventTime]]).
    QuerySpec("stream_counts", { (s, dir) =>
      // The NTZ branch is only window-grid-correct when the session zone
      // is UTC (the cast re-interprets the stored micros in session
      // time); every rig entrypoint pins it, but enforce the invariant at
      // the query site so a caller's non-UTC session fails loudly instead
      // of landing shifted windows.
      val tz = s.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"stream_counts requires spark.sql.session.timeZone=UTC (got $tz): " +
          "the timestamp-schema branch re-interprets stored micros in session time")
      val rows = StreamReplay.file(s, dir, s"$dir/events.parquet")((ev, rows, ckpt) =>
        StreamOps.landUpdates(StreamOps.windowedEventCounts(
          ev.withColumn("et", streamEventTime(ev.schema, "stream_counts")),
          "et", "10 seconds", "10 seconds"), rows, ckpt))
      Parquet.read(s, rows)
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"),
          round(col("avg_value"), 6).as("avg_value"))
        .orderBy("win_start", "event_type")
    },
      // epoch_us is precision-agnostic: DuckDB truncates ns parquet to
      // micros (the Spark side's div-1000 branch) and reads us parquet
      // directly (the Spark side's timestamp branch), so the integer
      // floor to the 10 s grid is identical on both engines either way.
      """SELECT (epoch_us(ts) // 10000000) * 10 AS win_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n, round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- Structured Streaming exact dedup (row 39) --
    // dropDuplicatesWithinWatermark replaying documents as the same
    // bounded one-batch stream: with the initial watermark at 0 no state
    // expires mid-batch, so the kept set is exactly one row per distinct
    // text — the streaming form of dedup_exact's GROUP BY. Which physical
    // row wins per key is task-order-dependent, so the graded output is
    // projected to content-derived columns only (md5 + length of the text
    // the key preserves), never the nondeterministic doc_id.
    QuerySpec("stream_dedup", { (s, dir) =>
      val rows = StreamReplay.file(s, dir, s"$dir/documents.parquet")((docs, rows, ckpt) =>
        StreamOps.writeOpsetStore(StreamOps.streamingDedup(
          docs.withColumn("ts", timestamp_seconds(col("doc_id") + 1000)), Seq("text"), "ts")
          .select("text"), rows, ckpt))
      Parquet.read(s, rows)
        .select(md5(col("text").cast("binary")).as("fp"),
          length(col("text")).cast("long").as("len"))
        .orderBy("fp")
    }, """SELECT DISTINCT md5(text) AS fp, CAST(length(text) AS BIGINT) AS len
        |FROM documents ORDER BY fp""".stripMargin),

    // -- Structured Streaming session windows (row 39) --
    // Land-and-grade for StreamOps.sessionWindowCounts: events replays
    // as a bounded stream with ONE sentinel event staged a year past the
    // data's horizon — session windows only support APPEND output (a
    // session emits exactly once, when the watermark closes it), so the
    // sentinel pushes the final watermark beyond every real session's
    // end and the closing no-data micro-batch flushes them all. The
    // sentinel's own session never closes and so never lands (it is
    // also filtered defensively). Oracle = the lag/running-sum batch
    // sessionization with session_window's >= gap break, integer
    // micros end to end.
    QuerySpec("stream_sessions", { (s, dir) =>
      import s.implicits._
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val prepped = ev.select(col("user_id"),
        timestamp_micros(EventOps.eventMicros(ev, "ts")).as("et"))
      val horizon = prepped.agg(max(unix_micros(col("et")))).head().getLong(0)
      val staged = prepped.unionAll(Seq((-1L, horizon + 365L * 86400 * 1000000))
        .toDF("user_id", "us").select(col("user_id"), timestamp_micros(col("us")).as("et")))
      val rows = StreamReplay.frame(s, dir, staged)((sig, rows, ckpt) =>
        StreamOps.writeOpsetStore(StreamOps.sessionWindowCounts(
          sig, "et", "user_id", "6 hours", "1 hour"), rows, ckpt))
      Parquet.read(s, rows)
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          unix_micros(col("session.start")).as("sess_start_us"),
          unix_micros(col("session.end")).as("sess_end_us"),
          col("n_events"))
        .orderBy("user_id", "sess_start_us")
    },
      // batch twin of session_window's gap-merge: an event strictly
      // inside the previous event's +gap horizon merges, so the break is
      // diff >= gap (the events_sessions oracle breaks on strict >);
      // session end = last event + gap, exactly the window struct's end
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
         |), b AS (
         |  SELECT user_id, event_id, tus,
         |         CASE WHEN lag(tus) OVER w IS NULL
         |                   OR tus - lag(tus) OVER w >= $SessionGapUs
         |              THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
         |), s AS (
         |  SELECT user_id, tus,
         |         sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid
         |  FROM b
         |)
         |SELECT user_id, min(tus) AS sess_start_us,
         |       max(tus) + $SessionGapUs AS sess_end_us,
         |       CAST(count(*) AS BIGINT) AS n_events
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, sess_start_us""".stripMargin),

    // -- Structured Streaming HLL sketch maintenance (rows 39 + 58) --
    // Sketches.hllRegisters applies UNCHANGED to a stream: its groupBy
    // (group, bucket) → max(rho) is a stateful aggregation whose state
    // is register-bounded by construction (≤ groups × 2^p rows, ever) —
    // the defining property that makes a sketch streaming-native where
    // exact count-distinct state grows with the keys. Update-mode
    // emissions land per batch; the read-back max-fold is idempotent
    // (re-emitted registers only re-assert their max), and the final
    // estimate is the BATCH estimator over the folded registers. Oracle
    // = the same register + estimator SQL as sketch_hll.
    QuerySpec("stream_hll", { (s, dir) =>
      val rows = StreamReplay.file(s, dir, s"$dir/events.parquet")((ev, rows, ckpt) =>
        StreamOps.landUpdates(
          Sketches.hllRegisters(ev, Seq("event_type"), col("user_id"), HllP), rows, ckpt))
      val folded = Parquet.read(s, rows)
        .groupBy("event_type", "bucket")
        .agg(max(col("mj")).cast("int").as("mj"))
      Sketches.hllEstimate(folded, Seq("event_type"), HllP)
        .orderBy("event_type")
    },
      // the landed-register fold is idempotent, so the streamed sketch
      // grades against the IDENTICAL batch oracle
      hllSql),

    // -- Structured Streaming binned quantiles (rows 39 + 61) --
    // The count table that made binnedQuantiles the no-sort batch plan is
    // register-bounded state (<= groups x nBins rows) — the HLL property —
    // so it streams: fixed bounds (a static reference table) broadcast
    // onto the flow, the SAME pinned bin rule, a stateful (group, bin)
    // count in update mode over a 4-slice replay. Counts only grow, so the
    // landed-emission fold is max per (group, bin), and the final
    // estimator is the shared Stats.binnedQuantilesFromCounts — graded
    // against the IDENTICAL batch oracle as stats_quantiles_binned.
    QuerySpec("stream_quantiles", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
        .select(col("event_type"), col("value"))
      val bounds = ev.filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(min(col("value").cast("double")).as("_mn"),
          max(col("value").cast("double")).as("_mx"))
      val rows = StreamReplay.frame(s, dir, ev, slices = 4)((sig, rows, ckpt) =>
        StreamOps.landUpdates(StreamOps.streamingBinCounts(
          sig, Seq("event_type"), col("value"), bounds, QuantileBins), rows, ckpt))
      val folded = Parquet.read(s, rows)
        .groupBy("event_type", "_bin")
        .agg(max(col("_c")).as("_c"))
      Stats.binnedQuantilesFromCounts(folded, bounds,
          Seq("event_type"), QuantilePs, QuantileBins)
        .orderBy("event_type", "p")
    },
      // The streaming twin maintains the SAME register-bounded count table
      // and answers through the SAME estimator — one oracle for both.
      binnedQuantilesOracle),

    // -- Structured Streaming KMV sketch maintenance (rows 39 + 58) --
    // The corpus replays in 4 slices (4 disjoint micro-batches); each
    // batch lands its OWN bottom-k slice,
    // and the read-back kmvMerge re-truncates to the global bottom-k —
    // EXACT vs the whole-corpus sketch because bottom-k under the total
    // (md5, id) order composes over disjoint slices (the oracle-proven
    // sketch_kmv_merge property; the batches are disjoint by id since
    // each event lands once). Zero state store: ≤ k rows per (group,
    // batch) of landed artifact IS the state. Oracle = sketch_kmv's.
    QuerySpec("stream_kmv", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
        .select(col("event_type"), col("event_id"), col("value"))
      val rows = StreamReplay.frame(s, dir, ev, slices = 4)((sig, rows, ckpt) =>
        StreamOps.streamingKmv(sig, Seq("event_type"), col("event_id"), col("value"),
          KmvK, KmvSeed, rows, ckpt))
      Sketches.kmvQuantiles(
          Sketches.kmvMerge(Seq(StreamOps.readSlices(s, rows)), Seq("event_type"), KmvK),
          Seq("event_type"), QuantilePs)
        .orderBy("event_type", "p")
    },
      // the streamed landing folds to the identical whole-corpus sketch
      kmvSketchSql),

    // -- Structured Streaming exact top-k per key (rows 39 + 67) --
    // The continuous leaderboard: events_topk's exact semantics running
    // as a 4-slice stream — per-batch ≤ k-per-key slices land, the
    // read-back TopK fold IS the global top-k (top-k under a total order
    // composes over disjoint batches). Same oracle family as events_topk.
    QuerySpec("stream_topk", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("value"))
      val rows = StreamReplay.frame(s, dir, ev, slices = 4)((sig, rows, ckpt) =>
        StreamOps.streamingTopK(sig, Seq("user_id"), Seq(col("value").desc, col("event_id")), 3,
          rows, ckpt))
      graft.core.TopK.perKey(StreamOps.readSlices(s, rows),
          Seq("user_id"), Seq(col("value").desc, col("event_id")), 3)
        .orderBy("user_id", "rank")
    },
      // the streamed per-batch slices fold to the identical global top-k
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value DESC, event_id) AS rank
        |  FROM events
        |)
        |SELECT user_id, event_id, value, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin),

    // -- Structured Streaming CDC compaction (row 39) --
    // The streaming twin of events_latest: the SAME struct-max
    // aggregation runs as a stateful streaming query whose state is ONE
    // row per key by construction (the latestSnapshot/sketch property —
    // a changelog compaction never needs more), Update emissions land
    // per batch, and the read-back max-fold is idempotent. Grades
    // against the IDENTICAL batch oracle.
    QuerySpec("stream_latest", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val staged = ev.select(col("user_id"), col("event_type"),
        EventOps.eventMicros(ev, "ts").as("tus"), col("event_id"), col("value"))
      val rows = StreamReplay.frame(s, dir, staged)((sig, rows, ckpt) =>
        StreamOps.landUpdates(sig.groupBy("user_id", "event_type")
          .agg(max(struct(col("tus"), col("event_id"), col("value"))).as("_m")), rows, ckpt))
      Parquet.read(s, rows)
        .groupBy("user_id", "event_type").agg(max(col("_m")).as("_m"))
        .select(col("user_id"), col("event_type"), col("_m.tus").as("last_us"),
          col("_m.event_id").as("event_id"), col("_m.value").as("value"))
        .orderBy("user_id", "event_type")
    }, latestSql),

    // -- Structured Streaming stream-static enrichment (row 39) --
    // The stateless-enrichment claim made graded: per-record mean/sigma
    // train in BATCH (the exact-tick moment pipeline of sg_outliers),
    // broadcast-join into a bounded stream replay of the same signal,
    // and the row-local z-score filter emits in append mode — no state,
    // no watermark, the dimension-probe shape every streaming scorer
    // uses. Oracle = the identical batch sg_outliers SQL.
    QuerySpec("stream_outliers", { (s, dir) =>
      val sig = opset(s, dir).df.select(col("record"), col("t"),
        col("value").cast("double").as("value"))
      val tk = sig.withColumn("_tk", floor(col("value") * 1e6 + 0.5).cast("long"))
      val st = tk.groupBy(col("record")).agg(
        count(lit(1)).as("_n"),
        sum(col("_tk").cast("decimal(38,0)")).as("_s1"),
        sum((col("_tk").cast("decimal(38,0)") * col("_tk")).cast("decimal(38,0)")).as("_s2"))
      val mu = col("_s1").cast("double") / col("_n")
      val sd = sqrt(col("_s2").cast("double") / col("_n") - mu * mu)
      val stats = st.select(col("record"), mu.as("_mu"), sd.as("_sd"))
      val rows = StreamReplay.frame(s, dir, sig)((stream, rows, ckpt) =>
        StreamOps.writeOpsetStore(stream
          .withColumn("_tk", floor(col("value") * 1e6 + 0.5).cast("long"))
          .join(broadcast(stats), Seq("record"))
          .filter(col("_sd") > 0 && abs(col("_tk") - col("_mu")) > lit(3.0) * col("_sd"))
          .select(col("record"), col("t"), col("value"),
            round((col("_tk") - col("_mu")) / col("_sd"), 6).as("z")), rows, ckpt))
      Parquet.read(s, rows).orderBy("record", "t")
    },
      // the stream-static enrichment lands the SAME flag set
      outliersSql),

    // -- Structured Streaming interval join (row 39) --
    // Land-and-grade for StreamOps.intervalJoin: events replays as a
    // bounded one-batch stream read on both sides (clicks, views), the
    // watermarked time-range inner join runs in append mode, and with one
    // micro-batch every matched pair lands exactly once. Interval
    // arithmetic is exact micros on both [[streamEventTime]] branches,
    // and the graded surface is integer micros only. Oracle = the batch
    // self-join with the same range predicate.
    QuerySpec("stream_join", { (s, dir) =>
      val rows = StreamReplay.file(s, dir, s"$dir/events.parquet") { (ev, rows, ckpt) =>
        def side(tpe: String, prefix: String): DataFrame =
          ev.filter(col("event_type") === tpe)
            .select(col("user_id").as(s"${prefix}_user"), col("event_id").as(s"${prefix}_id"),
              streamEventTime(ev.schema, "stream_join").as(s"${prefix}_et"))
        val joined = StreamOps.intervalJoin(
            side("click", "c"), side("view", "v"),
            col("c_user") === col("v_user"), "c_et", "v_et",
            JoinLookback, "1 hour")
          .select(col("c_id").as("click_id"), col("v_id").as("view_id"),
            (unix_micros(col("c_et")) - unix_micros(col("v_et"))).as("delay_us"))
        StreamOps.writeOpsetStore(joined, rows, ckpt)
      }
      Parquet.read(s, rows).orderBy("click_id", "view_id")
    },
      // batch twin of the watermarked interval join: same range
      // predicate on truncated-to-micros event times (both ts vintages)
      s"""SELECT c.event_id AS click_id, v.event_id AS view_id,
         |       epoch_us(c.ts) - epoch_us(v.ts) AS delay_us
         |FROM events c JOIN events v
         |  ON c.user_id = v.user_id
         | AND c.event_type = 'click' AND v.event_type = 'view'
         | AND epoch_us(v.ts) <= epoch_us(c.ts)
         | AND epoch_us(v.ts) >= epoch_us(c.ts) - $JoinLookbackUs
         |ORDER BY click_id, view_id""".stripMargin),

    // -- Structured Streaming running argmax (row 39) --
    // Land-and-grade for StreamOps.runningArgmax: the canonical opset
    // signal frame (record, t, value) — batch-prepared so stream and
    // oracle agree on the t ordering — replays as a bounded stream, the
    // per-record flatMapGroupsWithState detector emits its running
    // (instant, best) in Update mode, and with ONE micro-batch each
    // record's single emission IS its full-data argmax. The fold is
    // iteration-order-independent (max value, min t on ties), so the
    // grade is deterministic regardless of staged file count or order;
    // oracle = batch argmax per record.
    QuerySpec("stream_argmax", { (s, dir) =>
      import s.implicits._
      val sig = opset(s, dir).df.select(col("record"), col("t"),
        col("value").cast("double").as("value"))
      val rows = StreamReplay.frame(s, dir, sig)((stream, rows, ckpt) =>
        StreamOps.landUpdates(StreamOps.runningArgmax(stream.as[StreamOps.SigEvent])
          .toDF("record", "instant", "best"), rows, ckpt))
      Parquet.read(s, rows)
        .select(col("record"), col("instant"), round(col("best"), 6).as("best"))
        .orderBy("record")
    },
      // batch twin of the streaming detector's final state: per record the
      // max value, first-occurrence (min t) on exact ties, 0-based instant
      s"""WITH $OpsetCte, mx AS (
         |  SELECT record, max(value) AS mv FROM opset GROUP BY record
         |)
         |SELECT o.record, CAST(min(o.t) - 1 AS BIGINT) AS instant,
         |       round(max(o.value), 6) AS best
         |FROM opset o JOIN mx m ON o.record = m.record AND o.value = m.mv
         |GROUP BY o.record
         |ORDER BY o.record""".stripMargin),
  )
}
