package graft.queries

import org.apache.spark.sql.functions._

import graft.analysis.Sketches
import graft.core.{Parquet, Profile, RangeJoin, Scratch}
import graft.events.EventOps
import Shared._

/** Tables: the WARC and JSONL sources, salted/range/interval/as-of
  * joins, the z-order key, the sketches and their merges, and table
  * profiling.
  */
object TableQueries {

  /** Lineitem columns × profile kind, name-sorted like the Spark side's
    * schema sort; drives [[profileSql]].
    */
  private val ProfileCols: Seq[(String, String)] = Seq(
    "l_discount" -> "num", "l_extendedprice" -> "num", "l_linenumber" -> "num",
    "l_linestatus" -> "str", "l_orderkey" -> "num", "l_partkey" -> "num",
    "l_quantity" -> "num", "l_returnflag" -> "str", "l_shipdate" -> "ts",
    "l_suppkey" -> "num", "l_tax" -> "num")

  /** DuckDB twin of the count-min sketch build + probe — shared by
    * `sketch_cms` (whole-corpus weighted build) and `sketch_cms_merge`
    * (disjoint-half counters merged by sum, == the whole build by
    * construction): d count arms over events union into the counter
    * table; the probe re-addresses each row's counter and takes the
    * least — all exact integer arithmetic on md5-prefix hashes.
    */
  private def cmsSketchSql: String = {
    def pos(keyExpr: String, j: Int) =
      s"(CAST(concat('0x', substr(md5(concat(CAST($keyExpr AS VARCHAR), '#$j')), 1, 8)) AS BIGINT) % $CmsWidth)"
    val arms = (0 until CmsDepth).map(j =>
      s"SELECT $j AS row, ${pos("user_id", j)} AS col FROM events").mkString("\n  UNION ALL\n  ")
    val joins = (0 until CmsDepth).map(j =>
      s"LEFT JOIN cnt b$j ON b$j.row = $j AND ${pos("u.user_id", j)} = b$j.col").mkString("\n")
    val est = (0 until CmsDepth).map(j => s"coalesce(b$j.cnt, 0)").mkString("least(", ", ", ")")
    s"""WITH inst AS (
       |  $arms
       |), cnt AS (
       |  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM inst GROUP BY row, col
       |), u AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_true FROM events GROUP BY user_id
       |)
       |SELECT u.user_id, u.n_true, CAST($est AS BIGINT) AS est
       |FROM u
       |$joins
       |ORDER BY u.user_id""".stripMargin
  }

  /** DuckDB twin of the Bloom word table + k probe arms — shared by
    * `sketch_bloom` (whole build) and `sketch_bloom_union` (disjoint-half
    * word tables merged by bit_or, == the whole build): every operation
    * is exact integer arithmetic on md5-prefix hashes.
    */
  private def bloomSketchSql: String = {
    def pos(keyExpr: String, i: Int) =
      s"(CAST(concat('0x', substr(md5(concat(CAST($keyExpr AS VARCHAR), ':$i')), 1, 8)) AS BIGINT) % $BloomBits)"
    val buildArms = (0 until BloomK).map(i => pos("o_custkey", i)).mkString(", ")
    val joins = (0 until BloomK).map(i =>
      s"LEFT JOIN w b$i ON ${pos("c.c_custkey", i)} // 32 = b$i.word_idx").mkString("\n")
    val hits = (0 until BloomK).map { i =>
      val m = s"(CAST(1 AS BIGINT) << CAST(${pos("c.c_custkey", i)} % 32 AS INTEGER))"
      s"(b$i.bits IS NOT NULL AND (b$i.bits & $m) = $m)"
    }.mkString("\n       AND ")
    s"""WITH bp AS (
       |  SELECT unnest([$buildArms]) AS p FROM orders
       |), w AS (
       |  SELECT p // 32 AS word_idx,
       |         CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS BIGINT) AS bits
       |  FROM bp GROUP BY p // 32
       |)
       |SELECT c.c_custkey, $hits AS may_contain
       |FROM customer c
       |$joins
       |ORDER BY c.c_custkey""".stripMargin
  }

  /** One UNION ALL branch per profiled column — the DuckDB twin of
    * [[Profile.profile]]'s unpivoted single-pass aggregation (numeric
    * bounds as rounded doubles, timestamps as epoch micros, string
    * bounds as lengths).
    */
  private def profileSql: String =
    ProfileCols.map { case (c, kind) =>
      val (minN, maxN) = kind match {
        case "num" => (s"round(CAST(min($c) AS DOUBLE), 6)", s"round(CAST(max($c) AS DOUBLE), 6)")
        case "ts" => (s"round(CAST(min(epoch_us($c)) AS DOUBLE), 6)",
          s"round(CAST(max(epoch_us($c)) AS DOUBLE), 6)")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      val (minL, maxL) =
        if (kind == "str") (s"CAST(min(length($c)) AS BIGINT)", s"CAST(max(length($c)) AS BIGINT)")
        else ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)")
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  $minN AS min_num, $maxN AS max_num,
         |  $minL AS min_len, $maxL AS max_len
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  /** DuckDB twin of [[Profile.profileApprox]] (p=9): per column, the
    * pinned canonical hash string (numerics as 1e-6 tick longs,
    * timestamps as epoch micros, strings as themselves), the exact
    * hllSql register derivation, and the estimator with the same 1e-6
    * quantization — one UNION ALL arm per profiled column.
    */
  private def profileApproxSql: String = {
    val a = Sketches.alphaNumerator(9)
    ProfileCols.map { case (c, kind) =>
      val canon = kind match {
        case "num" => s"CAST(CAST(floor($c * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)"
        case "ts" => s"CAST(epoch_us($c) AS VARCHAR)"
        case _ => c
      }
      val (minN, maxN) = kind match {
        case "num" => (s"round(CAST(min($c) AS DOUBLE), 6)", s"round(CAST(max($c) AS DOUBLE), 6)")
        case "ts" => (s"round(CAST(min(epoch_us($c)) AS DOUBLE), 6)",
          s"round(CAST(max(epoch_us($c)) AS DOUBLE), 6)")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      val (minL, maxL) =
        if (kind == "str") (s"CAST(min(length($c)) AS BIGINT)", s"CAST(max(length($c)) AS BIGINT)")
        else ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)")
      s"""SELECT '$c' AS "column", b.n_rows, b.n_null,
         |  CASE WHEN s.zeros > 0 AND $a / s.s_fixed <= 1280.0
         |       THEN floor(512.0 * ln(512.0 / s.zeros) * 1000000.0 + 0.5) / 1000000.0
         |       ELSE floor($a / s.s_fixed * 1000000.0 + 0.5) / 1000000.0 END AS distinct_est,
         |  b.min_num, b.max_num, b.min_len, b.max_len
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |         $minN AS min_num, $maxN AS max_num,
         |         $minL AS min_len, $maxL AS max_len
         |  FROM lineitem) b
         |CROSS JOIN (
         |  SELECT CAST(512 - count(*) AS BIGINT) AS zeros,
         |         coalesce(sum(CAST(1 AS BIGINT) << (24 - mj)), 0)
         |           + (512 - count(*)) * 16777216 AS s_fixed
         |  FROM (
         |    SELECT hv >> 23 AS bucket,
         |           max(CASE WHEN hv & 8388607 = 0 THEN 24
         |                    ELSE 24 - length(bin(hv & 8388607)) END) AS mj
         |    FROM (SELECT CAST(concat('0x', substr(md5($canon), 1, 8)) AS BIGINT) AS hv
         |          FROM lineitem WHERE $c IS NOT NULL)
         |    GROUP BY bucket)) s""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  // Count-min geometry shared by the sketch_cms query/oracle: 256x4
  // over 150-15k users -> real collisions at the larger SFs (the
  // overestimate guarantee is exercised, not vacuous).
  private val CmsWidth = 256
  private val CmsDepth = 4

  // Z-order geometry shared by the layout_zorder query/oracle: 8 bits
  // per column over (l_partkey, l_suppkey).
  private val ZBits = 8
  private val ZCols = Seq("l_partkey", "l_suppkey")

  // Bloom-filter geometry shared by the sketch_bloom query/oracle:
  // 2^14 bits / 4 hashes over ~1k build keys -> fp rate ~ (k*n/m)^k well
  // under 1%, so the probe output contains real negatives AND real
  // positives at every graded SF.
  private val BloomBits = 16384
  private val BloomK = 4

  // Incident-window length shared by the join_range query/oracle: 10 min
  // windows anchored at every 'error' event, so window density (and with
  // it the per-window point count) scales with SF on both sides.
  private val RangeWinUs = 600000000L

  // join_interval: purchase attribution windows reach 5 min BACK from
  // each purchase; overlap with the 10-min error windows above asks
  // "which purchases were decided while an incident was live".
  private val AttrWinUs = 300000000L

  // join_asof: a click enriches with the user's latest purchase at most
  // 6 h old — long enough for real matches at sf0.001's event density,
  // short enough that staleness gating actually fires.
  private val AsofTolUs = 21600000000L

  val specs: Seq[QuerySpec] = Seq(
    // -- JSONL corpus source round-trip (row 64) --
    // documents egress as JSON lines, re-ingest under the ENFORCED
    // schema with two corrupt lines injected (malformed JSON + a
    // type-violating doc_id) — the good side must round-trip exactly
    // and the quarantine must absorb the rest (count pinned by spec).
    // -- WARC/WET record extraction (row 72) --
    // The crawl-side ingest head: docs wrap as WET conversion records
    // (deterministic URIs; doc_id%11 records declare a WRONG
    // Content-Length and must surface ok=false), concatenate 8 records
    // per blob in doc_id order, and the operator splits + parses them
    // back. Oracle = the closed-form record table.
    QuerySpec("source_warc", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      val uri = concat(lit("https://site"), col("doc_id").cast("string"), lit("/doc"))
      val declared = when(col("doc_id") % 11 === 0, octet_length(col("text")) + 1)
        .otherwise(octet_length(col("text")))
      val rec = graft.sources.Warc.record(uri, col("text"), Some(declared))
      val blobs = docs
        .select((col("doc_id") / 8).cast("long").as("g"),
          struct(col("doc_id"), rec.as("r")).as("sr"))
        .groupBy("g")
        .agg(array_join(transform(sort_array(collect_list(col("sr"))),
          s => s.getField("r")), "").as("blob"))
      graft.sources.Warc.extractRecords(blobs.select("blob"), "blob")
        .withColumn("doc_id",
          regexp_extract(col("uri"), "site([0-9]+)/", 1).cast("long"))
        .select("doc_id", "uri", "ok", "payload")
        .orderBy("doc_id")
    },
      // Closed-form ground truth of the WET wrap: extraction must recover
      // every record with its exact payload; the %11 wrong-length records
      // flag ok=false (payload still recovered — framing is the magic
      // line, Content-Length is verification only).
      """SELECT doc_id,
        |  'https://site' || CAST(doc_id AS VARCHAR) || '/doc' AS uri,
        |  doc_id % 11 <> 0 AS ok,
        |  text AS payload
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("source_jsonl", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      val corpus = s"${Scratch(s, dir).dir("jsonl-")}/corpus"
      graft.sources.TextCorpus.writeJsonl(docs, corpus)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(corpus, "part-corrupt.txt"),
        "{not json\n{\"doc_id\": \"xyz\"}\n".getBytes("UTF-8"))
      val (good, _) = graft.sources.TextCorpus.readJsonl(s, corpus, docs.schema)
      good.orderBy("doc_id")
    },
      // the round-trip identity: everything that left parquet comes back
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // -- Salted skew join: result-identical rewrite (row 27 sibling) --
    QuerySpec("join_salted", { (s, dir) =>
      val li = Parquet.read(s, s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val ord = Parquet.read(s, s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      graft.core.Salting.skewJoin(li, ord, Seq("l_orderkey"),
          Seq(col("l_orderkey"), col("l_linenumber")), salts = 8)
        .orderBy("l_orderkey", "l_linenumber")
    },
      // the whole point: the salted plan must be indistinguishable from
      // the plain join at the result level
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // -- Z-order layout key (row 63) --
    QuerySpec("layout_zorder", { (s, dir) =>
      graft.sources.Layout.zorderByRange(
          Parquet.read(s, s"$dir/lineitem.parquet"), ZCols, ZBits)
        .select(col("l_orderkey"), col("l_linenumber"), col("z_key"))
        .orderBy("l_orderkey", "l_linenumber")
    }, {
      // identical exact-integer pipeline: range quantization by scalar
      // min/max, then the bit-interleave as a sum of disjoint-bit terms
      val m = 1L << ZBits
      val q = ZCols.zipWithIndex.map { case (c, i) =>
        s"(((($c) - s.mn$i) * $m) // (s.mx$i - s.mn$i + 1)) AS q$i"
      }.mkString(",\n       ")
      val statSel = ZCols.zipWithIndex.map { case (c, i) =>
        s"min($c) AS mn$i, max($c) AS mx$i"
      }.mkString(", ")
      val n = ZCols.size
      val terms = (for { b <- 0 until ZBits; i <- 0 until n }
        yield s"(((q$i >> $b) & 1) << ${b * n + i})").mkString(" + ")
      s"""WITH s AS (
         |  SELECT $statSel FROM lineitem
         |), q AS (
         |  SELECT l_orderkey, l_linenumber,
         |       $q
         |  FROM lineitem CROSS JOIN s
         |)
         |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS z_key
         |FROM q ORDER BY l_orderkey, l_linenumber""".stripMargin
    }),

    // -- Deterministic count-min sketch: per-user event frequency (row 58) --
    QuerySpec("sketch_cms", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      // ONE events scan: the per-user counts feed both the weighted
      // counter build (identical counters to the per-instance form) and
      // the probe side; the cached table is user-count-sized
      val users = graft.core.CacheScope.session.cache(
        ev.groupBy("user_id").agg(count(lit(1)).as("n_true")))
      val counters = Sketches.cmsCountersWeighted(
        users, col("user_id"), col("n_true"), CmsWidth, CmsDepth)
      Sketches.cmsEstimate(users, col("user_id"), "est", counters, CmsWidth, CmsDepth)
        .orderBy("user_id")
    }, cmsSketchSql),

    // -- Deterministic Bloom filter: build on orders, probe customers (row 58) --
    QuerySpec("sketch_bloom", { (s, dir) =>
      val words = Sketches.bloomWords(Parquet.read(s, s"$dir/orders.parquet"),
        col("o_custkey"), BloomBits, BloomK)
      Sketches.bloomProbe(Parquet.read(s, s"$dir/customer.parquet").select("c_custkey"),
          col("c_custkey"), "may_contain", words, BloomBits, BloomK)
        .orderBy("c_custkey")
    }, bloomSketchSql),

    // -- Sketch MERGE paths (row 58, the incremental/multi-tenant story) --
    // Each sketch is built on two DISJOINT halves of the data and merged
    // in sketch space (HLL registers by max, Bloom words by bit_or, CMS
    // counters by sum); the oracle is the WHOLE-corpus re-derivation, so
    // a hash match proves merge == union — the property that lets
    // per-partition/per-day sketches combine without touching raw data.
    QuerySpec("sketch_hll_merge", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val halves = Seq(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0))
        .map(h => Sketches.hllRegisters(h, Seq("event_type"), col("user_id"), HllP))
      Sketches.hllEstimate(
          Sketches.hllMergeRegisters(halves, Seq("event_type")), Seq("event_type"), HllP)
        .orderBy("event_type")
    },
      // max-merged disjoint-half registers == the whole-corpus registers
      hllSql),

    QuerySpec("sketch_cms_merge", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val halves = Seq(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0))
        .map(h => Sketches.cmsCounters(h, col("user_id"), CmsWidth, CmsDepth))
      val users = ev.groupBy("user_id").agg(count(lit(1)).as("n_true"))
      Sketches.cmsEstimate(users, col("user_id"), "est",
          Sketches.cmsMerge(halves), CmsWidth, CmsDepth)
        .orderBy("user_id")
    },
      // merged disjoint-half counters grade against the identical
      // whole-corpus derivation: merge-by-sum == union by construction
      cmsSketchSql),

    QuerySpec("sketch_bloom_union", { (s, dir) =>
      val o = Parquet.read(s, s"$dir/orders.parquet")
      val halves = Seq(o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 =!= 0))
        .map(h => Sketches.bloomWords(h, col("o_custkey"), BloomBits, BloomK))
      Sketches.bloomProbe(Parquet.read(s, s"$dir/customer.parquet").select("c_custkey"),
          col("c_custkey"), "may_contain", Sketches.bloomMerge(halves), BloomBits, BloomK)
        .orderBy("c_custkey")
    },
      // bit_or-merged disjoint-half word tables == the whole-build filter
      bloomSketchSql),

    // -- KMV bottom-k sample sketch: quantile estimates (row 58) --
    // A deterministic uniform row sample (k smallest (md5, id) per group)
    // whose quantiles estimate the population's — the mergeable/streaming
    // form of stats_quantiles, graded bit-for-bit because the sample and
    // the type-7 formula are both pure functions of the ids and values.
    QuerySpec("sketch_kmv", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      Sketches.kmvQuantiles(
          Sketches.kmvSketch(ev, Seq("event_type"), col("event_id"), col("value"),
            KmvK, KmvSeed),
          Seq("event_type"), QuantilePs)
        .orderBy("event_type", "p")
    }, kmvSketchSql),

    // Merge path: halves sketched independently, merged in sketch space —
    // bit-identical to the whole-corpus sketch (bottom-k under a total
    // order composes), so the SAME oracle grades it.
    QuerySpec("sketch_kmv_merge", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val halves = Seq(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0))
        .map(h => Sketches.kmvSketch(h, Seq("event_type"), col("event_id"),
          col("value"), KmvK, KmvSeed))
      Sketches.kmvQuantiles(Sketches.kmvMerge(halves, Seq("event_type"), KmvK),
          Seq("event_type"), QuantilePs)
        .orderBy("event_type", "p")
    },
      // bottom-k re-truncation of disjoint-half samples == the whole-corpus
      // sample (total (hash, id) order), so the same SQL grades the merge
      kmvSketchSql),

    // -- Bin-bucketed range join (row 69) --
    // Incident attribution: every event joined to the 10-minute windows
    // anchored at 'error' events, aggregated per window. The BETWEEN
    // predicate becomes a shuffle equi-join on the auto-width bin key
    // (Spark's native plan for the theta-join is a nested loop);
    // DuckDB's IEJoin answers the same SQL — an engine-vs-engine read of
    // inequality-join machinery. Integer micros end to end; value sums
    // in 1e-6 ticks.
    QuerySpec("join_range", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val tus = EventOps.eventMicros(ev, "ts")
      val pts = ev.select(tus.as("p_us"), col("value").as("p_value"))
      val win = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("window_id"), tus.as("w_start"),
          (tus + lit(RangeWinUs)).as("w_end"))
      RangeJoin.pointInInterval(pts, win, col("p_us"), col("w_start"), col("w_end"))
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(floor(p_value * 1000000.0 + 0.5) AS BIGINT)")).as("value_ticks"))
        .orderBy("window_id")
    },
      // DuckDB answers the BETWEEN join with its IEJoin; graft's bin-bucket
      // rewrite must reproduce it exactly (inclusive bounds, integer micros)
      s"""WITH p AS (
         |  SELECT epoch_us(ts) AS p_us, value AS p_value FROM events
         |), w AS (
         |  SELECT event_id AS window_id, epoch_us(ts) AS w_start,
         |         epoch_us(ts) + $RangeWinUs AS w_end
         |  FROM events WHERE event_type = 'error'
         |)
         |SELECT w.window_id, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(CAST(floor(p.p_value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_ticks
         |FROM p JOIN w ON p.p_us BETWEEN w.w_start AND w.w_end
         |GROUP BY w.window_id
         |ORDER BY window_id""".stripMargin),

    // Interval-overlap twin (row 69): which purchases were decided while
    // an incident was live — 10-min error windows × 5-min purchase
    // attribution windows, canonical-bin dedup-free equi-join rewrite,
    // integer micros and 1e-6 value ticks end to end.
    QuerySpec("join_interval", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val tus = EventOps.eventMicros(ev, "ts")
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("window_id"), tus.as("w_start"),
          (tus + lit(RangeWinUs)).as("w_end"))
      val att = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          (tus - lit(AttrWinUs)).as("a_start"), tus.as("a_end"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("p_ticks"))
      // the SWEEP form (IntervalAgg.overlapStats): this query only
      // aggregates per window, so the pair set RangeJoin.intervalOverlap
      // would materialize is pure intermediate state — and the one part
      // of the plan that grows QUADRATICALLY with event density. The
      // prefix-sum identities compute the same three aggregates from
      // O(W + P) endpoint rows; intervalOverlap remains the operator for
      // callers that need the pairs themselves.
      graft.core.IntervalAgg.overlapStats(err, att, Seq("window_id"),
          col("w_start"), col("w_end"), col("a_start"), col("a_end"),
          col("p_ticks"))
        .select(col("window_id"), col("n_overlaps").as("n_purchases"),
          col("measure_sum").as("value_ticks"),
          col("overlap_len").as("overlap_us"))
        .orderBy("window_id")
    }, s"""WITH w AS (
         |  SELECT event_id AS window_id, epoch_us(ts) AS w_start,
         |         epoch_us(ts) + $RangeWinUs AS w_end
         |  FROM events WHERE event_type = 'error'
         |), a AS (
         |  SELECT event_id AS purchase_id, epoch_us(ts) - $AttrWinUs AS a_start,
         |         epoch_us(ts) AS a_end,
         |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS p_ticks
         |  FROM events WHERE event_type = 'purchase'
         |)
         |SELECT w.window_id, CAST(count(*) AS BIGINT) AS n_purchases,
         |       CAST(sum(a.p_ticks) AS BIGINT) AS value_ticks,
         |       CAST(sum(least(w.w_end, a.a_end) - greatest(w.w_start, a.a_start)) AS BIGINT) AS overlap_us
         |FROM w JOIN a ON w.w_start <= a.a_end AND a.a_start <= w.w_end
         |GROUP BY w.window_id
         |ORDER BY window_id""".stripMargin),

    // Generic backward as-of enrichment: each click carries the user's
    // latest purchase ticks at most AsofTolUs old. The union-window plan
    // (NO join — one exchange on user_id) grades against DuckDB's NATIVE
    // ASOF LEFT JOIN, two independent formulations of the semantics.
    QuerySpec("join_asof", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val tus = EventOps.eventMicros(ev, "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), tus.as("tus"))
      // contract: one right sample per (key, time) — equal-time purchases
      // collapse to the max-event_id winner (struct max, id leads)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), tus.as("p_us"),
          col("event_id").as("p_eid"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("ticks"))
        .groupBy("p_user", "p_us")
        .agg(max(struct(col("p_eid"), col("ticks"))).as("_m"))
        .select(col("p_user").as("user_id"), col("p_us"),
          col("_m.ticks").as("ticks"))
      EventOps.asofJoin(clicks, pur, Seq("user_id"), col("tus"), col("p_us"),
          Seq("ticks"), AsofTolUs)
        .select(col("event_id"), col("user_id"), col("tus"),
          col("ticks_ref"), (col("tus") - col("t_ref")).as("age_us"))
        .orderBy("event_id")
    },
      // DuckDB's NATIVE ASOF LEFT JOIN vs graft's union-window plan — the
      // tolerance gate applied identically after the latest-match pick
      // (any earlier sample is older still, so gating after == gating
      // inside)
      s"""WITH l AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus
         |  FROM events WHERE event_type = 'click'
         |), p0 AS (
         |  SELECT user_id, epoch_us(ts) AS p_us,
         |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS ticks,
         |         row_number() OVER (PARTITION BY user_id, epoch_us(ts)
         |                            ORDER BY event_id DESC) AS rn
         |  FROM events WHERE event_type = 'purchase'
         |), p AS (
         |  SELECT user_id, p_us, ticks FROM p0 WHERE rn = 1
         |)
         |SELECT l.event_id, l.user_id, l.tus,
         |       CASE WHEN p.p_us IS NOT NULL AND l.tus - p.p_us <= $AsofTolUs
         |            THEN p.ticks END AS ticks_ref,
         |       CASE WHEN p.p_us IS NOT NULL AND l.tus - p.p_us <= $AsofTolUs
         |            THEN l.tus - p.p_us END AS age_us
         |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.tus >= p.p_us
         |ORDER BY l.event_id""".stripMargin),

    // The FORWARD twin: each click enriches with the user's NEXT purchase
    // within the tolerance — conversion attribution. Same join-free plan
    // on negated times; DuckDB's native ASOF with l.t <= r.t is the
    // independent formulation.
    QuerySpec("join_asof_fwd", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      val tus = EventOps.eventMicros(ev, "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), tus.as("tus"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), tus.as("p_us"),
          col("event_id").as("p_eid"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("ticks"))
        .groupBy("p_user", "p_us")
        .agg(max(struct(col("p_eid"), col("ticks"))).as("_m"))
        .select(col("p_user").as("user_id"), col("p_us"),
          col("_m.ticks").as("ticks"))
      EventOps.asofJoin(clicks, pur, Seq("user_id"), col("tus"), col("p_us"),
          Seq("ticks"), AsofTolUs, direction = "forward")
        .select(col("event_id"), col("user_id"), col("tus"),
          col("ticks_ref"), (col("t_ref") - col("tus")).as("lead_us"))
        .orderBy("event_id")
    }, s"""WITH l AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus
         |  FROM events WHERE event_type = 'click'
         |), p0 AS (
         |  SELECT user_id, epoch_us(ts) AS p_us,
         |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS ticks,
         |         row_number() OVER (PARTITION BY user_id, epoch_us(ts)
         |                            ORDER BY event_id DESC) AS rn
         |  FROM events WHERE event_type = 'purchase'
         |), p AS (
         |  SELECT user_id, p_us, ticks FROM p0 WHERE rn = 1
         |)
         |SELECT l.event_id, l.user_id, l.tus,
         |       CASE WHEN p.p_us IS NOT NULL AND p.p_us - l.tus <= $AsofTolUs
         |            THEN p.ticks END AS ticks_ref,
         |       CASE WHEN p.p_us IS NOT NULL AND p.p_us - l.tus <= $AsofTolUs
         |            THEN p.p_us - l.tus END AS lead_us
         |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.tus <= p.p_us
         |ORDER BY l.event_id""".stripMargin),

    // -- Schema-dynamic table profiling (row 59) --
    QuerySpec("profile_table", { (s, dir) =>
      Profile.profile(Parquet.read(s, s"$dir/lineitem.parquet"))
        .orderBy("column")
    }, profileSql),

    // The one-pass wide-table twin: per-column HLL distinct estimates
    // (pinned Sketches register contract) — register-sized shuffle
    // regardless of table width or size.
    QuerySpec("profile_table_approx", { (s, dir) =>
      Profile.profileApprox(Parquet.read(s, s"$dir/lineitem.parquet"))
        .orderBy("column")
    }, profileApproxSql),
  )
}
