package graft.queries

import org.apache.spark.sql.functions._

import graft.analysis.{Sketches, Stats}
import graft.core.Parquet
import graft.events.EventOps
import Shared._

/** Batch event analytics (row 56) and statistics: top-k, quantiles,
  * winsorizing and scaling, histograms, the HLL sketch, the star join and
  * the OLAP rollup.
  */
object EventQueries {

  private val FunnelSteps = Seq("view", "click", "purchase")

  // stats_histogram bucket count: interior boundaries at i/8 are exact
  // binary fractions, so the two engines' p·(n−1) ranks agree bit-for-bit.
  private val HistBuckets = 8

  val specs: Seq[QuerySpec] = Seq(
    // -- batch event analytics (row 56) --
    QuerySpec("events_sessions", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      EventOps.sessionize(ev, "user_id", EventOps.eventMicros(ev, "ts"),
          "event_id", SessionGapUs)
        .orderBy("user_id", "session_id")
    },
      // integer epoch-micros end to end (epoch_us reads both ts
      // vintages, the stream_counts precedent); ORDER BY (tus, event_id)
      // is a UNIQUE ordering, so DuckDB's default RANGE frame on the
      // running sum equals the Spark side's explicit ROWS frame
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
         |), b AS (
         |  SELECT user_id, event_id, tus,
         |         CASE WHEN lag(tus) OVER w IS NULL
         |                   OR tus - lag(tus) OVER w > $SessionGapUs
         |              THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
         |), s AS (
         |  SELECT user_id, tus,
         |         sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid
         |  FROM b
         |)
         |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       min(tus) AS start_us, max(tus) AS end_us,
         |       max(tus) - min(tus) AS dur_us
         |FROM s GROUP BY user_id, sid ORDER BY user_id, session_id""".stripMargin),

    QuerySpec("events_funnel", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      EventOps.funnel(ev, "user_id", EventOps.eventMicros(ev, "ts"),
          "event_type", FunnelSteps)
        .orderBy("user_id")
    }, {
      val Seq(s1, s2, s3) = FunnelSteps
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
         |), f1 AS (
         |  SELECT *, min(CASE WHEN event_type = '$s1' THEN tus END)
         |              OVER (PARTITION BY user_id) AS t_$s1 FROM e
         |), f2 AS (
         |  SELECT *, min(CASE WHEN event_type = '$s2' AND tus > t_$s1 THEN tus END)
         |              OVER (PARTITION BY user_id) AS t_$s2 FROM f1
         |), f3 AS (
         |  SELECT *, min(CASE WHEN event_type = '$s3' AND tus > t_$s2 THEN tus END)
         |              OVER (PARTITION BY user_id) AS t_$s3 FROM f2
         |)
         |SELECT user_id, t_$s1, t_$s2, t_$s3,
         |       CAST(CASE WHEN t_$s3 IS NOT NULL THEN 3
         |                 WHEN t_$s2 IS NOT NULL THEN 2
         |                 WHEN t_$s1 IS NOT NULL THEN 1
         |                 ELSE 0 END AS BIGINT) AS reached
         |FROM (
         |  SELECT user_id, min(t_$s1) AS t_$s1, min(t_$s2) AS t_$s2,
         |         min(t_$s3) AS t_$s3
         |  FROM f3 GROUP BY user_id
         |) ORDER BY user_id""".stripMargin
    }),

    QuerySpec("events_retention", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      EventOps.retention(ev, "user_id", EventOps.eventMicros(ev, "ts"))
        .orderBy("cohort_day", "day_offset")
    },
      // integer epoch-DAY indexes (micros div 86400e6), the same exact-
      // BIGINT surface as the other events_* rows
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
        |), f AS (
        |  SELECT user_id, min(d) AS c0 FROM e GROUP BY user_id
        |), cell AS (
        |  SELECT DISTINCT e.user_id, f.c0 AS cohort_day, e.d - f.c0 AS day_offset
        |  FROM e JOIN f USING (user_id)
        |)
        |SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM cell GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin),

    // -- Generic two-phase top-k per key (row 67) --
    QuerySpec("events_topk", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      graft.core.TopK.perKey(
          ev.select(col("user_id"), col("event_id"), col("value")),
          Seq("user_id"), Seq(col("value").desc, col("event_id")), 3)
        .orderBy("user_id", "rank")
    },
      // the single-window form IS the semantics; the Spark side's
      // two-phase plan must reproduce it row-for-row
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value DESC, event_id) AS rank
        |  FROM events
        |)
        |SELECT user_id, event_id, value, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin),

    QuerySpec("events_latest", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      EventOps.latestSnapshot(ev, Seq("user_id", "event_type"),
          EventOps.eventMicros(ev, "ts"), "event_id", Seq("value"))
        .orderBy("user_id", "event_type")
    }, latestSql),

    // -- Exact pinned-formula quantiles (row 62) --
    QuerySpec("stats_quantiles", { (s, dir) =>
      Stats.quantiles(Parquet.read(s, s"$dir/events.parquet"),
          Seq("event_type"), col("value"), QuantilePs)
        .orderBy("event_type", "p")
    }, {
      // the pinned type-7 interpolation, evaluated in the identical
      // operation order: rank = p*(n-1), a + (b-a)*frac, round 6
      val psList = QuantilePs.mkString("[", ", ", "]")
      s"""WITH v AS (
         |  SELECT event_type AS g, value AS x FROM events WHERE value IS NOT NULL
         |), s AS (
         |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM v
         |), n AS (
         |  SELECT g, count(*) AS n FROM v GROUP BY g
         |), ps AS (
         |  SELECT unnest($psList) AS p
         |), c AS (
         |  SELECT s.g, ps.p, s.x, s.i,
         |         floor(ps.p * (n.n - 1)) AS lo,
         |         ps.p * (n.n - 1) - floor(ps.p * (n.n - 1)) AS frac
         |  FROM s JOIN n USING (g) CROSS JOIN ps
         |  WHERE s.i = floor(ps.p * (n.n - 1)) OR s.i = floor(ps.p * (n.n - 1)) + 1
         |)
         |SELECT g AS event_type, p,
         |       round(min(CASE WHEN i = lo THEN x END) +
         |             (coalesce(min(CASE WHEN i = lo + 1 THEN x END),
         |                       min(CASE WHEN i = lo THEN x END))
         |              - min(CASE WHEN i = lo THEN x END)) * min(frac), 6) AS q
         |FROM c GROUP BY g, p ORDER BY event_type, p""".stripMargin
    }),

    // The documented approximate swap, graded in its own right: the
    // pinned binned estimator (no per-group sort anywhere — two
    // map-combined scans) against the identical formula in DuckDB.
    // stats_quantiles above stays the exactness-premium option.
    QuerySpec("stats_quantiles_binned", { (s, dir) =>
      Stats.binnedQuantiles(Parquet.read(s, s"$dir/events.parquet"),
          Seq("event_type"), col("value"), QuantilePs, QuantileBins)
        .orderBy("event_type", "p")
    }, binnedQuantilesOracle),

    // Weighted quantiles (row 61 family): the importance-mass threshold
    // primitive. Weight re-derived from event_id so the oracle replays it;
    // ticks keep every cumulative integer-exact.
    QuerySpec("stats_wquantiles", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      Stats.weightedQuantiles(ev, Seq("event_type"), col("value"),
          (col("event_id") % 7 + 1).cast("double"), QuantilePs)
        .orderBy("event_type", "p")
    }, {
      // the bin-free DEFINITION of the weighted quantile (graft's bins are
      // a plan device, not semantics): per-value tick sums, integer
      // cumulative, q = min value whose mass reaches max(p*W, 1)
      val psList = QuantilePs.mkString("[", ", ", "]")
      s"""WITH v AS (
         |  SELECT event_type AS g, CAST(value AS DOUBLE) AS x,
         |         CAST(round(CAST(event_id % 7 + 1 AS DOUBLE) * 1000000) AS BIGINT) AS wt
         |  FROM events WHERE value IS NOT NULL
         |), a AS (
         |  SELECT g, x, sum(wt) AS cv FROM v GROUP BY g, x
         |), c AS (
         |  SELECT g, x, sum(cv) OVER (PARTITION BY g ORDER BY x) AS cum,
         |         sum(cv) OVER (PARTITION BY g) AS W
         |  FROM a
         |), t AS (
         |  SELECT c.*, p FROM c CROSS JOIN (SELECT unnest($psList) AS p) ps
         |)
         |SELECT g AS event_type, p, round(min(x), 6) AS q
         |FROM t
         |WHERE W > 0 AND CAST(cum AS DOUBLE) >= greatest(p * CAST(W AS DOUBLE), 1.0)
         |GROUP BY g, p ORDER BY event_type, p""".stripMargin
    }),

    // Winsorization (row 61 family): per-group [p5, p95] clip — the
    // standard pre-training outlier clip, bounds from the exact two-pass
    // quantiles, clip via one broadcast join (the corpus never shuffles).
    QuerySpec("stats_winsorize", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
        .select("event_id", "event_type", "value")
      Stats.winsorize(ev, Seq("event_type"), col("value"), "value_w", 0.05, 0.95)
        .select(col("event_id"), col("event_type"), round(col("value_w"), 6).as("value_w"))
        .orderBy("event_id")
    },
      // the type-7 bound CTE (identical to stats_quantiles) pivoted to
      // (qlo, qhi), then the identical null-gated clip
      s"""WITH v AS (
         |  SELECT event_type AS g, value AS x FROM events WHERE value IS NOT NULL
         |), s AS (
         |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM v
         |), n AS (
         |  SELECT g, count(*) AS n FROM v GROUP BY g
         |), ps AS (
         |  SELECT unnest([0.05, 0.95]) AS p
         |), c AS (
         |  SELECT s.g, ps.p, s.x, s.i,
         |         floor(ps.p * (n.n - 1)) AS lo,
         |         ps.p * (n.n - 1) - floor(ps.p * (n.n - 1)) AS frac
         |  FROM s JOIN n USING (g) CROSS JOIN ps
         |  WHERE s.i = floor(ps.p * (n.n - 1)) OR s.i = floor(ps.p * (n.n - 1)) + 1
         |), q AS (
         |  SELECT g, p,
         |         round(min(CASE WHEN i = lo THEN x END) +
         |               (coalesce(min(CASE WHEN i = lo + 1 THEN x END),
         |                         min(CASE WHEN i = lo THEN x END))
         |                - min(CASE WHEN i = lo THEN x END)) * min(frac), 6) AS q
         |  FROM c GROUP BY g, p
         |), b AS (
         |  SELECT g, min(CASE WHEN p = 0.05 THEN q END) AS qlo,
         |         max(CASE WHEN p = 0.95 THEN q END) AS qhi
         |  FROM q GROUP BY g
         |)
         |SELECT e.event_id, e.event_type,
         |       CASE WHEN e.value IS NOT NULL
         |            THEN round(least(greatest(CAST(e.value AS DOUBLE), b.qlo), b.qhi), 6)
         |       END AS value_w
         |FROM events e JOIN b ON b.g = e.event_type
         |ORDER BY e.event_id""".stripMargin),

    // Robust scaling (row 61 family): (v - median)/IQR per group — the
    // outlier-insensitive standardization; zero-IQR groups yield NULL
    // (pinned 0/0 convention).
    QuerySpec("stats_robust_scale", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
        .select("event_id", "event_type", "value")
      Stats.robustScale(ev, Seq("event_type"), col("value"), "value_r")
        .select(col("event_id"), col("event_type"), col("value_r"))
        .orderBy("event_id")
    },
      // the type-7 [p25, p50, p75] CTE pivoted, then the identical
      // zero-IQR-gated scaling
      s"""WITH v AS (
         |  SELECT event_type AS g, value AS x FROM events WHERE value IS NOT NULL
         |), s AS (
         |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM v
         |), n AS (
         |  SELECT g, count(*) AS n FROM v GROUP BY g
         |), ps AS (
         |  SELECT unnest([0.25, 0.5, 0.75]) AS p
         |), c AS (
         |  SELECT s.g, ps.p, s.x, s.i,
         |         floor(ps.p * (n.n - 1)) AS lo,
         |         ps.p * (n.n - 1) - floor(ps.p * (n.n - 1)) AS frac
         |  FROM s JOIN n USING (g) CROSS JOIN ps
         |  WHERE s.i = floor(ps.p * (n.n - 1)) OR s.i = floor(ps.p * (n.n - 1)) + 1
         |), q AS (
         |  SELECT g, p,
         |         round(min(CASE WHEN i = lo THEN x END) +
         |               (coalesce(min(CASE WHEN i = lo + 1 THEN x END),
         |                         min(CASE WHEN i = lo THEN x END))
         |                - min(CASE WHEN i = lo THEN x END)) * min(frac), 6) AS q
         |  FROM c GROUP BY g, p
         |), b AS (
         |  SELECT g, min(CASE WHEN p = 0.25 THEN q END) AS q1,
         |         min(CASE WHEN p = 0.5 THEN q END) AS med,
         |         max(CASE WHEN p = 0.75 THEN q END) AS q3
         |  FROM q GROUP BY g
         |)
         |SELECT e.event_id, e.event_type,
         |       CASE WHEN e.value IS NOT NULL AND b.q3 <> b.q1
         |            THEN round((CAST(e.value AS DOUBLE) - b.med) / (b.q3 - b.q1), 6)
         |       END AS value_r
         |FROM events e JOIN b ON b.g = e.event_type
         |ORDER BY e.event_id""".stripMargin),

    // -- Equi-depth histogram / quantile binning (row 61) --
    // Pinned interior boundaries (i/8 — exact binary fractions), pinned
    // up-on-tie bucket rule, broadcast boundary assignment: the corpus
    // shuffles only for the final (group, bucket) count.
    QuerySpec("stats_histogram", { (s, dir) =>
      Stats.equiDepthHistogram(Parquet.read(s, s"$dir/events.parquet"),
          Seq("event_type"), col("value"), HistBuckets)
        .orderBy("event_type", "bucket")
    }, {
      // interior boundaries re-derived with the identical pinned formula,
      // then the pinned up-on-tie bucket rule: bucket = #{q_j : x >= q_j}
      val psList = (1 until HistBuckets).map(_.toDouble / HistBuckets)
        .mkString("[", ", ", "]")
      s"""WITH v AS (
         |  SELECT event_type AS g, value AS x FROM events WHERE value IS NOT NULL
         |), s AS (
         |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i FROM v
         |), n AS (
         |  SELECT g, count(*) AS n FROM v GROUP BY g
         |), ps AS (
         |  SELECT unnest($psList) AS p
         |), c AS (
         |  SELECT s.g, ps.p, s.x, s.i,
         |         floor(ps.p * (n.n - 1)) AS lo,
         |         ps.p * (n.n - 1) - floor(ps.p * (n.n - 1)) AS frac
         |  FROM s JOIN n USING (g) CROSS JOIN ps
         |  WHERE s.i = floor(ps.p * (n.n - 1)) OR s.i = floor(ps.p * (n.n - 1)) + 1
         |), bounds AS (
         |  SELECT g, p,
         |         round(min(CASE WHEN i = lo THEN x END) +
         |               (coalesce(min(CASE WHEN i = lo + 1 THEN x END),
         |                         min(CASE WHEN i = lo THEN x END))
         |                - min(CASE WHEN i = lo THEN x END)) * min(frac), 6) AS q
         |  FROM c GROUP BY g, p
         |), vals AS (
         |  SELECT g, x, count(*) AS cnt FROM v GROUP BY g, x
         |), asg AS (
         |  SELECT vals.g, vals.x, vals.cnt, count(b.q) AS bucket
         |  FROM vals LEFT JOIN bounds b ON b.g = vals.g AND vals.x >= b.q
         |  GROUP BY vals.g, vals.x, vals.cnt
         |)
         |SELECT g AS event_type, CAST(bucket AS BIGINT) AS bucket,
         |       CAST(sum(cnt) AS BIGINT) AS n,
         |       round(min(x), 6) AS lo, round(max(x), 6) AS hi
         |FROM asg GROUP BY g, bucket
         |ORDER BY event_type, bucket""".stripMargin
    }),

    // -- Deterministic HLL distinct-count sketch (row 58) --
    QuerySpec("sketch_hll", { (s, dir) =>
      Sketches.hll(Parquet.read(s, s"$dir/events.parquet"),
          Seq("event_type"), col("user_id"), HllP)
        .orderBy("event_type")
    }, hllSql),

    // -- Star-schema join: revenue by region x order-year (row 66) --
    // The canonical OLAP shape Catalyst exists for: two broadcast dims
    // (nation, region) reach the fact chain shuffle-free, the fact-side
    // joins co-shuffle on their keys, and revenue quantizes to exact
    // 1e-4 ticks PER ROW before the integer sum (float revenue sums in
    // shuffle order and cannot be hash-graded).
    QuerySpec("star_join", { (s, dir) =>
      val li = Parquet.read(s, s"$dir/lineitem.parquet")
      val o = Parquet.read(s, s"$dir/orders.parquet")
      val c = Parquet.read(s, s"$dir/customer.parquet")
      val n = Parquet.read(s, s"$dir/nation.parquet")
      val r = Parquet.read(s, s"$dir/region.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          (sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1e4 + 0.5))
            / 1e4).as("revenue"))
        .orderBy("r_name", "o_year")
    }, """SELECT r.r_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, year(o.o_orderdate)
        |ORDER BY r_name, o_year""".stripMargin),

    // -- OLAP rollup: event counts at three granularities (row 66) --
    QuerySpec("events_rollup", { (s, dir) =>
      val ev = Parquet.read(s, s"$dir/events.parquet")
      // integer `div`, never `/`: long/long is DOUBLE division in Spark,
      // and float rounding could bump the truncated quotient across a day
      // boundary once day indexes grow past the double mantissa's exact
      // range — the surface stays pure integer arithmetic end to end
      // (same recipe as events_retention).
      ev.withColumn("_tus", EventOps.eventMicros(ev, "ts"))
        .withColumn("day", expr("_tus div 86400000000"))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 1e6 + 0.5)) / 1e6).as("sum_value"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("event_type"), col("day"))
    },
      // GROUPING() bitmask matches Spark's grouping_id() bit order
      """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / 1000000.0 AS sum_value,
        |       CAST(GROUPING(event_type, epoch_us(ts) // 86400000000) AS BIGINT) AS gid
        |FROM events
        |GROUP BY ROLLUP (event_type, epoch_us(ts) // 86400000000)
        |ORDER BY gid, event_type, day""".stripMargin),
  )
}
