package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Parquet, Scratch}
import graft.llm.{Dedup, Similarity}
import graft.streaming.{StreamOps, StreamReplay}
import Shared._

/** Similarity: SimHash, Jaccard and cosine near-dedup (rows 29-31) and
  * the ANN searches (rows 32-33) over brute force, LSH, IVF, the IVF
  * index layout and product quantization; `stream_ivf_assign` is declared
  * among the IVF queries it shares the quantizer with.
  */
object AnnQueries {

  /** IVF coarse-quantizer centroids (k = IvfK, IvfIters Lloyd rounds) per
    * sf dir, trained once and cached: FIVE ivf queries (ann_ivf,
    * ann_recall, ann_indexed, ann_indexed_append, stream_ivf_assign) each
    * deterministically train the SAME quantizer over the same corpus —
    * real usage trains it once and FREEZES it in the index artifact
    * (writeIvfIndex's `_graft_centroids.txt` doctrine). The cached value
    * is a metadata-sized driver array (k × dim doubles), dropped with the
    * session caches between bench passes like every other memoized model.
    * The oracles freeze it as literals and check the assign + probe +
    * re-rank math given the trained centroids.
    */
  private val cachedIvfCentroids = new Fitted[Array[Array[Double]]]("centroid")(
    (s, dir) => Similarity.ivfCentroids(Parquet.read(s, s"$dir/embeddings.parquet"),
      "vec_id", "embedding", k = IvfK, iters = IvfIters))

  /** The ann_ivf oracle over the frozen centroids, mirroring
    * [[Similarity.ivfTopK]]: per-(vector, centroid) scores, assignment by
    * (score DESC, index ASC), query probes by (score DESC, index DESC) —
    * the exact tiebreaks of the Spark side's struct array_sorts — then
    * exact cosine re-rank within the probed lists. ann_indexed answers the
    * SAME search through the cell-partitioned index layout, so its oracle
    * is this one; ann_indexed_append builds that layout in two batches
    * (append under the frozen centroids is result-identical by
    * construction).
    */
  private def ivfTopkOracle(cents: Array[Array[Double]]): String =
    s"""WITH $EmbCte, ${ivfChain(cents)}
       |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored
       |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin

  /** The frozen-centroid CTE chain up to the approximate score set
    * `scored`, shared by the top-k and ann_recall oracles.
    */
  private def ivfChain(cents: Array[Array[Double]]): String =
    s"""csc AS (
       |  ${centroidScoreArms(cents)}
       |), asg AS (
       |  SELECT vec_id, i AS c FROM (
       |    SELECT vec_id, i,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
       |    FROM csc
       |  ) WHERE rn = 1
       |), prb AS (
       |  SELECT vec_id AS q_id, i AS c FROM (
       |    SELECT vec_id, i,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i DESC) AS rn
       |    FROM csc WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
       |  ) WHERE rn <= $IvfProbe
       |), q AS (
       |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
       |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
       |), cand AS (
       |  SELECT p.q_id, a.vec_id
       |  FROM prb p JOIN asg a ON a.c = p.c
       |  WHERE a.vec_id <> p.q_id
       |), scored AS (
       |  SELECT c.q_id, c.vec_id,
       |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
       |  FROM cand c JOIN nrm ON nrm.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id
       |)""".stripMargin

  /** ann_recall's oracle: the IVF top-k against the exact top-k. */
  private def annRecallOracle(cents: Array[Array[Double]]): String =
    s"""WITH $EmbCte, ${ivfChain(cents)}, ivfk AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM scored
       |  ) WHERE rn <= $AnnK
       |), bscored AS (
       |  SELECT q.q_id, nrm.vec_id,
       |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
       |  FROM nrm CROSS JOIN q WHERE nrm.vec_id <> q.q_id
       |), bk AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM bscored
       |  ) WHERE rn <= $AnnK
       |)
       |SELECT b.q_id AS q_id, CAST(count(i.vec_id) AS BIGINT) AS hits,
       |       round(count(i.vec_id) / CAST($AnnK AS DOUBLE), 6) AS recall
       |FROM bk b LEFT JOIN ivfk i ON i.q_id = b.q_id AND i.vec_id = b.vec_id
       |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin

  /** stream_ivf_assign's oracle: the streamed cell-partitioned landing
    * grades against the SAME frozen-centroid assignment, projected to
    * (vec_id, cell).
    */
  private def streamIvfAssignOracle(cents: Array[Array[Double]]): String =
    s"""WITH $EmbCte, csc AS (
       |  ${centroidScoreArms(cents)}
       |)
       |SELECT vec_id, CAST(i AS BIGINT) AS cell FROM (
       |  SELECT vec_id, i,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
       |  FROM csc
       |) WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** The ann_pq oracle over the frozen PQ codebooks, mirroring
    * [[Similarity.pqTopK]] integer-exactly: per-(vector, subspace,
    * codeword) squared-L2 TICKS (the same global-index `+` chain and
    * half-up 1e-6 quantization as the Spark expressions), encode =
    * argmin (ticks ASC, codeword ASC) per (vector, subspace), ADC =
    * integer sum of the query's tick to each candidate's codeword.
    */
  private def pqOracle(books: Array[Array[Array[Double]]]): String = {
    val d = books(0)(0).length
    val arms = (for {
      j <- books.indices
      (c, i) <- books(j).zipWithIndex
    } yield {
      val dexpr = (0 until d).map { dd =>
        val g = j * d + dd + 1
        s"(v[$g] - (${c(dd)})) * (v[$g] - (${c(dd)}))"
      }.mkString(" + ")
      s"SELECT vec_id, $j AS j, $i AS i, CAST(round(($dexpr) * 1000000.0) AS BIGINT) AS t FROM emb"
    }).mkString("\n  UNION ALL\n  ")
    s"""WITH $EmbCte, dst AS (
       |  $arms
       |), cod AS (
       |  SELECT vec_id, j, i AS c FROM (
       |    SELECT vec_id, j, i,
       |           row_number() OVER (PARTITION BY vec_id, j ORDER BY t ASC, i ASC) AS rn
       |    FROM dst
       |  ) WHERE rn = 1
       |), qdt AS (
       |  SELECT vec_id AS q_id, j, i, t FROM dst
       |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
       |), adc AS (
       |  SELECT q.q_id, c.vec_id, CAST(sum(q.t) AS BIGINT) AS adc_ticks
       |  FROM cod c JOIN qdt q ON q.j = c.j AND q.i = c.c
       |  WHERE c.vec_id <> q.q_id
       |  GROUP BY q.q_id, c.vec_id
       |)
       |SELECT q_id, vec_id, adc_ticks, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_ticks ASC, vec_id ASC) AS rn
       |  FROM adc
       |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin
  }

  // Word-ngram Jaccard parameters shared by dedup_jaccard query/oracle.
  private val JacN = 3
  private val JacMod = 8
  private val JacThreshold = 0.5
  private val JacMinShared = 2
  private val JacMaxDf = 128

  // Embedding-LSH parameters shared by ann_* / dedup_cosine query/oracles.
  private val EmbDim = 64
  private val LshBits = 4
  private val LshTables = 4

  private val CosDupThreshold = 0.4
  private lazy val Planes = Similarity.hyperplanes(LshBits * LshTables, EmbDim)

  // Auto-granularity parameters shared by the dedup_cosine_auto
  // query/oracle. targetRecall is 0.5 at this threshold: cosine 0.4 is a
  // WEAK similarity (66° — per-plane agreement c ≈ 0.63), where holding a
  // high floor needs many tables (requiredTables(9, 0.4, 0.9) = 44); 0.5
  // matches the recall floor the fixed (4-bit, 4-table) config already
  // has at this threshold, making fixed-vs-auto an equal-recall
  // comparison that isolates the candidate-volume effect.
  private val AutoRecall = 0.5
  private val AutoOcc = 64
  private val AutoMinBits = 4
  private val AutoMaxBits = 24
  private val AutoMaxTables = 32

  // IVF parameters shared by the ann_ivf query/oracle.
  private val IvfK = 8
  private val IvfIters = 3
  private val IvfProbe = 2

  // PQ parameters shared by the ann_pq query/oracle: 8 subspaces × 8 dims,
  // 16 codewords each → 8 codes ≈ 8 B/vector vs 256 B of floats (32×).
  private val PqM = 8
  private val PqKsub = 16
  private val PqIters = 3

  /** ann_pq's codebooks, frozen for the oracle like the IVF centroids:
    * DuckDB re-derives the per-subspace encoding argmin and the ADC tick
    * sums from the shared codewords, integer-exact.
    */
  private val pqCodebooks = new Fitted[Array[Array[Array[Double]]]]("pqCodebooks")(
    (s, dir) => Similarity.pqCodebooks(Parquet.read(s, s"$dir/embeddings.parquet"),
      "vec_id", "embedding", m = PqM, ksub = PqKsub, iters = PqIters))

  /** The hyperplane-sign bucket key of table `tbl` (same literal plane
    * components as the Spark side — exact doubles, so buckets agree).
    */
  private def bucketKeySql(v: String, tbl: Int): String =
    (0 until LshBits).map { i =>
      val plane = Planes(tbl * LshBits + i).mkString("[", ", ", "]::DOUBLE[]")
      s"(CASE WHEN ${dotSql(v, s"($plane)")} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB CTEs re-deriving [[Similarity.lshAutoConfig]] + the LCG
    * hyperplanes DYNAMICALLY, so ONE static SQL string stays correct at
    * every SF (n differs per dir, so bits does too). All n-independent
    * pieces (`bitsRecall`, the bits→tables map) are Scala-computed
    * literals — the SQL never does floating-point config math whose ceil
    * boundaries could drift between engines; the only data-dependent step
    * (occupancy bits) is an exact INTEGER comparison over a generate_series,
    * mirroring the integer `find` in `lshAutoConfig`. Plane components are
    * the same `md5("hp|idx") first-32-bits / 2^32 − 0.5` derivation as
    * [[Similarity.hyperplanes]] — dyadic-exact doubles, so bucket signs
    * agree bit-for-bit.
    */
  private def autoCfgCte(recall: Double = AutoRecall): String = {
    val tablesCase = "CASE bits " + (1 to AutoMaxBits).map(b =>
      s"WHEN $b THEN ${math.min(Similarity.requiredTables(b, CosDupThreshold, recall), AutoMaxTables)}")
      .mkString(" ") + " END"
    val bitsRecall = (1 to AutoMaxBits)
      .filter(b => Similarity.requiredTables(b, CosDupThreshold, recall) <= AutoMaxTables)
      .lastOption.getOrElse(1)
    s"""cfg0 AS (
       |  SELECT COALESCE(MIN(b), $AutoMaxBits) AS bits_occ
       |  FROM (SELECT unnest(generate_series(1, $AutoMaxBits)) AS b), (SELECT count(*) AS n FROM embeddings)
       |  WHERE (CAST(1 AS BIGINT) << b) * $AutoOcc >= n
       |), cfg AS (
       |  SELECT bits, $tablesCase AS tables FROM (
       |    SELECT GREATEST($AutoMinBits, LEAST(bits_occ, $bitsRecall)) AS bits FROM cfg0
       |  )
       |), planes AS (
       |  SELECT p,
       |         list_transform(generate_series(0, ${EmbDim - 1}),
       |           d -> CAST(concat('0x', substr(md5('hp|' || CAST(CAST(p AS BIGINT) * $EmbDim + d AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 - 0.5) AS pl
       |  FROM (SELECT unnest(generate_series(0, bits * tables - 1)) AS p FROM cfg)
       |), sgn AS (
       |  SELECT e.vec_id, CAST(pp.p // cfg.bits AS INT) AS tbl,
       |         CASE WHEN ${dotSql("e.v", "pp.pl")} >= 0
       |              THEN (CAST(1 AS BIGINT) << (pp.p % cfg.bits)) ELSE 0 END AS bit
       |  FROM emb e, planes pp, cfg
       |), abkt AS (
       |  SELECT vec_id, tbl, sum(bit) AS bkey FROM sgn GROUP BY vec_id, tbl
       |)""".stripMargin
  }

  /** DuckDB CTE: one (vec_id, tbl, bkey) row per vector and hash table. */
  private def bktCte: String = {
    val arms = (0 until LshTables).map(l =>
      s"SELECT vec_id, $l AS tbl, ${bucketKeySql("v", l)} AS bkey FROM emb")
      .mkString("\n  UNION ALL\n  ")
    s"bkt AS (\n  $arms\n)"
  }

  val specs: Seq[QuerySpec] = Seq(
    // -- LLM: SimHash near-dedup (row 29) --
    QuerySpec("dedup_simhash", { (s, dir) =>
      Dedup.simhash(Parquet.read(s, s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id")
    }, {
      val terms = (0 until Dedup.SimhashBits).map(b =>
        s"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> $b) & 1) = 1)) > len(hs) THEN ${1L << b} ELSE 0 END)")
      s"""WITH $TokCte, h AS (
         |  SELECT doc_id,
         |         list_transform(ts, t -> CAST(concat('0x', substr(md5(t), 1, 12)) AS BIGINT)) AS hs
         |  FROM tok
         |)
         |SELECT doc_id, ${terms.mkString("\n  + ")} AS simhash
         |FROM h ORDER BY doc_id""".stripMargin
    }),

    // -- LLM: n-gram Jaccard near-dedup (row 30) --
    QuerySpec("dedup_jaccard", { (s, dir) =>
      Dedup.ngramJaccard(Parquet.read(s, s"$dir/documents.parquet"), "doc_id", "text",
          JacN, JacMod, JacThreshold, JacMinShared, JacMaxDf)
        .orderBy("id_a", "id_b")
    }, s"""WITH $TokCte, g AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(ts) - ${JacN - 1}, 1)),
         |    i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${JacN - 1}), ' ')), 1, 8)) AS BIGINT))) AS gh
         |  FROM tok
         |), kx AS (
         |  SELECT doc_id, unnest(gh) AS k FROM g
         |), sel AS (
         |  SELECT * FROM kx WHERE k % $JacMod = 0
         |), cold AS (
         |  SELECT * FROM sel
         |  WHERE k NOT IN (SELECT k FROM sel GROUP BY k HAVING count(*) > $JacMaxDf)
         |), cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM cold a JOIN cold b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= $JacMinShared
         |)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT id_a, id_b,
         |         round(len(list_intersect(x.gh, y.gh)) * 1.0
         |               / len(list_distinct(list_concat(x.gh, y.gh))), 6) AS jaccard
         |  FROM cand JOIN g x ON x.doc_id = cand.id_a JOIN g y ON y.doc_id = cand.id_b
         |) WHERE jaccard >= $JacThreshold ORDER BY id_a, id_b""".stripMargin),

    // -- LLM: embedding-cosine near-dup (row 31) --
    QuerySpec("dedup_cosine", { (s, dir) =>
      Similarity.cosineDup(Parquet.read(s, s"$dir/embeddings.parquet"), "vec_id", "embedding",
          CosDupThreshold, Planes, LshBits, LshTables)
        .orderBy("id_a", "id_b")
    },
      // filter-first like the round-11 Spark plan (see dedup_cosine_auto)
      s"""WITH $EmbCte, ${bktCte}, bkv AS (
         |  SELECT a.vec_id, a.tbl, a.bkey, n.v, n.n
         |  FROM bkt a JOIN nrm n ON n.vec_id = a.vec_id
         |)
         |SELECT DISTINCT id_a, id_b, cos FROM (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |         round(${dotSql("l.v", "r.v")} / (l.n * r.n), 6) AS cos
         |  FROM bkv l JOIN bkv r ON l.tbl = r.tbl AND l.bkey = r.bkey AND l.vec_id < r.vec_id
         |) WHERE cos >= $CosDupThreshold ORDER BY id_a, id_b""".stripMargin),

    // Auto-granularity twin: bits/tables chosen from the ACTUAL corpus
    // size by lshAutoConfig (occupancy-held buckets — the linear-candidate
    // scale path), graded at every SF by ONE static oracle that re-derives
    // the config dynamically in SQL (see autoCfgCte).
    QuerySpec("dedup_cosine_auto", { (s, dir) =>
      Similarity.cosineDupAuto(Parquet.read(s, s"$dir/embeddings.parquet"), "vec_id", "embedding",
          CosDupThreshold, AutoRecall, AutoOcc,
          minBits = AutoMinBits, maxBits = AutoMaxBits, maxTables = AutoMaxTables)
        .orderBy("id_a", "id_b")
    },
      // Same filter-first shape as the round-11 Spark plan: vectors ride
      // the bucket rows and the >= threshold fires before the DISTINCT, so
      // only output-sized survivors are deduplicated. The old
      // distinct-then-attach form spilled >79 GB of DuckDB temp at sf10
      // (200k vectors) and died on disk — identical result, infeasible
      // plan, in BOTH engines.
      s"""WITH $EmbCte, ${autoCfgCte()}, bkv AS (
         |  SELECT a.vec_id, a.tbl, a.bkey, n.v, n.n
         |  FROM abkt a JOIN nrm n ON n.vec_id = a.vec_id
         |)
         |SELECT DISTINCT id_a, id_b, cos FROM (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |         round(${dotSql("l.v", "r.v")} / (l.n * r.n), 6) AS cos
         |  FROM bkv l JOIN bkv r ON l.tbl = r.tbl AND l.bkey = r.bkey AND l.vec_id < r.vec_id
         |) WHERE cos >= $CosDupThreshold ORDER BY id_a, id_b""".stripMargin),

    // Deterministic audit slice of dedup_cosine_auto: pairs whose smaller
    // id md5-hashes into the 1/16 probe set. Same full-corpus config, full
    // bucket shuffle, full cap census — only the pair stage restricts, so
    // the oracle's self-join is 1/16-width and FINISHES at sf10 where the
    // full pair set kills every single-node engine on spill (BENCH_SF1:
    // >79 GB). This row is the third-decade HASH cell for the bucket-local
    // cosine machinery; the subset identity is pinned by spec.
    QuerySpec("dedup_cosine_probe", { (s, dir) =>
      Similarity.cosineDupProbe(Parquet.read(s, s"$dir/embeddings.parquet"), "vec_id", "embedding",
          CosDupThreshold, idc => substring(md5(idc.cast("string")), 1, 1) === "0",
          AutoRecall, AutoOcc,
          minBits = AutoMinBits, maxBits = AutoMaxBits, maxTables = AutoMaxTables)
        .orderBy("id_a", "id_b")
    },
      // The audit slice: identical machinery, left pair side md5-restricted
      // to 1/16 of ids — the join is probe×full instead of full×full, which
      // is what lets DuckDB finish this at sf10 (200k vectors) and hand the
      // bucket-local cosine plan its third-decade hash cell.
      s"""WITH $EmbCte, ${autoCfgCte()}, bkv AS (
         |  SELECT a.vec_id, a.tbl, a.bkey, n.v, n.n
         |  FROM abkt a JOIN nrm n ON n.vec_id = a.vec_id
         |), bkl AS (
         |  SELECT * FROM bkv WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'
         |)
         |SELECT DISTINCT id_a, id_b, cos FROM (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |         round(${dotSql("l.v", "r.v")} / (l.n * r.n), 6) AS cos
         |  FROM bkl l JOIN bkv r ON l.tbl = r.tbl AND l.bkey = r.bkey AND l.vec_id < r.vec_id
         |) WHERE cos >= $CosDupThreshold ORDER BY id_a, id_b""".stripMargin),

    // A second, DISJOINT slice (residue '1'): doubles the audited
    // fraction at linear cost and shows the audit is slice-independent —
    // no privileged residue, any 1/16 of the pair space hash-matches.
    QuerySpec("dedup_cosine_probe2", { (s, dir) =>
      Similarity.cosineDupProbe(Parquet.read(s, s"$dir/embeddings.parquet"), "vec_id", "embedding",
          CosDupThreshold, idc => substring(md5(idc.cast("string")), 1, 1) === "1",
          AutoRecall, AutoOcc,
          minBits = AutoMinBits, maxBits = AutoMaxBits, maxTables = AutoMaxTables)
        .orderBy("id_a", "id_b")
    },
      // the disjoint residue-'1' slice — same construction, different 1/16
      s"""WITH $EmbCte, ${autoCfgCte()}, bkv AS (
         |  SELECT a.vec_id, a.tbl, a.bkey, n.v, n.n
         |  FROM abkt a JOIN nrm n ON n.vec_id = a.vec_id
         |), bkl AS (
         |  SELECT * FROM bkv WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '1'
         |)
         |SELECT DISTINCT id_a, id_b, cos FROM (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |         round(${dotSql("l.v", "r.v")} / (l.n * r.n), 6) AS cos
         |  FROM bkl l JOIN bkv r ON l.tbl = r.tbl AND l.bkey = r.bkey AND l.vec_id < r.vec_id
         |) WHERE cos >= $CosDupThreshold ORDER BY id_a, id_b""".stripMargin),

    // -- LLM: similarity search (rows 32-33) --
    QuerySpec("ann_topk", { (s, dir) =>
      Similarity.topK(Parquet.read(s, s"$dir/embeddings.parquet"), "vec_id", "embedding",
          AnnQueryIds, AnnK)
        .orderBy("q_id", "rank")
    }, s"""WITH $EmbCte, q AS (
         |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT q.q_id, nrm.vec_id,
         |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
         |  FROM nrm CROSS JOIN q
         |  WHERE nrm.vec_id <> q.q_id
         |)
         |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored
         |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin),

    // kNN label prediction (row 32 sibling): majority label of the k
    // nearest, labels derived as vec_id % 5 so the oracle re-derives
    // them; vote ties break by the smaller label (pinned).
    QuerySpec("ann_knn", { (s, dir) =>
      val emb = Parquet.read(s, s"$dir/embeddings.parquet")
      val labels = emb.select(col("vec_id"), (col("vec_id") % 5).as("lbl"))
      Similarity.knnPredict(emb, "vec_id", "embedding",
          labels, "vec_id", "lbl", AnnQueryIds, AnnK)
        .orderBy("q_id")
    },
      // ann_topk's neighbor set + the majority vote, ties to the smaller
      // label — each window materialized in its own CTE (the DuckDB rule)
      s"""WITH $EmbCte, q AS (
         |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT q.q_id, nrm.vec_id,
         |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
         |  FROM nrm CROSS JOIN q
         |  WHERE nrm.vec_id <> q.q_id
         |), nn AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |    FROM scored
         |  ) WHERE rn <= $AnnK
         |), votes AS (
         |  SELECT q_id, vec_id % 5 AS label, CAST(count(*) AS BIGINT) AS n_votes
         |  FROM nn GROUP BY q_id, vec_id % 5
         |), ranked AS (
         |  SELECT q_id, label, n_votes,
         |         row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS vr
         |  FROM votes
         |)
         |SELECT q_id, label, n_votes FROM ranked WHERE vr = 1
         |ORDER BY q_id""".stripMargin),

    QuerySpec("ann_lsh", { (s, dir) =>
      Similarity.lshTopK(Parquet.read(s, s"$dir/embeddings.parquet"), "vec_id", "embedding",
          AnnQueryIds, AnnK, Planes, LshBits, LshTables)
        .orderBy("q_id", "rank")
    }, s"""WITH $EmbCte, ${bktCte}, qb AS (
         |  SELECT vec_id AS q_id, tbl, bkey FROM bkt
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), cand AS (
         |  SELECT DISTINCT qb.q_id, b.vec_id
         |  FROM bkt b JOIN qb ON b.tbl = qb.tbl AND b.bkey = qb.bkey
         |  WHERE b.vec_id <> qb.q_id
         |), q AS (
         |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT c.q_id, c.vec_id,
         |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
         |  FROM cand c JOIN nrm ON nrm.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id
         |)
         |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored
         |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin),

    // The NO-CONFIG lshTopK — granularity derived from count(*) at the
    // library defaults (LshSearchThreshold, recall 0.9). Graded by the
    // same dynamic oracle machinery as dedup_cosine_auto, re-derived at
    // recall 0.9, so the round-11 "the obvious name is the auto path"
    // doctrine carries an oracle row of its own.
    QuerySpec("ann_lsh_auto", { (s, dir) =>
      Similarity.lshTopK(Parquet.read(s, s"$dir/embeddings.parquet"), "vec_id", "embedding",
          AnnQueryIds, AnnK)
        .orderBy("q_id", "rank")
    },
      // no-config lshTopK: the auto-derived buckets (abkt at recall 0.9,
      // the lshAutoConfig default) replayed through the ann_lsh probe shape
      s"""WITH $EmbCte, ${autoCfgCte(0.9)}, qb AS (
         |  SELECT vec_id AS q_id, tbl, bkey FROM abkt
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), cand AS (
         |  SELECT DISTINCT qb.q_id, b.vec_id
         |  FROM abkt b JOIN qb ON b.tbl = qb.tbl AND b.bkey = qb.bkey
         |  WHERE b.vec_id <> qb.q_id
         |), q AS (
         |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM nrm
         |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT c.q_id, c.vec_id,
         |         round(${dotSql("nrm.v", "q.qv")} / (nrm.n * q.qn), 6) AS cos
         |  FROM cand c JOIN nrm ON nrm.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id
         |)
         |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored
         |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin),

    QuerySpec("ann_ivf", { (s, dir) =>
      val emb = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents = cachedIvfCentroids(s, dir)
      Similarity.ivfTopK(emb, "vec_id", "embedding", AnnQueryIds, AnnK, cents, nProbe = IvfProbe)
        .orderBy("q_id", "rank")
    }, cachedIvfCentroids.oracle(ivfTopkOracle)),

    // -- ANN recall@k: the measurement that calibrates the approximate
    // path (probes/cells tuned against THIS number, never asserted).
    // Exact top-k vs the frozen-centroid IVF top-k over the same query
    // sample; the oracle composes the two existing SQL constructions.
    QuerySpec("ann_recall", { (s, dir) =>
      val emb = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents = cachedIvfCentroids(s, dir)
      val exact = Similarity.topK(emb, "vec_id", "embedding", AnnQueryIds, AnnK)
      val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", AnnQueryIds,
        AnnK, cents, nProbe = IvfProbe)
      Similarity.recallAtK(exact, approx, "q_id", "vec_id", AnnK)
        .orderBy("q_id")
    }, cachedIvfCentroids.oracle(annRecallOracle)),

    // -- text -> vector -> search, end to end (rows 75 + 32): brute
    // cosine top-k over the hashed embeddings derived FROM TEXT — no
    // pretrained embedding table anywhere; the oracle re-derives every
    // integer of the vectors from md5 closed form and replays the
    // identical cosine (dot and norms over exact integer-valued doubles).
    QuerySpec("ann_text", { (s, dir) =>
      Similarity.topK(textEmbeddings(s, dir), "vec_id", "embedding", AnnQueryIds, AnnK)
        .orderBy("q_id", "rank")
    }, {
      s"""WITH $txtEmbChain, ev AS (
         |  SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v
         |  FROM dense GROUP BY doc_id
         |), evn AS (
         |  SELECT doc_id, v, sqrt(${dotSql("v", "v")}) AS n FROM ev
         |), q AS (
         |  SELECT doc_id AS q_id, v AS qv, n AS qn FROM evn
         |  WHERE doc_id IN (${AnnQueryIds.mkString(", ")})
         |), scored AS (
         |  SELECT q.q_id, evn.doc_id AS vec_id,
         |         round(${dotSql("evn.v", "q.qv")} / (evn.n * q.qn), 6) AS cos
         |  FROM evn CROSS JOIN q
         |  WHERE evn.doc_id <> q.q_id
         |)
         |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored
         |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin
    }),

    // -- LLM: IVF-partitioned index layout (row 33, storage path) --
    // Same centroids/probes as ann_ivf, answered THROUGH a written
    // cell-partitioned parquet index with the scan pruned to the probed
    // cells — graded result-identical to the compute-side operator.
    QuerySpec("ann_indexed", { (s, dir) =>
      val emb = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents = cachedIvfCentroids(s, dir)
      val path = Scratch(s, dir).dir("ivf-index-")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, path)
      Similarity.ivfIndexTopK(Parquet.read(s, path),
          emb.filter(col("vec_id").isin(AnnQueryIds: _*)),
          "vec_id", "embedding", AnnK, cents, IvfProbe)
        .orderBy("q_id", "rank")
    }, cachedIvfCentroids.oracle(ivfTopkOracle)),

    // -- LLM: IVF index APPEND (row 33, maintenance path) --
    // The same search through an index built in TWO batches: write half,
    // append the other half against the index's own frozen centroids
    // (read back from the artifact). Assignment is per-row and
    // batch-independent, so the result is identical to the one-shot
    // index — graded by the SAME frozen-centroid oracle as ann_indexed.
    QuerySpec("ann_indexed_append", { (s, dir) =>
      val emb = Parquet.read(s, s"$dir/embeddings.parquet")
      val cents = cachedIvfCentroids(s, dir)
      val path = Scratch(s, dir).dir("ivf-index-")
      Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cents, path)
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", path)
      Similarity.ivfIndexTopK(Parquet.read(s, path),
          emb.filter(col("vec_id").isin(AnnQueryIds: _*)),
          "vec_id", "embedding", AnnK, cents, IvfProbe)
        .orderBy("q_id", "rank")
    }, cachedIvfCentroids.oracle(ivfTopkOracle)),

    // -- Streaming IVF ingest (rows 33+39): vectors replayed as a bounded
    // stream are assigned to their frozen coarse cells and land
    // CELL-PARTITIONED — the streaming half of index maintenance. The
    // landed (vec_id, cell) table grades against the frozen-centroid
    // assignment re-derived in SQL (the ann_ivf asg CTE).
    QuerySpec("stream_ivf_assign", { (s, dir) =>
      val cents = cachedIvfCentroids(s, dir)
      val rows = StreamReplay.file(s, dir, s"$dir/embeddings.parquet")((emb, rows, ckpt) =>
        StreamOps.streamingIvfAssign(emb, "embedding", cents, rows, ckpt))
      Parquet.read(s, rows)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy("vec_id")
    }, cachedIvfCentroids.oracle(streamIvfAssignOracle)),

    // -- LLM: product-quantization ADC search (row 33, compressed path) --
    // Codebooks train on a deterministic sample, the corpus is searched
    // through its 8-byte codes only (asymmetric distance) — the
    // memory-compressed representation that keeps a 100 TB embedding
    // index in hot storage. Oracle = frozen codebooks, encode + ADC
    // replayed in SQL on integer ticks.
    QuerySpec("ann_pq", { (s, dir) =>
      val emb = Parquet.read(s, s"$dir/embeddings.parquet")
      Similarity.pqTopK(emb, "vec_id", "embedding", AnnQueryIds, AnnK, pqCodebooks(s, dir))
        .orderBy("q_id", "rank")
    }, pqCodebooks.oracle(pqOracle)),
  )
}
