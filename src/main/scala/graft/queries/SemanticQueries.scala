package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Parquet
import graft.llm.Similarity
import Shared._

/** SemDeDup (row 51) over fixed and auto-scaled quantizers, from
  * embeddings and from raw text, and the IVF searches over the
  * auto-scaled quantizer (row 33).
  */
object SemanticQueries {

  /** The dedup_semantic oracle over the frozen SemDeDup centroids,
    * mirroring [[Similarity.semanticDup]]: per-(vector, centroid) scores,
    * assignment by (score DESC, index ASC) — [[Similarity.bestCentroidCol]]'s
    * tiebreak — then within-cluster pairs with exact cosine ≥ threshold.
    */
  private def semOracle(cents: Array[Array[Double]]): String =
    semPairsSql(EmbCte, cents, SemThreshold)

  /** [[semOracle]]'s twin over TEXT-derived vectors: the txtEmbChain
    * re-derives every embedding integer, then the identical
    * frozen-quantizer assign + cluster-blocked pair chain runs over them.
    */
  private def semTextOracle(cents: Array[Array[Double]]): String =
    semPairsSql(
      s"""$txtEmbChain, ev AS (
         |  SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY b) AS v
         |  FROM dense GROUP BY doc_id
         |), nrm AS (
         |  SELECT doc_id AS vec_id, v, sqrt(${dotSql("v", "v")}) AS n FROM ev
         |)""".stripMargin, cents, TxtSemThreshold)

  /** The SemDeDup pair chain over `ctes`, which must define
    * `nrm(vec_id, v, n)`: assign each vector to its best frozen centroid,
    * then keep the within-cluster pairs with cosine >= `threshold`.
    */
  private def semPairsSql(ctes: String, cents: Array[Array[Double]], threshold: Double): String =
    s"""WITH $ctes, csc AS (
       |  ${centroidScoreArms(cents)}
       |), asg AS (
       |  SELECT vec_id, i AS c FROM (
       |    SELECT vec_id, i,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i ASC) AS rn
       |    FROM csc
       |  ) WHERE rn = 1
       |), prs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(la.c AS BIGINT) AS cluster,
       |         round(${dotSql("a.v", "b.v")} / (a.n * b.n), 6) AS cos
       |  FROM asg la JOIN asg lb ON la.c = lb.c AND la.vec_id < lb.vec_id
       |       JOIN nrm a ON a.vec_id = la.vec_id
       |       JOIN nrm b ON b.vec_id = lb.vec_id
       |)
       |SELECT id_a, id_b, cluster, cos FROM prs
       |WHERE cos >= $threshold ORDER BY id_a, id_b""".stripMargin

  // SemDeDup parameters shared by the dedup_semantic query/oracle
  // (row 51). Same 0.4 threshold as dedup_cosine so the two candidate
  // generators (data-driven clusters vs random hyperplanes) are directly
  // comparable on the same corpus.
  private val SemK = 6
  private val SemIters = 2
  private val SemThreshold = 0.4

  // Auto-scaled SemDeDup occupancy (row 51, scaled path): cluster count
  // k = ceil(n/64) grows with the corpus, holding in-cluster pair volume
  // linear where the fixed-k path goes quadratic (BENCH_SF1).
  private val SemAutoOcc = 64

  // Probe widths for the ann_ivf_auto query/oracle (row 33, scaled path):
  // 2 coarse cells × 3 fine lists — a recall/candidate-volume point the
  // ScalaTest recall spec measures against brute force.
  private val AnnAutoProbe1 = 2
  private val AnnAutoProbe2 = 3

  // Target for the recall-calibrated probe search (ann_probe_auto): the
  // ladder choice itself is ScalaTest-pinned (AutoConfigSpec — the
  // measurement loop is driver-side library behavior like
  // minhashAutoConfig); the SEARCH at the chosen config is oracle-graded
  // via the chosen (coarse, fine) widths, frozen as literals.
  private val ProbeAutoTarget = 0.9
  private val probeWidths = new Fitted[(Int, Int)]("probeWidths")({ (s, dir) =>
    val cfg = Similarity.ivfAutoProbe(Parquet.read(s, s"$dir/embeddings.parquet"),
      "vec_id", "embedding", AnnK, ProbeAutoTarget, nCalib = 12, targetOccupancy = SemAutoOcc)
    (cfg.nProbeCoarse, cfg.nProbeFine)
  })

  /** The two-level probed IVF search over the dynamically re-derived
    * quantizer, parameterized by the probe widths — shared by
    * ann_ivf_auto (fixed widths) and ann_probe_auto (widths chosen by
    * [[graft.llm.Similarity.ivfAutoProbe]] and frozen as literals, the
    * frozen-artifact oracle pattern of the IVF centroids).
    */
  private def ivfAutoTopkSql(p1: Int, p2: Int): String =
    s"""WITH $EmbCte, $semAutoCtes, aqv AS (
       |  SELECT vec_id AS q_id, v AS qv, n AS qn FROM semk
       |  WHERE vec_id IN (${AnnQueryIds.mkString(", ")})
       |), aq1 AS (
       |  SELECT q_id, qv, qn, c1 FROM (
       |    SELECT aqv.q_id, aqv.qv, aqv.qn, semcs.s1 AS c1,
       |           row_number() OVER (PARTITION BY aqv.q_id
       |             ORDER BY ${dotSql("aqv.qv", "semcs.cv")} / semcs.cn DESC, semcs.s1 ASC) AS rn
       |    FROM aqv CROSS JOIN semcs
       |  ) WHERE rn <= $p1
       |), aq2 AS (
       |  SELECT q_id, qv, qn, cluster FROM (
       |    SELECT aq1.q_id, aq1.qv, aq1.qn, semfs.s2 AS cluster,
       |           row_number() OVER (PARTITION BY aq1.q_id
       |             ORDER BY ${dotSql("aq1.qv", "semfs.fv")} / semfs.fn DESC, semfs.s2 ASC) AS rn
       |    FROM aq1 JOIN semfs ON aq1.c1 = semfs.c1
       |  ) WHERE rn <= $p2
       |), ascored AS (
       |  SELECT aq2.q_id, a.vec_id,
       |         round(${dotSql("a.v", "aq2.qv")} / (a.n * aq2.qn), 6) AS cos
       |  FROM aq2 JOIN sema2 a ON a.cluster = aq2.cluster
       |  WHERE a.vec_id <> aq2.q_id
       |)
       |SELECT q_id, vec_id, cos, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM ascored
       |) WHERE rn <= $AnnK ORDER BY q_id, rank""".stripMargin

  private def probeAutoOracle(widths: (Int, Int)): String =
    ivfAutoTopkSql(widths._1, widths._2)

  /** DuckDB CTE chain re-deriving the two-level seeded quantizer of
    * [[Similarity.semanticDupAuto]]/[[Similarity.ivfTopKAuto]] DYNAMICALLY
    * (k from count(*), coarse/fine seeds by smallest (md5(id), id),
    * nearest-seed argmax by (score DESC, seed id ASC) — the exact
    * tiebreak of the Spark side's max-of-(s, -id)-struct). Relations:
    * `semk` (hashed corpus), `par3` (k, k1, k2), `semcs` (coarse seeds),
    * `sema1` (coarse assignment), `semfs` (fine seeds), `sema2` (final
    * assignment, cluster = fine-seed id). Requires [[EmbCte]].
    */
  private def semAutoCtes: String =
    s"""semk AS (
       |  SELECT vec_id, v, n,
       |         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
       |  FROM nrm
       |), par AS (
       |  SELECT CAST(greatest(1, ceil(count(*) / ${SemAutoOcc}.0)) AS BIGINT) AS k FROM semk
       |), par2 AS (
       |  SELECT k, CAST(greatest(1, ceil(sqrt(CAST(k AS DOUBLE)))) AS BIGINT) AS k1 FROM par
       |), par3 AS (
       |  SELECT k, k1, CAST(greatest(1, ceil(CAST(k AS DOUBLE) / k1)) AS BIGINT) AS k2 FROM par2
       |), semcs AS (
       |  SELECT vec_id AS s1, v AS cv, n AS cn FROM (
       |    SELECT *, row_number() OVER (ORDER BY h, vec_id) AS rn FROM semk
       |  ) WHERE rn <= (SELECT k1 FROM par3)
       |), sema1 AS (
       |  SELECT vec_id, v, n, h, c1 FROM (
       |    SELECT semk.vec_id, semk.v, semk.n, semk.h, semcs.s1 AS c1,
       |           row_number() OVER (PARTITION BY semk.vec_id
       |             ORDER BY ${dotSql("semk.v", "semcs.cv")} / semcs.cn DESC, semcs.s1 ASC) AS rn
       |    FROM semk CROSS JOIN semcs
       |  ) WHERE rn = 1
       |), semfs AS (
       |  SELECT c1, vec_id AS s2, v AS fv, n AS fn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY c1 ORDER BY h, vec_id) AS rn FROM sema1
       |  ) WHERE rn <= (SELECT k2 FROM par3)
       |), sema2 AS (
       |  SELECT vec_id, v, n, cluster FROM (
       |    SELECT sema1.vec_id, sema1.v, sema1.n, semfs.s2 AS cluster,
       |           row_number() OVER (PARTITION BY sema1.vec_id
       |             ORDER BY ${dotSql("sema1.v", "semfs.fv")} / semfs.fn DESC, semfs.s2 ASC) AS rn
       |    FROM sema1 JOIN semfs ON sema1.c1 = semfs.c1
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** dedup_semantic's SemDeDup centroids, frozen for the oracle like the
    * IVF centroids: DuckDB re-derives the assignment and the
    * within-cluster pair math from the shared centroids, bit-for-bit.
    */
  private val semCentroids = new Fitted[Array[Array[Double]]]("semCentroids")(
    (s, dir) => Similarity.ivfCentroids(Parquet.read(s, s"$dir/embeddings.parquet"),
      "vec_id", "embedding", SemK, SemIters))

  // SemDeDup over TEXT-derived hashed embeddings (dedup_text): its own
  // frozen quantizer; threshold sits where the synthetic corpus's
  // shared-vocabulary cosine mass thins (0.84 -> 31 pairs at sf0.01, 856
  // at sf0.1 — meaningful and non-quadratic, measured).
  private val semTextCentroids = new Fitted[Array[Array[Double]]]("semTextCentroids")(
    (s, dir) => Similarity.ivfCentroids(textEmbeddings(s, dir), "vec_id", "embedding",
      SemK, SemIters))
  private val TxtSemThreshold = 0.84

  val specs: Seq[QuerySpec] = Seq(
    // -- LLM: SemDeDup semantic near-dup (row 51) --
    QuerySpec("dedup_semantic", { (s, dir) =>
      Similarity.semanticDup(Parquet.read(s, s"$dir/embeddings.parquet"),
          "vec_id", "embedding", SemThreshold, semCentroids(s, dir))
        .orderBy("id_a", "id_b")
    }, semCentroids.oracle(semOracle)),

    // -- LLM: SemDeDup, auto-scaled cluster count (row 51, scale path) --
    QuerySpec("dedup_semantic_auto", { (s, dir) =>
      Similarity.semanticDupAuto(Parquet.read(s, s"$dir/embeddings.parquet"),
          "vec_id", "embedding", SemThreshold, SemAutoOcc)
        .orderBy("id_a", "id_b")
    },
      // Dynamic oracle: the whole two-level quantizer construction — k from
      // count(*), seed selection by (md5(id), id), nearest-seed argmax by
      // (score DESC, seed id ASC) — is re-derived in SQL, no frozen export.
      s"""WITH $EmbCte, $semAutoCtes
         |SELECT id_a, id_b, cluster, cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
         |         round(${dotSql("a.v", "b.v")} / (a.n * b.n), 6) AS cos
         |  FROM sema2 a JOIN sema2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |) WHERE cos >= $SemThreshold ORDER BY id_a, id_b""".stripMargin),

    // -- SemDeDup from RAW TEXT (rows 51 + 75): the whole semantic-dedup
    // path with no pretrained embedding table — hashed-gram vectors feed
    // the same cluster-blocked near-dup operator; oracle re-derives the
    // vectors closed-form and replays the frozen-quantizer chain.
    QuerySpec("dedup_text", { (s, dir) =>
      Similarity.semanticDup(textEmbeddings(s, dir), "vec_id", "embedding",
          TxtSemThreshold, semTextCentroids(s, dir))
        .orderBy("id_a", "id_b")
    }, semTextCentroids.oracle(semTextOracle)),

    // -- LLM: IVF search over the auto-scaled quantizer (row 33, scale path) --
    QuerySpec("ann_ivf_auto", { (s, dir) =>
      Similarity.ivfTopKAuto(Parquet.read(s, s"$dir/embeddings.parquet"),
          "vec_id", "embedding", AnnQueryIds, AnnK, SemAutoOcc,
          AnnAutoProbe1, AnnAutoProbe2)
        .orderBy("q_id", "rank")
    },
      // Search twin over the same dynamically re-derived quantizer: probe
      // nearest coarse seeds, then nearest fine seeds among those cells,
      // exact re-rank within the probed inverted lists.
      ivfAutoTopkSql(AnnAutoProbe1, AnnAutoProbe2)),

    // -- ANN probe widths CHOSEN by the graded recall measurement (row
    // 33, the calibration loop closed): ivfAutoProbe ladders (coarse,
    // fine) until mean recall@k over the deterministic calibration
    // sample reaches ProbeAutoTarget; the search at the chosen config is
    // what ships — and what the oracle replays from the chosen widths.
    QuerySpec("ann_probe_auto", { (s, dir) =>
      val (coarse, fine) = probeWidths(s, dir)
      Similarity.ivfTopKAuto(Parquet.read(s, s"$dir/embeddings.parquet"),
          "vec_id", "embedding", AnnQueryIds, AnnK, SemAutoOcc, coarse, fine)
        .orderBy("q_id", "rank")
    }, probeWidths.oracle(probeAutoOracle)),
  )
}
