package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Parquet, SessionArtifacts}
import graft.llm.{Dedup, Multimodal, TextAnalysis}

/** Multimodal binary columns (row 34) and the perceptual-hash dedup
  * over them.
  */
object MultimodalQueries {

  /** Perceptual-hash table per sf dir, computed once and cached: the
    * pair and cluster queries consume the SAME hash table mm_phash
    * grades (real usage: decode + hash the image corpus once, then pair,
    * then cluster), so the PNG decode — the dominant cost of all three —
    * runs once per session/dir instead of once per query.
    */
  private def cachedImageHashes(s: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(s, dir, "phash")(
      Multimodal.imageHashes(phashFixture(s, dir)).toDF().cache())

  /** Gradient-PNG fixture shared by mm_phash/dedup_phash: pixel (x, y)
    * of doc `id` is a closed form of (base = id − id%4, off = id%4) —
    * quad members share dims and differ by a small constant channel
    * offset (near-identical images, the near-dup ground truth), while
    * different quads get different gradients. Bytes travel the REAL
    * PNG encoder here and the real decoder in [[Multimodal.imageHashes]].
    */
  private def phashFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // no fanOut: the fixture images are ~10×8 px, so the encode/decode
    // is NOT the expensive pass — measured, the extra exchange (and the
    // wider cached layout it leaves for the banded pair join and the
    // component rounds downstream) cost more than the serial scan
    Parquet.read(s, s"$dir/documents.parquet")
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val base = id - id % 4
        val off = id % 4
        val w = (9 + base % 12).toInt
        val h = (7 + base % 9).toInt
        // gradient SLOPES derive from base too: different quads get
        // different comparison patterns (distinct dHashes), while quad
        // members still differ only by the constant channel offset —
        // without per-quad slopes every image shares one dHash and the
        // pair table degenerates to all-pairs
        // STEEP per-quad slopes (wrap every 2-8 pixels): a shallow
        // monotone gradient makes every row-adjacent luma comparison
        // false and collapses dHash to 0 corpus-wide (measured: 127 of
        // 500 identical hashes, a degenerate all-pairs table); steep
        // wrapping slopes make the comparison pattern pseudo-random per
        // quad while quad members still differ only by the constant
        // channel offset
        (id, Multimodal.pixelPng(w, h, (x, y) => (
          ((base + (29 + base % 151) * x + (17 + base % 113) * y + off) % 256).toInt,
          ((3 * base + (41 + base % 127) * x + (23 + base % 89) * y + 2 * off) % 256).toInt,
          ((7 * base + (53 + base % 101) * x + (31 + base % 71) * y + off) % 256).toInt)))
      }).toDF("doc_id", "payload")
  }

  /** DuckDB twin of the [[phashFixture]] pixel closed forms + the pinned
    * luma: SQL text for luma(xExpr, yExpr) over the `phd` CTE columns
    * (base, off, w, h).
    */
  private def phashLumaSql(x: String, y: String): String =
    s"((299 * ((base + (29 + base % 151)*($x) + (17 + base % 113)*($y) + off) % 256)" +
      s" + 587 * ((3*base + (41 + base % 127)*($x) + (23 + base % 89)*($y) + 2*off) % 256)" +
      s" + 114 * ((7*base + (53 + base % 101)*($x) + (31 + base % 71)*($y) + off) % 256)) // 1000)"

  /** CTE chain re-deriving [[Multimodal.imageHashes]] analytically over
    * the fixture: `phd` (per-doc base/off/dims), `phh` (dhash via the
    * 9×7 sample grid, ahash via the 8×7 grid against the floored mean).
    */
  private def phashCtes: String = {
    val cols = graft.llm.Multimodal.PhashCols
    val rows = graft.llm.Multimodal.PhashRows
    // dHash: 56 CASE terms over the 9×7 nearest-neighbor sample grid
    val dTerms = (for (j <- 0 until rows; i <- 0 until cols) yield {
      val y = s"(($j * h) // $rows)"
      val x1 = s"(($i * w) // ${cols + 1})"
      val x2 = s"((${i + 1} * w) // ${cols + 1})"
      s"(CASE WHEN ${phashLumaSql(x1, y)} > ${phashLumaSql(x2, y)} " +
        s"THEN ${1L << (j * cols + i)} ELSE 0 END)"
    }).mkString("\n      + ")
    // aHash: the 56 grid lumas as a list, mean floored, bit per sample
    val aList = (for (j <- 0 until rows; i <- 0 until cols) yield
      phashLumaSql(s"(($i * w) // $cols)", s"(($j * h) // $rows)")).mkString(",\n      ")
    val aTerms = (0 until rows * cols).map(k =>
      s"(CASE WHEN als[${k + 1}] > amean THEN ${1L << k} ELSE 0 END)")
      .mkString("\n      + ")
    s"""phd AS (
       |  SELECT doc_id, doc_id - doc_id % 4 AS base, doc_id % 4 AS off,
       |         9 + (doc_id - doc_id % 4) % 12 AS w,
       |         7 + (doc_id - doc_id % 4) % 9 AS h
       |  FROM documents
       |), pha AS (
       |  SELECT doc_id, [$aList] AS als FROM phd
       |), phm AS (
       |  SELECT doc_id, als, list_sum(als) // ${rows * cols} AS amean FROM pha
       |), phh AS (
       |  SELECT phd.doc_id,
       |    CAST($dTerms AS BIGINT) AS dhash,
       |    CAST($aTerms AS BIGINT) AS ahash
       |  FROM phd JOIN phm ON phd.doc_id = phm.doc_id
       |)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // -- LLM: multimodal binary columns (row 34) --
    QuerySpec("mm_features", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      Multimodal.extractFeatures(Multimodal.asBinary(docs, "doc_id", "text"))
        .toDF().orderBy("doc_id")
    }, s"""SELECT doc_id,
         |       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
         |       ascii_hash,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ords), (a, b) -> a + b) AS BIGINT) AS ascii_sum,
         |       ascii_hash % 16 AS bucket
         |FROM (
         |  SELECT doc_id, text, ords,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), ords),
         |                     (a, b) -> (a * 31 + b) % ${TextAnalysis.FpMod}) AS ascii_hash
         |  FROM (
         |    SELECT doc_id, text,
         |           list_transform(string_split(regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '', 'g'), ''),
         |                          c -> CAST(ord(c) AS BIGINT)) AS ords
         |    FROM documents
         |  )
         |) ORDER BY doc_id""".stripMargin),

    QuerySpec("mm_image", { (s, dir) =>
      // REAL image decode, end-to-end checkable: each doc gets a solid
      // PNG whose dims/color are closed forms of doc_id; the bytes travel
      // the actual JDK PNG encoder AND decoder on executors, while the
      // oracle computes the expected features analytically. A decoder bug
      // (channel order, dims, premature EOF) breaks the hash match.
      import s.implicits._
      val ids = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id").cast("long")).as[Long]
      val bin = ids.mapPartitions(_.map { id =>
        (id, Multimodal.solidPng(
          (id % 7 + 1).toInt, (id % 5 + 1).toInt,
          (id % 256).toInt, (id * 3 % 256).toInt, (id * 7 % 256).toInt))
      }).toDF("doc_id", "payload")
      Multimodal.imageFeatures(bin).toDF().orderBy("doc_id")
    }, """SELECT doc_id, TRUE AS ok,
        |       CAST(doc_id % 7 + 1 AS BIGINT) AS width,
        |       CAST(doc_id % 5 + 1 AS BIGINT) AS height,
        |       CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) AS BIGINT) AS n_pixels,
        |       CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) * (doc_id % 256) AS BIGINT) AS sum_r,
        |       CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) * (doc_id * 3 % 256) AS BIGINT) AS sum_g,
        |       CAST((doc_id % 7 + 1) * (doc_id % 5 + 1) * (doc_id * 7 % 256) AS BIGINT) AS sum_b
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Video frame sampling (row 34): synthetic GFTV containers whose
    // frame colors are closed forms of (doc_id, frame_idx) travel the
    // container codec end to end; every 2nd frame explodes to one row.
    // The oracle re-derives the sampled-frame features analytically.
    QuerySpec("mm_frames", { (s, dir) =>
      import s.implicits._
      val ids = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id").cast("long")).as[Long]
      val bin = ids.mapPartitions(_.map { id =>
        val n = (id % 6 + 1).toInt
        (id, Multimodal.syntheticVideo((id % 4 + 1).toInt, (id % 3 + 1).toInt,
          (0 until n).map(f => (((id + 11 * f) % 256).toInt,
            ((id * 3 + 17 * f) % 256).toInt, ((id * 7 + 23 * f) % 256).toInt))))
      }).toDF("doc_id", "payload")
      Multimodal.frameSample(bin, everyK = 2).toDF()
        .orderBy("doc_id", "frame_idx")
    }, """WITH fr AS (
        |  SELECT doc_id, unnest(range(0, CAST(doc_id % 6 AS BIGINT) + 1)) AS f
        |  FROM documents
        |)
        |SELECT doc_id, f AS frame_idx,
        |       CAST(doc_id % 4 + 1 AS BIGINT) AS width,
        |       CAST(doc_id % 3 + 1 AS BIGINT) AS height,
        |       CAST((doc_id % 4 + 1) * (doc_id % 3 + 1) * ((doc_id + 11 * f) % 256) AS BIGINT) AS sum_r,
        |       CAST((doc_id % 4 + 1) * (doc_id % 3 + 1) * ((doc_id * 3 + 17 * f) % 256) AS BIGINT) AS sum_g,
        |       CAST((doc_id % 4 + 1) * (doc_id % 3 + 1) * ((doc_id * 7 + 23 * f) % 256) AS BIGINT) AS sum_b
        |FROM fr WHERE f % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin),

    // Audio features (row 34 modality set): each doc gets a REAL mono
    // RIFF/WAVE whose samples are closed forms of (doc_id, i); doc_id%9
    // payloads are truncated by one byte and must degrade to ok=false.
    // The bytes travel the genuine container layout end to end; the
    // oracle re-derives every feature analytically.
    QuerySpec("mm_audio", { (s, dir) =>
      import s.implicits._
      val ids = Parquet.read(s, s"$dir/documents.parquet")
        .select(col("doc_id").cast("long")).as[Long]
      val bin = ids.mapPartitions(_.map { id =>
        val n = (id % 50 + 10).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 13 + i.toLong * 37) % 2001 - 1000).toShort)
        val wav = Multimodal.pcmWav((8000 + (id % 4) * 2000).toInt, 1, samples)
        (id, if (id % 9 == 0) wav.dropRight(1) else wav)
      }).toDF("doc_id", "payload")
      Multimodal.audioFeatures(bin).toDF().orderBy("doc_id")
    },
      // Closed-form ground truth of the synthetic WAV generator: sample i
      // is (doc_id*13 + i*37) % 2001 - 1000 over n = doc_id%50+10 samples;
      // truncated payloads (doc_id%9) zero out behind ok=false.
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(0, doc_id % 50 + 10),
        |                        i -> (doc_id * 13 + i * 37) % 2001 - 1000) AS sm
        |  FROM documents
        |)
        |SELECT doc_id,
        |  doc_id % 9 <> 0 AS ok,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0 ELSE 1 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE 8000 + (doc_id % 4) * 2000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0 ELSE len(sm) END AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE list_sum(list_transform(sm, x -> abs(x))) END AS BIGINT) AS sum_abs,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE list_aggregate(list_transform(sm, x -> abs(x)), 'max') END AS BIGINT) AS max_abs,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 0
        |            ELSE len(list_filter(range(1, len(sm)),
        |                                 i -> (sm[i] < 0) <> (sm[i + 1] < 0))) END AS BIGINT) AS zero_cross
        |FROM s ORDER BY doc_id""".stripMargin),

    // Image perceptual hashes (dHash + aHash) off REAL PNG decode: each
    // doc gets a gradient PNG whose pixel (x, y) is a closed form of
    // doc_id — docs in the same quad (doc_id - doc_id % 4) share dims
    // and differ by a small constant channel offset, so quads are
    // genuine image near-dups (few dHash bits flip, only at %256 wrap
    // seams). The oracle replays the pinned sample-grid/luma/bit
    // construction analytically; a decode or grid-arithmetic bug breaks
    // the hash match.
    QuerySpec("mm_phash", { (s, dir) =>
      cachedImageHashes(s, dir).orderBy("doc_id")
    }, s"""WITH $phashCtes
         |SELECT doc_id, TRUE AS ok, dhash, ahash
         |FROM phh ORDER BY doc_id""".stripMargin),

    // Image near-dup pairs (the Dedup banding doctrine on the image
    // modality): 8 Hamming bands over the 56-bit dHash, band-local
    // candidates only, exact bit_count(xor) re-rank, hot-band cap.
    QuerySpec("dedup_phash", { (s, dir) =>
      Multimodal.phashDup(cachedImageHashes(s, dir))
        .orderBy("id_a", "id_b")
    }, s"""WITH $phashCtes, phb AS (
         |  SELECT doc_id, dhash, t.b AS b, (dhash >> (7 * t.b)) & 127 AS bv
         |  FROM phh, unnest(range(0, ${graft.llm.Multimodal.PhashBands})) AS t(b)
         |), phhot AS (
         |  SELECT b, bv FROM phb GROUP BY b, bv HAVING count(*) > 256
         |), phcold AS (
         |  SELECT phb.* FROM phb ANTI JOIN phhot USING (b, bv)
         |)
         |SELECT DISTINCT id_a, id_b, hamming FROM (
         |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |         CAST(bit_count(xor(a.dhash, c.dhash)) AS BIGINT) AS hamming
         |  FROM phcold a JOIN phcold c ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
         |) WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin),

    // Image near-dup CLUSTERS (rows 73 + 28's component machinery
    // composed): the banded Hamming pairs feed the same pointer-jumping
    // min-label components as the minhash clusters — every image labeled
    // with its duplicate-group representative + group size (the keep-one
    // rewrite reads "keep cluster_id == doc_id").
    QuerySpec("dedup_phash_clusters", { (s, dir) =>
      val hashes = cachedImageHashes(s, dir)
      val pairs = Multimodal.phashDup(hashes).select("id_a", "id_b")
      Dedup.clusters(hashes.select("doc_id"), "doc_id", pairs).orderBy("doc_id")
    },
      // The phash pair construction + the recursive component walk of
      // dedup_clusters, composed: min reachable doc_id over the symmetric
      // Hamming-pair edges == the Spark side's converged label propagation.
      s"""WITH RECURSIVE $phashCtes, phb AS (
         |  SELECT doc_id, dhash, t.b AS b, (dhash >> (7 * t.b)) & 127 AS bv
         |  FROM phh, unnest(range(0, ${graft.llm.Multimodal.PhashBands})) AS t(b)
         |), phhot AS (
         |  SELECT b, bv FROM phb GROUP BY b, bv HAVING count(*) > 256
         |), phcold AS (
         |  SELECT phb.* FROM phb ANTI JOIN phhot USING (b, bv)
         |), php AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |           bit_count(xor(a.dhash, c.dhash)) AS hamming
         |    FROM phcold a JOIN phcold c ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
         |  ) WHERE hamming <= 6
         |), phe AS (
         |  SELECT id_a AS src, id_b AS dst FROM php
         |  UNION
         |  SELECT id_b, id_a FROM php
         |), phwalk(id, r) AS (
         |  SELECT doc_id, doc_id FROM phh
         |  UNION
         |  SELECT w.id, e.dst FROM phwalk w JOIN phe e ON w.r = e.src
         |), phcomp AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM phwalk GROUP BY id
         |), phsz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM phcomp GROUP BY cluster_id
         |)
         |SELECT c.doc_id, c.cluster_id, s.cluster_size
         |FROM phcomp c JOIN phsz s USING (cluster_id)
         |ORDER BY c.doc_id""".stripMargin),
  )
}
