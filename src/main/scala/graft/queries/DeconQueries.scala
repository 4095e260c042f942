package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Parquet
import graft.llm.Pipeline
import Shared._

/** The deterministic corpus shuffle (row 46) and benchmark
  * decontamination, exact and fuzzy (row 44).
  */
object DeconQueries {

  /** DuckDB CTEs for decontamination: word-`DecN`-gram hash sets (same
    * md5-prefix idiom as the Jaccard oracle), eval-set distinct grams
    * (`dbg`), training grams (`dtg`), per-doc overlap counts (`dhits`).
    */
  private def deconCtes: String =
    s"""$TokCte, dg AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(ts) - ${DecN - 1}, 1)),
       |    i -> CAST(concat('0x', substr(md5(array_to_string(list_slice(ts, i, i + ${DecN - 1}), ' ')), 1, 8)) AS BIGINT))) AS gh
       |  FROM tok
       |), dbg AS (
       |  SELECT DISTINCT unnest(gh) AS g FROM dg WHERE doc_id % $DecBenchMod = 0
       |), dtg AS (
       |  SELECT doc_id, unnest(gh) AS g FROM dg WHERE doc_id % $DecBenchMod <> 0
       |), dhits AS (
       |  SELECT dtg.doc_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM dtg JOIN dbg USING (g)
       |  GROUP BY dtg.doc_id HAVING count(*) >= $DecMinHits
       |)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // -- LLM: deterministic corpus shuffle (row 46) --
    QuerySpec("pipe_shuffle", { (s, dir) =>
      Pipeline.shuffleDeterministic(Parquet.read(s, s"$dir/documents.parquet"),
          "doc_id", PipeSeed, PipeShards)
        .orderBy("doc_id")
    }, s"""WITH sk AS (
         |  SELECT doc_id,
         |         CAST(concat('0x', substr(md5(concat_ws('|', doc_id, '$PipeSeed')), 1, 8)) AS BIGINT) AS k
         |  FROM documents
         |)
         |SELECT doc_id, k % $PipeShards AS shard,
         |       CAST(row_number() OVER (PARTITION BY k % $PipeShards ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
         |FROM sk ORDER BY doc_id""".stripMargin),

    // -- LLM: benchmark decontamination (row 44) --
    // Eval set = every DecBenchMod-th document, train = the rest; flag
    // train docs sharing any word DecN-gram with the eval set.
    QuerySpec("decon_flags", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      Pipeline.decontaminate(
          docs.filter(col("doc_id") % DecBenchMod =!= 0),
          docs.filter(col("doc_id") % DecBenchMod === 0),
          "doc_id", "text", DecN, DecMinHits)
        .orderBy("doc_id")
    }, s"""WITH $deconCtes
         |SELECT doc_id, hits FROM dhits ORDER BY doc_id""".stripMargin),

    QuerySpec("decon_clean", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      Pipeline.decontaminated(
          docs.filter(col("doc_id") % DecBenchMod =!= 0),
          docs.filter(col("doc_id") % DecBenchMod === 0),
          "doc_id", "text", DecN, DecMinHits)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, s"""WITH $deconCtes
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id % $DecBenchMod <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM dhits)
         |ORDER BY doc_id""".stripMargin),

    // -- LLM: fuzzy (MinHash) decontamination (row 44, near-dup guard) --
    QuerySpec("decon_fuzzy", { (s, dir) =>
      val docs = Parquet.read(s, s"$dir/documents.parquet")
      Pipeline.decontaminateFuzzy(
          docs.filter(col("doc_id") % DecBenchMod =!= 0),
          docs.filter(col("doc_id") % DecBenchMod === 0),
          "doc_id", "text", MhShingle, MhHashes, MhBands, MhThreshold)
        .orderBy("doc_id")
    }, {
      // Bipartite twin of the dedup_minhash_pairs CTEs: train band keys
      // join BENCH band keys, exact Jaccard re-rank, per-doc match stats.
      val rpb = MhHashes / MhBands
      val hEq = (0 until rpb).map(i => s"l.h_$i = r.h_$i").mkString(" AND ")
      s"""WITH $minhashBandedCtes, fcand AS (
         |  SELECT DISTINCT l.doc_id AS did, r.doc_id AS bid
         |  FROM banded l JOIN banded r ON l.band = r.band AND $hEq
         |  WHERE l.doc_id % $DecBenchMod <> 0 AND r.doc_id % $DecBenchMod = 0
         |), fjac AS (
         |  SELECT did,
         |         round(len(list_intersect(a.hs, b.hs)) * 1.0
         |               / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS j
         |  FROM fcand JOIN sh a ON a.doc_id = fcand.did
         |             JOIN sh b ON b.doc_id = fcand.bid
         |)
         |SELECT did AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |       max(j) AS best_jaccard
         |FROM fjac WHERE j >= $MhThreshold GROUP BY did ORDER BY doc_id""".stripMargin
    }),
  )
}
