package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.TermHits

/** Sparse lexical retrieval over the corpus: BM25 (Robertson-Spärck
  * Jones) top-k scoring of a metadata-sized query set — the retrieval
  * half of a RAG/data-curation stack, and the classic counterexample to
  * "similarity search needs embeddings" at 100 TB.
  *
  * Scale shape: the corpus tokenizes ONCE, in one native pass per
  * document ([[graft.functions.TermHits]]: length + per-query-term
  * frequencies); only (doc, term) pairs with a hit survive, so what
  * moves downstream is query-term hits, not the corpus. Document frequency,
  * idf, and the query table are all metadata-sized and broadcast. The
  * per-query top-k runs TWO-PHASE — per-input-partition top-k, then
  * top-k of the k×P survivors — so a handful of queries never funnels
  * the corpus through a handful of window partitions.
  *
  * Determinism: idf's `ln` is quantized to 1e-6 BIGINT ticks, and each
  * per-(doc, term) BM25 contribution is re-quantized to integer ticks
  * BEFORE the per-doc sum (the DSIR recipe), so the data-sized
  * aggregation is pure integer arithmetic — immune to float summation
  * order while keeping the logarithm BM25's semantics require.
  */
object Retrieval {

  /** BM25 top-`k` documents per query. `queries` is a metadata-sized
    * `(query_id, terms)` list; terms are matched against
    * [[Dedup.tokens]] (lowercased whitespace tokens — callers lowercase
    * their query terms). Output: `(query_id, idCol, bm25_ticks, rank)`
    * with `bm25_ticks` = 1e-6-tick integer BM25 score, ranked
    * `(bm25_ticks DESC, id ASC)`.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Long, Seq[String])], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "bm25TopK: k must be positive")
    require(queries.nonEmpty, "bm25TopK: at least one query")
    val terms = queries.flatMap(_._2).distinct
    val spark = docs.sparkSession
    import spark.implicits._

    // the whole per-document work (token count + per-term frequencies)
    // fuses into ONE native pass over the text (graft_term_hits); the
    // resulting projection is per-doc METADATA (id + a handful of
    // longs), cached so the corpus-stats action and the hits branch
    // share the single tokenization
    val th = docs.select(col(idCol),
        column(TermHits(expression(col(textCol)), terms)).as("_th"))
      .cache()
    // corpus stats: two exact longs reach the driver; avgdl is ONE
    // double division of them — both engines divide the same integers
    val stats = th.agg(count(lit(1)), sum(col("_th.dl")).cast("long")).head()
    val nDocs = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / nDocs
    val hits = th.filter(col("_th").isNotNull)
      .select(col(idCol), col("_th.dl").as("_dl"),
        posexplode(col("_th.tf")).as(Seq("_i", "_tf")))
      .filter(col("_tf") > 0)
      .withColumn("_t", element_at(typedLit(terms), col("_i") + 1))
      .select(col(idCol), col("_t"), col("_tf"), col("_dl"))

    // df over the hits table (already distinct per (doc, term)):
    // |terms| rows, idf quantized to ticks, broadcast back
    val idf = hits.groupBy("_t").agg(count(lit(1)).as("_df"))
      .withColumn("_it",
        round(log((lit(nDocs) - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)) + lit(1.0))
          * lit(1e6)).cast("long"))
      .select("_t", "_it")

    val qt = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "_t")

    // per-(doc, term) contribution in integer ticks: idf_ticks × the
    // exact-double tf saturation, rounded — the formula is written in
    // the same literal order as the oracle SQL so the double is
    // bit-identical before the half-up round
    val w = (col("_tf") * lit(k1 + 1)) /
      (col("_tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("_dl") / lit(avgdl)))
    val scored = hits
      .join(broadcast(idf), "_t")
      .join(broadcast(qt), "_t")
      .withColumn("_ticks", round(col("_it").cast("double") * w).cast("long"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("_ticks")).as("bm25_ticks"))

    // two-phase exact top-k (extracted to [[graft.core.TopK.perKey]]):
    // per-partition survivors first, so a small query count never
    // concentrates the corpus into few window tasks
    graft.core.TopK.perKey(scored, Seq("query_id"),
        Seq(col("bm25_ticks").desc, col(idCol)), k)
      .select(col("query_id"), col(idCol), col("bm25_ticks"), col("rank"))
  }
}
