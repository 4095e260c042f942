package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Parquet, SessionArtifacts}
import graft.llm.{Dedup, TextAnalysis}
import graft.queries._

/** The index of the query/oracle contract: one [[QuerySpec]] (a graded
  * query and its DuckDB oracle) per implemented operator of SURVEY.md §2,
  * declared in its family module under [[graft.queries]].
  *
  * A query that fits a model (the instants tree, tube ensemble, PCA
  * circle, IVF/PQ/SemDeDup quantizers, text classifiers, probe widths)
  * reads it as a [[Fitted]] model: one [[SessionArtifacts]] key per
  * (session, dir), which the oracle reads too and freezes as SQL literals.
  * So an oracle always describes the fit of the directory it is asked
  * about, whatever ran before, and needs no earlier query run.
  */
object SparkEntry {

  /** Every graded query in declaration order, which is pipeline order:
    * every query that warms a shared per-(session, dir) artifact (a fit,
    * the minhash pairs, the bank) is declared before the queries that
    * consume it, so a declaration-order bench charges the base compute to
    * the producer (dedup_minhash_pairs pays the shingle→band→pair chain;
    * dedup_clusters pays only the component loop) instead of whichever
    * name sorts first. Each family holds one contiguous run of it.
    */
  val specs: Seq[QuerySpec] =
    OpsetQueries.specs ++ SignalQueries.specs ++ InstantQueries.specs ++ TubeQueries.specs ++
      DedupQueries.specs ++ StreamQueries.specs ++ EventQueries.specs ++ GraphQueries.specs ++
      TableQueries.specs ++ AnnQueries.specs ++ MultimodalQueries.specs ++ TextQueries.specs ++
      PipelineQueries.specs ++ CorpusQueries.specs ++ SemanticQueries.specs ++
      DeconQueries.specs ++ PlotQueries.specs

  /** The graded queries by name, in [[specs]] order. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(specs.map(q => q.name -> q.build): _*)

  /** The DuckDB twin of every query at `dir`, fitting at (s, dir) any
    * model not fitted there yet. Once the queries have run it starts no
    * Spark job.
    */
  def oracleSql(s: SparkSession, dir: String): Map[String, String] =
    specs.map(q => q.name -> q.oracle.at(s, dir)).toMap

  /** The keyed `oracleSql(s, dir)` for a caller without its session and
    * dir: the static oracles plus the oracles of every model that exactly
    * one live (session, dir) has fitted. It fits nothing, and it leaves
    * out a model that several (session, dir)s fitted rather than pick one.
    * Only the benchmark harness still calls this form; a benchmark change
    * that passes the harness's session and dir can switch it to the keyed
    * form and delete this one.
    */
  def oracleSql: Map[String, String] = specs.flatMap(q => q.oracle.built.map(q.name -> _)).toMap

  /** Drop every memoized plan/model bound to `s`, unpersist its cached
    * data and delete its staged files. Bench calls this between timing
    * passes so every pass is a cold run; long-lived sessions can call it
    * to release driver/executor memory and disk.
    *
    * A query's DataFrame is valid until this call: the plans of the
    * `stream_*` replays, the written indexes and `source_jsonl` read files
    * staged in the session's [[graft.core.Scratch]] space, which it
    * deletes. Collect each query before clearing.
    */
  def clearSessionCaches(s: SparkSession): Unit = SessionArtifacts.clear(s)

  /** Flagship: text analysis joined with exact dedup winners on sf0.001
    * (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = Parquet.read(spark, s"$dir/documents.parquet")
    val winners = Dedup.exact(docs, "doc_id", Seq("text")).select("doc_id", "dup_count")
    TextAnalysis.analyze(docs).join(winners, "doc_id").orderBy("doc_id")
  }
}
