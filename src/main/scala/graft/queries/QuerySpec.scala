package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.SessionArtifacts

/** One graded query: its name, the plan it builds over the tables of an sf
  * dir, and its DuckDB oracle. Each family module declares its queries as
  * one `specs` run, every oracle beside its query.
  *
  * Conventions shared by every query/oracle pair:
  *   - column names are identical on both sides (the driver sorts columns
  *     by name before hashing);
  *   - every result carries a deterministic ORDER BY on both sides;
  *   - doubles are `round(x, 6)` (or coarser for accumulated sums) so both
  *     engines hash identical values;
  *   - counts / row numbers are cast to BIGINT on both sides.
  */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame, oracle: Oracle)

object QuerySpec {

  /** A query whose oracle needs no fitted model. */
  def apply(name: String, build: (SparkSession, String) => DataFrame, sql: String): QuerySpec =
    QuerySpec(name, build, Sql(sql))
}

/** The DuckDB twin of a query. */
sealed trait Oracle {

  /** The oracle's SQL at (s, dir), fitting its model there if needed. */
  def at(s: SparkSession, dir: String): String

  /** The oracle's SQL if it needs no model or exactly one (session, dir)
    * has fitted its model, none otherwise. Fits nothing.
    */
  def built: Option[String]
}

/** An oracle that needs no fitted model. */
final case class Sql(text: String) extends Oracle {
  def at(s: SparkSession, dir: String): String = text
  def built: Option[String] = Some(text)
}

/** An oracle that freezes a fitted model as SQL literals. */
final case class ModelSql[M](model: Fitted[M], text: M => String) extends Oracle {
  def at(s: SparkSession, dir: String): String = text(model(s, dir))
  def built: Option[String] = model.built.map(text)
}

/** A model that queries fit and their oracles freeze as SQL literals: the
  * [[SessionArtifacts]] entry `key` of (session, dir). A query and its
  * oracle read the same fit of the same directory, whatever ran before, and
  * `clearSessionCaches` drops it like any other artifact.
  */
final class Fitted[M](key: String)(fit: (SparkSession, String) => M) {
  def apply(s: SparkSession, dir: String): M =
    SessionArtifacts.getOrBuild(s, dir, key)(fit(s, dir))

  /** The model if exactly one (session, dir) has fitted it, none
    * otherwise. Fits nothing.
    */
  def built: Option[M] = SessionArtifacts.built(key) match {
    case Seq(m) => Some(m.asInstanceOf[M])
    case _ => None
  }

  /** The oracle that freezes this model as `text`. */
  def oracle(text: M => String): Oracle = ModelSql(this, text)
}
