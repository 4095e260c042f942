package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The session's shared intermediates — indicator banks, fitted models,
  * pair and edge tables, trained quantizers — built once per
  * (session, sf dir, artifact key) and reused by every consumer ("fit
  * once, predict many").
  *
  * Entries key on the SparkSession *object* (reference equality): a cached
  * plan or model is bound to the session that built it, and identity
  * hashes are not unique, so a new session must never be served a dead
  * one's entry. Each child `newSession()` therefore builds its own.
  *
  * Lifecycle:
  *   - [[clear]] releases one session's entries: a `DataFrame` (any
  *     Dataset) is unpersisted (non-blocking), an `AutoCloseable` (the
  *     [[Scratch]] space) is closed, anything else is just dropped;
  *   - one [[EndListener]] per SparkContext drops every entry of that
  *     context when it stops and closes its `AutoCloseable`s (its cached
  *     blocks died with it). The listener holds the context, never a
  *     session, so a cleared session is garbage as soon as its caller
  *     drops it.
  */
object SessionArtifacts {

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Any]

  /** Contexts that already carry an [[EndListener]], weakly keyed so the
    * guard set itself never pins a context.
    */
  private val listening =
    java.util.Collections.newSetFromMap(
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[SparkContext, java.lang.Boolean]()))

  /** The artifact `key` of `(s, dir)`, built by `build` on first use.
    * Builds may nest (a consumer's build asks for its producer), so the
    * build runs outside any lock: TrieMap's `getOrElseUpdate` is
    * non-blocking, and a racing duplicate build is simply discarded.
    */
  def getOrBuild[V](s: SparkSession, dir: String, key: String)(build: => V): V = {
    val sc = s.sparkContext
    if (listening.add(sc)) sc.addSparkListener(new EndListener(sc))
    entries.getOrElseUpdate((s, dir, key), build).asInstanceOf[V]
  }

  /** Every built value of artifact `key`, one per (session, dir) that
    * holds it. Builds nothing.
    */
  def built(key: String): Seq[Any] =
    entries.iterator.collect { case ((_, _, k), v) if k == key => v }.toSeq

  /** Drop every artifact bound to `s` and unpersist its cached data. */
  def clear(s: SparkSession): Unit =
    entries.keys.filter(_._1 eq s).foreach(k =>
      entries.remove(k).foreach {
        case ds: Dataset[_] => ds.unpersist(false)
        case c: AutoCloseable => c.close()
        case _ =>
      })

  /** Drops the entries of every session of `sc` when `sc` stops. */
  final class EndListener private[SessionArtifacts] (sc: SparkContext) extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      entries.keys.filter(_._1.sparkContext eq sc).foreach(k =>
        entries.remove(k).foreach {
          case c: AutoCloseable => c.close()
          case _ =>
        })
  }
}
