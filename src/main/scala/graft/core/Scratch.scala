package graft.core

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.LocalDir

/** The files a query stages for itself — stream inputs, sinks and
  * checkpoints, written indexes, a corrupted corpus copy — live in one
  * scratch root per (session, dir), the [[SessionArtifacts]] entry
  * `scratch`. The root sits under the driver's Spark local directory and
  * is made on first use; [[SessionArtifacts.clear]] (so
  * `SparkEntry.clearSessionCaches`) deletes it, and so does the context's
  * stop. A plan that reads staged files is therefore valid until its
  * session's artifacts are cleared.
  *
  * This is the only place in `src/main` that makes temporary directories
  * or deletes trees: two sessions, or two dirs of one session, never share
  * a path, and nothing waits for JVM exit to be deleted.
  */
final class Scratch private (sc: SparkContext) extends AutoCloseable {
  private var root: Path = _

  /** A fresh empty directory under the root, named `prefix` plus a
    * random suffix.
    */
  def dir(prefix: String): String = synchronized {
    if (root == null) root = Files.createTempDirectory(Paths.get(LocalDir(sc)), "graft-scratch-")
    Files.createTempDirectory(root, prefix).toString
  }

  /** The root, if a directory has been asked for. */
  private[graft] def rootPath: Option[Path] = synchronized(Option(root))

  /** Delete the root and everything under it. */
  def close(): Unit = synchronized {
    if (root != null) Scratch.delete(root.toString)
  }
}

object Scratch {

  /** The scratch space of `(s, dir)`. */
  def apply(s: SparkSession, dir: String): Scratch =
    SessionArtifacts.getOrBuild(s, dir, "scratch")(new Scratch(s.sparkContext))

  /** Delete the tree at `path` now; a missing path is fine. */
  def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
}
