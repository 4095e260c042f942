package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.core.{Parquet, Scratch}

/** A bounded stream replay: a table replayed as a file stream, the
  * caller's sink run to completion, its landed rows read back as a batch
  * table. The `stream_*` queries grade a stream this way against the
  * DuckDB oracle of its batch twin.
  *
  * Staging. The file source reads a directory, so the input is staged into
  * a fresh one: a copy of one parquet file (one micro-batch under
  * `Trigger.AvailableNow`), or a written DataFrame, optionally split into
  * `slices` files read one per micro-batch. Sink and checkpoint get fresh
  * directories too, so every call runs the real stream, never a warm
  * checkpoint's no-op. All three sit in the session's [[Scratch]] space.
  * Once the stream is done the staged input and the checkpoint, the bulk
  * of the staging, are deleted; the landed rows stay until the session's
  * artifacts are cleared, because the returned plan reads them lazily.
  *
  * Width. For a streaming query `spark.sql.shuffle.partitions` is the
  * state store's width, frozen into the checkpoint at first start; Spark
  * refuses to re-partition existing state, so it cannot follow the core
  * count of the moment. A replay sizes it by its staged input, one
  * partition per ~8 MB (at least 1, at most 32768): each micro-batch pays
  * per state partition (delta file, commit, sink part-file), so an
  * over-wide tiny stream spends its wall on file ops (32-wide state on a
  * 2 MB replay ran ~1.6× slower than this rule across the stream suite),
  * while at scale the rule sizes the state up with the data.
  *
  * The width is a session conf, so it is set, the sink started and the
  * old value restored under a per-session lock. A started query has
  * already cloned its session, conf included (Spark 4.1's
  * `StreamExecution.sparkSessionForStream` is a final field set at
  * construction), so the lock and the override end when `start()`
  * returns: a second replay on the session does not wait for the first
  * to finish, and the read-back runs at the session's own width.
  */
object StreamReplay {

  /** A sink: starts a stream of the replayed DataFrame that lands its
    * rows at the first path, checkpointing at the second.
    */
  type Sink = (DataFrame, String, String) => StreamingQuery

  /** Replay a copy of the parquet file `path` of `(s, dir)`; returns the
    * path of the landed rows.
    */
  def file(s: SparkSession, dir: String, path: String)(sink: Sink): String =
    replay(s, dir, Parquet.schema(s, path), 0) { in =>
      Files.createDirectory(Paths.get(in))
      Files.copy(Paths.get(path), Paths.get(in).resolve(Paths.get(path).getFileName))
    }(sink)

  /** Replay `df`, written as staged input of `(s, dir)`: in `slices`
    * files, one per micro-batch, when `slices > 0`, else as `df`'s own
    * partitions in one micro-batch. Returns the path of the landed rows.
    */
  def frame(s: SparkSession, dir: String, df: DataFrame, slices: Int = 0)(sink: Sink): String =
    replay(s, dir, df.schema, slices) { in =>
      (if (slices > 0) df.repartition(slices) else df).write.parquet(in)
    }(sink)

  private def replay(s: SparkSession, dir: String, schema: StructType, slices: Int)(
      stage: String => Unit)(sink: Sink): String = {
    val out = Scratch(s, dir).dir("stream-")
    val in = s"$out/in"
    stage(in)
    val reader = s.readStream.schema(schema)
    val stream = (if (slices > 0) reader.option("maxFilesPerTrigger", "1") else reader).parquet(in)
    val query = widthLocks.computeIfAbsent(s, _ => new Object).synchronized {
      val prev = s.conf.get(Partitions)
      s.conf.set(Partitions, widthOf(in).toString)
      try sink(stream, s"$out/rows", s"$out/ckpt") finally s.conf.set(Partitions, prev)
    }
    query.awaitTermination()
    Scratch.delete(in)
    Scratch.delete(s"$out/ckpt")
    s"$out/rows"
  }

  private val Partitions = "spark.sql.shuffle.partitions"

  private val widthLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Object]())

  /** The state width of a replay of the files under `path`. */
  private[graft] def widthOf(path: String): Int =
    math.max(1L, math.min(32768L, regularFileBytes(path) / (8L << 20) + 1)).toInt

  /** Total size of the regular files under `path`, the path itself if it
    * is one: the length of a directory-shaped dataset (any Spark-written
    * parquet) is its inode's ~4 KB and would collapse the width to 1.
    */
  private def regularFileBytes(path: String): Long = {
    val files = Files.walk(Paths.get(path))
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    } finally files.close()
  }
}
