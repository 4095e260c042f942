package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerProbe
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}

import graft.{SparkEntry, SparkSpec}

/** [[StreamReplay]] runs a stream's state at the width its input derives
  * and holds the session's width only while the stream starts.
  */
class StreamReplaySpec extends SparkSpec {

  private val Partitions = "spark.sql.shuffle.partitions"

  /** ~9.6 MB of incompressible longs: a two-partition replay. */
  private def wide(s: SparkSession) = s.range(1200000).select(xxhash64(col("id")).as("h"))

  test("a replay runs its state at the derived width and restores the session's " +
    "width before the stream ends") {
    val s = spark.newSession()
    s.conf.set(Partitions, "7")
    val expected = withTempDir { d => wide(s).write.parquet(s"$d/in"); StreamReplay.widthOf(s"$d/in") }
    assert(expected === 2)
    var query: StreamingQuery = null
    @volatile var seenInBatch = ""
    val rows = StreamReplay.frame(s, "d", wide(s)) { (in, rows, ckpt) =>
      query = in.groupBy((col("h") % 10).as("g")).count()
        .writeStream
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          // the replay restores the session's width once start() returns,
          // so it is back before this batch (and the stream) ends
          val deadline = System.nanoTime() + 30000000000L
          while (s.conf.get(Partitions) != "7" && System.nanoTime() < deadline) Thread.sleep(10)
          seenInBatch = s.conf.get(Partitions)
          batch.write.mode("append").parquet(rows)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start()
      query
    }
    assert(seenInBatch === "7")
    assert(query.lastProgress.stateOperators(0).numShufflePartitions.toInt === expected)
    assert(s.read.parquet(rows).agg(sum("count")).head().getLong(0) === 1200000L)
    SparkEntry.clearSessionCaches(s)
  }

  test("stream_join runs its state at the derived width and leaves the session's width alone") {
    val s = spark.newSession()
    s.conf.set(Partitions, "7")
    val widths = new ConcurrentLinkedQueue[Int]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => widths.add(o.numShufflePartitions.toInt))
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      assert(SparkEntry.queries("stream_join")(s, "perfbench/fixture").count() > 0)
      ListenerProbe.drain(spark.sparkContext)
    } finally s.streams.removeListener(listener)
    assert(!widths.isEmpty)
    assert(widths.asScala.toSet === Set(StreamReplay.widthOf("perfbench/fixture/events.parquet")))
    assert(s.conf.get(Partitions) === "7")
    SparkEntry.clearSessionCaches(s)
  }
}
