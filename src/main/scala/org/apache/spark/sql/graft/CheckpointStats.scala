package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Caps the size estimate a checkpoint inherits from the plan it was
  * materialised from. `Dataset.checkpoint` and `localCheckpoint` keep that
  * plan's estimated statistics on the `LogicalRDD` they return, so a loop
  * that feeds each checkpoint into a self-joining step squares the
  * estimate every round, without bound. An estimate that fits in a Long
  * is kept as it is: every size threshold a plan compares against is a
  * Long, so it may still decide a broadcast. A larger one decides nothing
  * and is capped at `Long.MaxValue`. `Dataset.ofRows` is `private[sql]`,
  * which this object, under `org.apache.spark.sql`, can reach.
  */
object CheckpointStats {
  private val Cap = BigInt(Long.MaxValue)

  def capped(checkpoint: DataFrame): DataFrame = {
    val qe = checkpoint.queryExecution
    qe.analyzed match {
      case lr: LogicalRDD if lr.computeStats().sizeInBytes > Cap =>
        val bounded = lr.computeStats().copy(sizeInBytes = Cap)
        Dataset.ofRows(qe.sparkSession, LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(qe.sparkSession, Some(bounded),
          Some(lr.constraints)))
      case _ => checkpoint
    }
  }
}
