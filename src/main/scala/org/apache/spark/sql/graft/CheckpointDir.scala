package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Puts back a SparkContext checkpoint directory exactly as it was read.
  * SparkContext's public setter always creates a fresh subdirectory under
  * the path it is given, so it cannot restore a directory read from
  * `getCheckpointDir`; the field itself is `private[spark]`, which this
  * object, under `org.apache.spark`, can assign.
  */
object CheckpointDir {
  def restore(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
