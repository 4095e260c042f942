package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** The driver's Spark local directory: one of the `spark-*` roots Spark
  * makes under `spark.local.dir` (or `SPARK_LOCAL_DIRS`, or the cluster
  * manager's dirs) for this JVM, the same rule Spark applies to its own
  * driver-side files. `Utils` is `private[spark]`, which this object,
  * under `org.apache.spark`, can call.
  */
object LocalDir {
  def apply(sc: SparkContext): String = Utils.getLocalDir(sc.conf)
}
