package graft.functions

import org.apache.spark.sql.SparkSession

/** Whether the active session resolves graft's SQL function names, i.e.
  * was built with `spark.sql.extensions=graft.GraftExtensions`. graft's
  * operators do not read it: they build their native expressions
  * directly and run in any session. The benchmark harness reads it to
  * check which kind of session it started.
  */
object Native {
  def registered: Boolean =
    SparkSession.getActiveSession.exists(_.catalog.functionExists("graft_dot"))
}
