package graft

import org.apache.spark.sql.SparkSession

/** The graded session confs, stated once: Verify, Bench, Explain and the
  * test session build from here.
  */
object Session {

  /** A local session builder on `cpus` cores: shuffle width = `cpus`, UTC,
    * AQE on, UI off, and events.parquet's TIMESTAMP(NANOS), which Spark 4
    * rejects by default, read as long nanos (ts is only used for ordering,
    * which long nanos preserve — matches DuckDB's native ns ordering).
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
}
