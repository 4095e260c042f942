package graft

import java.nio.file.{Files, Paths}
import graft.util.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (local iteration; the
    // driver always passes exactly two args and gets the full set)
    val only = args.drop(2).toSet
    val spark = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query failures (exceptions AND cap fires) are collected here and
    // surfaced machine-readably: failures.json in outDir plus a nonzero
    // exit. A deleted output dir alone is not a reliable failure signal —
    // a compare driver may read "missing dir" as "skipped" (advisor, r13).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        // The graded oracles do NOT model Salting.dropOverCap: parity
        // relies on zero drops at every graded SF (empirically true). A
        // cap-fire during a graded query must therefore surface as an
        // EXPLICIT failure here, never as a downstream hash mismatch —
        // the census registry makes the assumption checked (advisor,
        // round 12).
        val dropsBefore = graft.core.Salting.recordedDropEvents.size
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val fired = graft.core.Salting.recordedDropEvents.drop(dropsBefore)
        if (fired.nonEmpty) {
          graft.core.Scratch.delete(s"$outDir/$name")
          throw new IllegalStateException(
            s"over-cap drop fired during graded query (oracle does not model the cap): " +
              fired.map(e => s"${e.what} nGroups=${e.nGroups} max=${e.maxSize}").mkString("; "))
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // a model whose query failed fails again here; record it and dump
    // no oracle rather than die before failures.json is written
    val oracles = try SparkEntry.oracleSql(spark, sfDir) catch { case e: Throwable =>
      failures("oracle_sql") = Option(e.getMessage).getOrElse(e.getClass.getName)
      Map.empty[String, String]
    }
    val json = oracles
      .map { case (k, v) => s"${Json.q(k)}: ${Json.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${Json.q(k)}: ${Json.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} failed: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
