package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.util.Json

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. A failed query is reported
  * with an `"err"` marker (and excluded from the total) instead of being
  * silently timed as if it had passed.
  *
  * Each query is timed once per *pass* and the reported number is the
  * minimum over SPARK_GRAFT_BENCH_RUNS passes (default 3): the bench VM has
  * documented 2-3x run-to-run noise, so a single-pass total cannot prove a
  * performance gate. Between passes every graft memoization cache and every
  * persisted Spark plan is dropped, so each pass re-does the full compute
  * (min-of-N filters noise, not work); within a pass the cross-query
  * memoization (fit once, predict many) matches real usage, as before.
  */
object Bench {

  /** Accumulates stage-level task metrics between [[snapshotAndReset]]
    * calls — the instrumentation behind SPARK_GRAFT_BENCH_METRICS=1, used
    * to attribute wild pass-to-pass spread (GC pause vs shuffle-fetch
    * wait vs host stall, the latter visible as wall ≫ executorRunTime).
    */
  private final class StageMetrics extends org.apache.spark.scheduler.SparkListener {
    private val runMs, cpuNs, gcMs, fetchWaitMs, spillBytes =
      new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spillBytes.addAndGet(m.memoryBytesSpilled)
      }
    }
    /** One compact attribution line; resets the counters. */
    def snapshotAndReset(): String = {
      val s = f"run=${runMs.getAndSet(0) / 1e3}%.2fs cpu=${cpuNs.getAndSet(0) / 1e9}%.2fs " +
        f"gc=${gcMs.getAndSet(0) / 1e3}%.2fs fetchWait=${fetchWaitMs.getAndSet(0) / 1e3}%.2fs " +
        s"spill=${spillBytes.getAndSet(0)}B"
      s
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // BASELINE.md's estimator is min over SESSIONS × min-of-N passes: on a
    // steal-prone rig a whole session can land on a noisy window, so the
    // artifact should carry the estimator instead of hoping one session is
    // clean. Sessions here are full SparkContext stop/rebuild cycles inside
    // one JVM — executor threads, block manager, codegen and operator
    // caches all recycle; what does NOT reset is JIT warm-up, which only
    // flatters later sessions the same way it flatters later passes (min
    // filters noise, not work). Default 2 sessions × min-of-2.
    val sessions = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_SESSIONS", "2").toInt)
    val runs = math.max(1, sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_RUNS", if (sessions > 1) "2" else "3").toInt)

    def buildSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // absorb session/executor init so the first query of each session
      // isn't charged the one-time startup
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    var spark = buildSession()

    // declaration (= pipeline) order, NOT alphabetical: producers of the
    // shared per-(session,dir) caches run before their consumers, so the
    // shared compute is charged to the query that semantically owns it
    // (e.g. the minhash pair chain to dedup_minhash_pairs, not to
    // alphabetically-earlier dedup_clusters). SPARK_GRAFT_BENCH_ONLY
    // (comma-separated names) narrows the run for focused iteration —
    // note a subset skips the cache producers that precede it, so its
    // first named query absorbs their compute.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail loudly on names that match no query: a typo would otherwise
    // silently shrink the run and still exit 0 looking like a clean result
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
          s"${unknown.toSeq.sorted.mkString(",")} (known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")})")
    }
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    // per query: every pass's time (min is reported; the full list is
    // emitted too, so a 2x swing is attributable to rig noise vs plan
    // nondeterminism from the published numbers alone) + last err
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val errs = scala.collection.mutable.Map.empty[String, String]

    // SPARK_GRAFT_BENCH_METRICS=1: per-(pass, query) stage-metric
    // attribution lines on stderr (stdout keeps the one-JSON-line
    // contract). wall ≫ run with low gc/fetchWait = host stall; high gc =
    // GC pause; high fetchWait = shuffle fetch; run ≫ cpu = scheduling/IO.
    // `compiled` counts the classes codegen compiled for the query (codegen
    // cache hits do not count).
    val wantMetrics = sys.env.get("SPARK_GRAFT_BENCH_METRICS").contains("1")

    for (session <- 1 to sessions) {
      if (session > 1) {
        SparkEntry.clearSessionCaches(spark)
        spark.stop() // full context recycle — see the sessions note above
        spark = buildSession()
      }
      val metrics = if (wantMetrics) {
        val l = new StageMetrics
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None

      for (pass <- 1 to runs) {
        if (pass > 1) {
          SparkEntry.clearSessionCaches(spark) // drop memoized plans/models
          spark.catalog.clearCache()           // unpersist operator-local caches
        }
        names.foreach { name =>
          val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val t0 = System.nanoTime()
          try {
            // Force FULL-COLUMN evaluation, not `count()`: under a bare
            // count Catalyst prunes every deterministic projection and
            // eliminates the sort, so a pure-projection query (the
            // text_*/url_* class) would time the row-group METADATA scan
            // while the DuckDB side fetches fully materialized rows —
            // asymmetric in graft's favor (caught round 14: text_extract
            // "ran" 500k docs in 0.13 s). toRdd materializes every output
            // column into UnsafeRows on the executors without collecting.
            SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
            val sec = (System.nanoTime() - t0) / 1e9
            times(name) = times.getOrElse(name, Nil) :+ sec
            metrics.foreach { l =>
              Thread.sleep(150) // listener bus is async; let the tail drain
              System.err.println(
                f"[bench-metrics] session=$session pass=$pass query=$name " +
                  f"wall=$sec%.2fs ${l.snapshotAndReset()} " +
                  s"compiled=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0}")
            }
          } catch {
            case e: Throwable =>
              errs(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          }
        }
      }
    }

    val best = times.view.mapValues(_.min).toMap
    // a query that failed in ANY pass is an error even if another pass
    // timed it — a cold-cache breakage must not hide behind a lucky pass
    val qs = names.map { k =>
      (best.get(k), errs.get(k)) match {
        case (Some(sec), None) => s"${Json.q(k)}:$sec"
        case (_, e)            => s"${Json.q(k)}:${Json.q("err " + e.getOrElse("unknown").take(160))}"
      }
    }.mkString("{", ",", "}")
    val passes = names.flatMap(k => times.get(k).map(ts =>
      s"${Json.q(k)}:${ts.mkString("[", ",", "]")}")).mkString("{", ",", "}")
    val okNames = names.filter(n => best.contains(n) && !errs.contains(n))
    val nerr = names.size - okNames.size
    val total = okNames.flatMap(best.get).sum
    // The FULL artifact — per-query minima AND every pass's raw time —
    // goes to a file (SPARK_GRAFT_BENCH_OUT, default BENCH_GRID.json in
    // the working directory): at 131 queries the per-pass grid outgrew
    // the driver's captured stdout tail (BENCH_r10 carried only 28 of
    // 108 grids), so stdout keeps the one-line contract with the minima
    // and points at the file via `"detail"` for the machine-parseable
    // whole. The default is a NON-gitignored repo-root path so the grid
    // commits as a provenance artifact beside BENCH_r{N}.json.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File("BENCH_GRID.json").getAbsolutePath)
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"n_ok":${okNames.size},"n_err":$nerr,"n_runs":$runs,"n_sessions":$sessions,"sf":${Json.q(sfDir)},"cpus":${cpusJson(cpus)}}"""
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $outPath: $e — stdout line stands alone")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"detail":${Json.q(outPath)},"n_ok":${okNames.size},"n_err":$nerr,"n_runs":$runs,"n_sessions":$sessions,"sf":${Json.q(sfDir)}}""")
    println(summaryLine(total, okNames.size, nerr, sfDir, cpus, runs, sessions))
    spark.stop()
  }

  private def cpusJson(cpus: String): String = cpus.toIntOption.fold(Json.q(cpus))(_.toString)

  /** The run in one line of at most 500 characters, printed after the full
    * line: a consumer that keeps only the tail of stdout still reads the
    * total, the error count and the rig it ran on. `sf` keeps its last 40
    * characters and `cpus` its first 10, so even fully escaped input stays
    * inside the bound.
    */
  def summaryLine(total: Double, nOk: Int, nErr: Int, sfDir: String, cpus: String,
                  runs: Int, sessions: Int): String =
    s"""{"total":$total,"unit":"sec","n_ok":$nOk,"n_err":$nErr,""" +
      s""""sf":${Json.q(sfDir.takeRight(40))},"cpus":${cpusJson(cpus.take(10))},""" +
      s""""n_runs":$runs,"n_sessions":$sessions}"""
}
