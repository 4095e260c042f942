package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Opset, Salting}
import graft.util.Json

/** The benchmark's JVM side. It runs one workload's ops on a prepared
  * input directory and writes every raw measurement to `<out>/raw.json`;
  * `perfbench/run.py` turns that file into the reported metrics.
  *
  * Sequence: build a session, run every op once with its output written
  * to `<out>/check/<op>` (the warm-up pass, whose outputs the oracle
  * check reads), run every op once more untimed, then run timed passes
  * until `--seconds` have elapsed.
  * With `--trace 1` the timed passes alternate untraced and traced; a
  * traced pass registers a [[SparkListener]] and records spans around
  * every call the harness makes into graft. The native-vs-HOF pairs run
  * last, in the session with `spark.sql.extensions` and then in a fresh
  * session without it.
  *
  * Usage: Harness --dir D --out O --ops a,b,c --owners a=core,b=dsp
  *        --seconds N --trace 0|1 --cpus C [--pairs p,q]
  */
object Harness {

  // ---------------------------------------------------------------- spans

  final class Counters {
    var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleBytes, fetchWaitMs, spillBytes = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleBytes += o.shuffleBytes
      fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    }
    def json: String =
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"run_ms":$runMs,"cpu_ns":$cpuNs,""" +
        s""""gc_ms":$gcMs,"shuffle_bytes":$shuffleBytes,"fetch_wait_ms":$fetchWaitMs,"spill_bytes":$spillBytes"""
  }

  final case class Span(id: Long, parent: Long, name: String, layer: String, start: Long) {
    var end: Long = 0L
    val counters = new Counters
  }

  /** Spark work attributed to the span that was open on the submitting
    * thread: the span id travels as a job-local property, so each stage
    * is charged to exactly one span whatever the listener bus delay.
    */
  final class SpanListener extends SparkListener {
    val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    val perSpan = new ConcurrentHashMap[Long, Counters]()
    private def of(span: Long) = perSpan.computeIfAbsent(span, _ => new Counters)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, span))
      of(span).synchronized(of(span).jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val span: Long = Option(stageSpan.get(info.stageId)).map(_.longValue).getOrElse(0L)
      val c = of(span)
      val m = info.taskMetrics
      c.synchronized {
        c.stages += 1
        c.tasks += info.numTasks
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  val SpanKey = "graftbench.span"

  /** Span recorder; a no-op when tracing is off so untraced passes run
    * the same code path without listener or bookkeeping.
    */
  final class Tracer(spark: SparkSession, val on: Boolean) {
    private val nextId = new AtomicLong(1)
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack: List[Span] = Nil
    def apply[T](name: String, layer: String)(body: => T): T =
      if (!on) body
      else {
        val parent = stack.headOption.map(_.id).getOrElse(0L)
        val s = Span(nextId.getAndIncrement(), parent, name, layer, System.nanoTime())
        spans += s
        stack = s :: stack
        spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
        try body
        finally {
          s.end = System.nanoTime()
          stack = stack.tail
          spark.sparkContext.setLocalProperty(SpanKey,
            stack.headOption.map(_.id.toString).orNull)
        }
      }
  }

  // ------------------------------------------------------------ the ops

  /** Records whose values the composed `opset_store` op rewrites: a
    * fixed id set, so every seed puts the same number of records.
    */
  def putBatch(os: Opset): DataFrame =
    os.df.filter(col("record").cast("long") % 10 === 0)
      .withColumn("value", col("value") + 1.5)

  /** `opset_store`: fromEvents → save → load → put → save → load, each
    * call a span of its own. Returns the read-back store.
    */
  def opsetStore(s: SparkSession, dir: String, store: String, tr: Tracer): DataFrame = {
    val src = tr("Opset.fromEvents", "core")(Opset.fromEvents(s, dir))
    tr("Opset.save", "core")(src.save(s"$store/v1"))
    val v1 = tr("Opset.load", "core")(Opset.load(s, s"$store/v1"))
    val v2 = tr("Opset.put", "core")(v1.put(putBatch(v1)))
    tr("Opset.save", "core")(v2.save(s"$store/v2"))
    tr("Opset.load", "core")(Opset.load(s, s"$store/v2")).df
  }

  /** Public operators that branch on `Native.registered` and that the
    * corpus ops call, each applied to the documents input; the same call
    * is timed with and without the session extensions.
    */
  def pairs(s: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    import graft.llm.{Dedup, TextAnalysis}
    // four copies: enough rows that the expression, not only the job, is timed
    def docs = (1 to 4).map(_ => s.read.parquet(s"$dir/documents.parquet")).reduce(_ union _)
    val t = col("text")
    def on(c: => Column) = () => docs.select(c.as("r"))
    Seq(
      "TextAnalysis.tokenCount" -> on(TextAnalysis.tokenCount(t)),
      "TextAnalysis.qualityCols" ->
        (() => docs.select(TextAnalysis.qualityCols(t).map { case (n, c) => c.as(n) }: _*)),
      "TextAnalysis.redactPii" -> on(TextAnalysis.redactPii(t)),
      "Dedup.distinctNgramHashes" -> on(Dedup.distinctNgramHashes(t, 5))
    )
  }

  // --------------------------------------------------------------- main

  def session(cpus: Int, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val s = (if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions") else b)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  private def peakRssKb(): Long =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    }.getOrElse(0L)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val mainEpochMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("dir")
    val out = Paths.get(opt("out"))
    val ops = opt("ops").split(",").toSeq
    val owners = opt("owners").split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val seconds = opt("seconds").toDouble
    val traceMode = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val pairNames = opt.get("pairs").filter(_.nonEmpty).map(_.split(",").toSet).getOrElse(Set.empty)
    val store = out.resolve("store").toString
    Files.createDirectories(out)

    var spark = session(cpus, extensions = true)
    val sessionReady = System.nanoTime()

    def call(name: String, tr: Tracer): DataFrame =
      if (name == "opset_store") opsetStore(spark, dir, store, tr)
      else SparkEntry.queries(name)(spark, dir)

    def clear(): Unit = {
      SparkEntry.clearSessionCaches(spark)
      spark.catalog.clearCache()
    }

    // ---- warm-up pass: every op once, outputs kept for the oracle check
    val check = mutable.LinkedHashMap.empty[String, String]
    val warmStart = System.nanoTime()
    for (name <- ops) {
      val drops = Salting.recordedDropEvents.size
      check(name) = try {
        call(name, new Tracer(spark, false))
          .coalesce(1).write.mode("overwrite").parquet(out.resolve(s"check/$name").toString)
        val fired = Salting.recordedDropEvents.drop(drops)
        if (fired.nonEmpty) s"cap fired: ${fired.map(_.what).mkString(",")}" else ""
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    val warmEnd = System.nanoTime()
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.q(k)}:${Json.q(v)}" }.mkString("{", ",", "}"))
    clear()
    // a second, untimed pass: C1 compiles what the first pass made hot, so
    // the first timed pass is not still warming up
    for (name <- ops) scala.util.Try(call(name, new Tracer(spark, false)).queryExecution.toRdd.count())
    clear()
    val setupEnd = System.nanoTime()

    // ---- timed passes
    final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
                          ops: Seq[(String, Double, Long, String)], spans: Seq[Span],
                          total: Counters, cachedTables: Int, cachedBytes: Long, capFires: Int)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val listener = new SpanListener
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || (traceMode && passes.count(_.traced) == 0)) {
      val traced = traceMode && i % 2 == 1
      i += 1
      if (traced) {
        listener.stageSpan.clear(); listener.perSpan.clear()
        spark.sparkContext.addSparkListener(listener)
      }
      val tr = new Tracer(spark, traced)
      val drops = Salting.recordedDropEvents.size
      val cpu0 = processCpuNs()
      val p0 = System.nanoTime()
      val opTimes = ops.map { name =>
        val o0 = System.nanoTime()
        val opDrops = Salting.recordedDropEvents.size
        try {
          val rows = tr(name, owners(name)) {
            val df = tr("plan", owners(name))(call(name, tr))
            tr("exec", owners(name))(df.queryExecution.toRdd.count())
          }
          val err = if (Salting.recordedDropEvents.size > opDrops) "cap fired" else ""
          (name, (System.nanoTime() - o0) / 1e9, rows, err)
        } catch {
          case e: Throwable =>
            (name, (System.nanoTime() - o0) / 1e9, -1L, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val cachedTables = spark.sparkContext.getPersistentRDDs.size
      val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      val fires = Salting.recordedDropEvents.size - drops
      val total = new Counters
      if (traced) {
        org.apache.spark.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        tr.spans.foreach(s => Option(listener.perSpan.get(s.id)).foreach(s.counters.add))
        listener.perSpan.values().asScala.foreach(total.add)
      }
      passes += Pass(traced, wall, cpu, opTimes, tr.spans.toSeq, total, cachedTables, cachedBytes, fires)
      clear()
    }
    val storeBytes = dirBytes(Paths.get(store, "v2"))

    // ---- native-vs-HOF pairs (traced runs only)
    val pairRes = mutable.ArrayBuffer.empty[(String, Double, Double)]
    if (traceMode && pairNames.nonEmpty) {
      def timeAll(): Map[String, Double] =
        pairs(spark, dir).filter(p => pairNames(p._1)).map { case (n, f) =>
          f().queryExecution.toRdd.count() // warm: codegen and class loading
          n -> median((1 to 3).map { _ =>
            val a = System.nanoTime(); f().queryExecution.toRdd.count(); (System.nanoTime() - a) / 1e9
          })
        }.toMap
      val native = timeAll()
      clear()
      spark.stop()
      spark = session(cpus, extensions = false)
      require(!graft.functions.Native.registered, "plain session still resolves graft_dot")
      val hof = timeAll()
      native.keys.toSeq.sorted.foreach(n => pairRes += ((n, native(n), hof(n))))
    }
    val rssKb = peakRssKb()
    spark.stop()
    deleteTree(Paths.get(store))

    // ---- raw output
    def spanJson(s: Span) =
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.q(s.name)},"layer":${Json.q(s.layer)},""" +
        s""""dur_s":${(s.end - s.start) / 1e9},${s.counters.json}}"""
    val passJson = passes.map { p =>
      val opsJ = p.ops.map { case (n, s, r, e) =>
        s"""{"op":${Json.q(n)},"s":$s,"rows":$r,"error":${Json.q(e)}}""" }.mkString("[", ",", "]")
      s"""{"traced":${p.traced},"wall_s":${p.wallS},"cpu_s":${p.cpuS},"ops":$opsJ,""" +
        s""""spans":${p.spans.map(spanJson).mkString("[", ",", "]")},"total":{${p.total.json}},""" +
        s""""cached_tables":${p.cachedTables},"cached_bytes":${p.cachedBytes},"cap_fires":${p.capFires}}"""
    }.mkString("[", ",", "]")
    val checkJ = check.map { case (n, e) => s"${Json.q(n)}:${Json.q(e)}" }.mkString("{", ",", "}")
    val pairJ = pairRes.map { case (n, a, b) =>
      s"""{"name":${Json.q(n)},"native_s":$a,"hof_s":$b}""" }.mkString("[", ",", "]")
    Files.writeString(out.resolve("raw.json"),
      s"""{"cpus":$cpus,"main_epoch_ms":$mainEpochMs,"session_s":${(sessionReady - mainStart) / 1e9},""" +
        s""""warm_s":${(warmEnd - warmStart) / 1e9},"main_to_timed_s":${(setupEnd - mainStart) / 1e9},""" +
        s""""check":$checkJ,"passes":$passJson,"pairs":$pairJ,"peak_rss_kb":$rssKb,""" +
        s""""store_bytes":$storeBytes}""")
  }
}
