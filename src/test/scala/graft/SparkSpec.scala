package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerProbe
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (Test / fork := true runs all
  * suites in a single forked JVM, so session startup is paid once).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `body` with the given SQL confs set, restoring the previous
    * values after (the session is shared across suites — a leaked conf
    * would silently change every later test's plans).
    */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Run `body` with a fresh temporary directory, deleted with all it
    * holds when `body` returns or throws.
    */
  def withTempDir[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spec-").toString
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** The number of Spark jobs `body` starts. The listener bus is drained
    * before the count starts and after `body` returns, so earlier jobs'
    * events are not counted and this body's are not missed.
    */
  def jobsStarted(body: => Any): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerProbe.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerProbe.drain(sc); started.get }
    finally sc.removeSparkListener(listener)
  }

  /** The number of classes Spark's code generator compiles while `body`
    * runs: the `CodegenMetrics` compilation count, which covers the driver
    * and the local executors. A class found in the codegen cache is not
    * compiled and does not count.
    */
  def compiledClasses(body: => Any): Long = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }
}
