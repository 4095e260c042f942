package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerProbe
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class SessionArtifactsSpec extends SparkSpec {

  private def counted[V](n: AtomicInteger)(v: => V): V = { n.incrementAndGet(); v }

  test("build runs once per (session, dir, key)") {
    val s = spark.newSession()
    val n = new AtomicInteger
    val a = SessionArtifacts.getOrBuild(s, "d", "k")(counted(n)(Array(1.0, 2.0)))
    val b = SessionArtifacts.getOrBuild(s, "d", "k")(counted(n)(Array(3.0)))
    assert(n.get == 1)
    assert(a eq b)
    SessionArtifacts.getOrBuild(s, "d", "other")(counted(n)(0))
    assert(n.get == 2)
    SessionArtifacts.clear(s)
  }

  test("another dir or a child session builds its own entry") {
    val parent = spark.newSession()
    val child = parent.newSession()
    val n = new AtomicInteger
    SessionArtifacts.getOrBuild(parent, "d1", "k")(counted(n)("p1"))
    assert(SessionArtifacts.getOrBuild(parent, "d2", "k")(counted(n)("p2")) == "p2")
    assert(SessionArtifacts.getOrBuild(child, "d1", "k")(counted(n)("c1")) == "c1")
    assert(n.get == 3)
    assert(SessionArtifacts.getOrBuild(parent, "d1", "k")(counted(n)("x")) == "p1")
    SessionArtifacts.clear(parent)
    SessionArtifacts.clear(child)
  }

  test("clear(child) unpersists the child's DataFrames and leaves the parent's alone") {
    val parent = spark.newSession()
    val child = parent.newSession()
    val p = SessionArtifacts.getOrBuild(parent, "d", "df")(parent.range(7).toDF("p").cache())
    val c = SessionArtifacts.getOrBuild(child, "d", "df")(child.range(5).toDF("c").cache())
    SessionArtifacts.getOrBuild(child, "d", "model")(Array(Array(1.0)))
    assert(p.count() == 7 && c.count() == 5)
    SessionArtifacts.clear(child)
    assert(c.storageLevel == StorageLevel.NONE)
    assert(p.storageLevel != StorageLevel.NONE)
    val n = new AtomicInteger
    SessionArtifacts.getOrBuild(child, "d", "model")(counted(n)(Array(Array(2.0))))
    SessionArtifacts.getOrBuild(parent, "d", "df")(counted(n)(parent.range(1).toDF()))
    assert(n.get == 1, "the child's model is rebuilt, the parent's frame is served")
    SessionArtifacts.clear(parent)
    SessionArtifacts.clear(child)
    assert(p.storageLevel == StorageLevel.NONE)
  }

  test("built lists one value per (session, dir) holding the key and builds nothing") {
    val (a, b) = (spark.newSession(), spark.newSession())
    assert(SessionArtifacts.built("built-key").isEmpty)
    SessionArtifacts.getOrBuild(a, "d1", "built-key")("a1")
    SessionArtifacts.getOrBuild(a, "d1", "other-key")("x")
    assert(SessionArtifacts.built("built-key") === Seq("a1"))
    SessionArtifacts.getOrBuild(a, "d2", "built-key")("a2")
    SessionArtifacts.getOrBuild(b, "d1", "built-key")("b1")
    assert(SessionArtifacts.built("built-key").toSet === Set("a1", "a2", "b1"))
    SessionArtifacts.clear(a)
    assert(SessionArtifacts.built("built-key") === Seq("b1"))
    SessionArtifacts.clear(b)
    assert(SessionArtifacts.built("built-key").isEmpty)
  }

  // Shared state between a query and its oracle lives in this store, keyed
  // by (session, dir); a global "most recent" slot made an oracle depend on
  // which directory was queried last.
  test("no src/main global is @volatile") {
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("@volatile") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "keep shared state in SessionArtifacts, keyed by (session, dir):\n" + offenders.mkString("\n"))
  }

  // Files a query stages belong to its session's scratch space, which
  // clearSessionCaches and the context's stop delete; a temp dir made
  // elsewhere, or deleted only at JVM exit, outlives the session.
  test("no src/main file outside the scratch owner makes temp dirs or exit hooks") {
    val owner = Paths.get("src/main/scala/graft/core/Scratch.scala")
    val banned = Seq("createTempDirectory", "java.io.tmpdir", "addShutdownHook")
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "stage files under graft.core.Scratch(s, dir):\n" + offenders.mkString("\n"))
  }

  private val Fixture = "perfbench/fixture"

  private def scratchRoot(s: org.apache.spark.sql.SparkSession, dir: String): java.nio.file.Path =
    Scratch(s, dir).rootPath.getOrElse(fail(s"no scratch root at $dir"))

  test("clearSessionCaches deletes what the session's queries staged") {
    val s = spark.newSession()
    for (q <- Seq("stream_dedup", "source_jsonl", "dedup_minhash_incr"))
      assert(graft.SparkEntry.queries(q)(s, Fixture).count() > 0, q)
    val root = scratchRoot(s, Fixture)
    assert(Files.list(root).count() === 3, "one directory per query")
    graft.SparkEntry.clearSessionCaches(s)
    assert(!Files.exists(root))
  }

  test("the context's stop deletes the scratch root") {
    val s = spark.newSession()
    Files.write(Paths.get(Scratch(s, "d").dir("x"), "f"), Array[Byte](1))
    val root = scratchRoot(s, "d")
    // delivered directly: stopping the suite's shared context is not an option
    ListenerProbe.registered[SessionArtifacts.EndListener](spark.sparkContext)
      .foreach(_.onApplicationEnd(SparkListenerApplicationEnd(0L)))
    assert(!Files.exists(root))
  }

  test("the index queries at two dirs in two sessions write under four disjoint roots") {
    withTempDir { other =>
      for (t <- Seq("documents", "embeddings"))
        Files.copy(Paths.get(s"$Fixture/$t.parquet"), Paths.get(other, s"$t.parquet"))
      val sessions = Seq(spark.newSession(), spark.newSession())
      val roots = for (s <- sessions; dir <- Seq(Fixture, other)) yield {
        for (q <- Seq("dedup_minhash_incr", "ann_indexed", "ann_indexed_append"))
          assert(graft.SparkEntry.queries(q)(s, dir).count() > 0, s"$q at $dir")
        val root = scratchRoot(s, dir)
        assert(Files.list(root).iterator().asScala.map(_.getFileName.toString.takeWhile(_ != '-'))
          .toSeq.sorted === Seq("ivf", "ivf", "mh"), s"$root holds the three indexes")
        root
      }
      for (a <- roots; b <- roots if a ne b)
        assert(!a.startsWith(b), s"$a lies under $b")
      sessions.foreach(graft.SparkEntry.clearSessionCaches)
      assert(roots.forall(!Files.exists(_)))
    }
  }

  test("one end listener per context, however many sessions use the store") {
    val sessions = Seq.fill(4)(spark.newSession())
    sessions.foreach(s => SessionArtifacts.getOrBuild(s, "d", "k")(1))
    val listeners = ListenerProbe.registered[SessionArtifacts.EndListener](spark.sparkContext)
    assert(listeners.size == 1)
    sessions.foreach(SessionArtifacts.clear)
  }

  test("application end drops the context's entries") {
    val s = spark.newSession()
    val n = new AtomicInteger
    SessionArtifacts.getOrBuild(s, "d", "k")(counted(n)(1))
    // delivered directly: stopping the suite's shared context is not an option
    ListenerProbe.registered[SessionArtifacts.EndListener](spark.sparkContext)
      .foreach(_.onApplicationEnd(SparkListenerApplicationEnd(0L)))
    SessionArtifacts.getOrBuild(s, "d", "k")(counted(n)(1))
    assert(n.get == 2)
    SessionArtifacts.clear(s)
  }
}
