package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pagerank: 2-cycle is stationary at 1.0; one-way edge drains to the base") {
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
    val rc = Graph.pagerank(cyc, "s", "d", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rc === Map("a" -> 1.0, "b" -> 1.0))
    val one = Seq(("a", "b")).toDF("s", "d")
    val ro = Graph.pagerank(one, "s", "d", iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a gets only the base; b gets base + 0.85 of a's full initial rank
    assert(ro("a") === 0.15)
    assert(ro("b") === 1.0)
  }

  test("pagerank: the hub of a star out-ranks its leaves") {
    val leaves = (1 to 10).map(i => (s"leaf$i", "hub"))
    val back = (1 to 10).map(i => ("hub", s"leaf$i"))
    val ranks = Graph.pagerank((leaves ++ back).toDF("s", "d"), "s", "d", iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks("hub") > ranks("leaf1") * 3)
  }

  test("pagerank is partitioning-independent (exact integer arithmetic)") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(300)((s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}")).toDF("s", "d")
    val a = Graph.pagerank(edges, "s", "d", 4).collect().toSet
    val b = Graph.pagerank(edges.repartition(7), "s", "d", 4).collect().toSet
    assert(a === b)
  }

  test("pagerank: parallel edges weight the walk") {
    // a sends to b twice and to c once: b receives 2/3 of a's mass
    val edges = Seq(("a", "b"), ("a", "b"), ("a", "c")).toDF("s", "d")
    val r = Graph.pagerank(edges, "s", "d", 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("b") > r("c"))
    // exact: b = 0.15 + 0.85 * 2 * (1e9 div 3)/1e9 ; c = 0.15 + 0.85 * (1e9 div 3)/1e9
    val third = 1000000000L / 3
    assert(r("b") === (150000000L + (85L * (2 * third)) / 100) / 1e9)
    assert(r("c") === (150000000L + (85L * third) / 100) / 1e9)
  }

  test("pagerank: checkpoint dir is restored after a checkpointDir run") {
    withTempDir { dir =>
      assert(spark.sparkContext.getCheckpointDir === None)
      val cyc = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
      Graph.pagerank(cyc, "s", "d", iters = 2, checkpointDir = Some(dir)).collect()
      assert(spark.sparkContext.getCheckpointDir === None,
        "pagerank leaked its checkpoint dir into the session")
    }
  }

  // --- triangles ---

  test("triangles: K4 has C(4,3)=4 triangles, 3 per vertex; a path has none") {
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
      .toDF("s", "d")
    val r = Graph.triangles(k4, "s", "d")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    assert(Graph.triangles(path, "s", "d").count() === 0L)
  }

  test("triangles: direction, duplicates and self-loops don't change the count") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    val noisy = Seq((2L, 1L), (1L, 2L), (3L, 2L), (1L, 3L), (1L, 1L), (3L, 3L))
      .toDF("s", "d")
    assert(Graph.triangles(tri, "s", "d").collect().toSet ===
      Graph.triangles(noisy, "s", "d").collect().toSet)
  }

  test("triangles matches a brute-force reference on a random graph, any partitioning") {
    val rnd = new scala.util.Random(7)
    val raw = Seq.fill(250)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val edges = raw.toDF("s", "d")
    // reference: enumerate all id-ordered node triples over the canonical set
    val es = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).toSet
    val nodes = es.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val expect = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if es((a, b)) && es((b, c)) && es((a, c))
    } { expect(a) += 1; expect(b) += 1; expect(c) += 1 }
    val got = Graph.triangles(edges, "s", "d")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === expect.toMap)
    val gotRep = Graph.triangles(edges.repartition(7), "s", "d")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(gotRep === expect.toMap)
  }

  test("trianglesProbe: all-true probe == triangles; md5 slice == apex-restricted reference") {
    val rnd = new scala.util.Random(13)
    val raw = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val edges = raw.toDF("s", "d")
    val full = Graph.triangles(edges, "s", "d")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val allTrue = Graph.trianglesProbe(edges, "s", "d", _ => lit(true))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(allTrue === full)
    // reference: per-triangle apex = the (degree, id)-minimum corner;
    // keep triangles whose apex md5 starts with the probe residue
    val es = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).toSet
    val degOf = es.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    def md5c(id: Long): Char = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(d(0)).charAt(0)
    }
    val inSlice = (id: Long) => md5c(id) == '0' || md5c(id) == '1'
    val nodes = es.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val expect = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if es((a, b)) && es((b, c)) && es((a, c))
      apex = Seq(a, b, c).minBy(n => (degOf(n), n))
      if inSlice(apex)
    } { expect(a) += 1; expect(b) += 1; expect(c) += 1 }
    val got = Graph.trianglesProbe(edges.repartition(5), "s", "d",
        ap => substring(md5(ap.cast("string")), 1, 1).isin("0", "1"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === expect.toMap)
  }

  test("clusteringProbe: full degrees, slice numerator, identical tick arithmetic") {
    val rnd = new scala.util.Random(29)
    val raw = Seq.fill(260)((rnd.nextInt(24).toLong, rnd.nextInt(24).toLong))
    val edges = raw.toDF("s", "d")
    val probe = (ap: org.apache.spark.sql.Column) =>
      substring(md5(ap.cast("string")), 1, 1).isin("0", "1", "2", "3")
    val fullC = Graph.clustering(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val triP = Graph.trianglesProbe(edges, "s", "d", probe)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap.withDefaultValue(0L)
    val gotC = Graph.clusteringProbe(edges, "s", "d", probe)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(gotC.keySet === fullC.keySet) // every vertex still gets a row
    gotC.foreach { case (n, (deg, ntri, ticks)) =>
      assert(deg === fullC(n)._1, s"degree of $n must be the FULL degree")
      assert(ntri === triP(n), s"numerator of $n must be the slice count")
      val want = if (deg >= 2) 2000000L * triP(n) / (deg * (deg - 1)) else 0L
      assert(ticks === want, s"ticks of $n")
    }
  }

  test("triangles: a hub star stays wedge-free (orientation bounds the apex fan-out)") {
    // star: hub-leafN plus one leaf-leaf edge — exactly 1 triangle; the
    // hub's high degree must not make it the wedge apex for all pairs
    val star = ((1 to 50).map(i => (0L, i.toLong)) :+ (1L, 2L)).toDF("s", "d")
    val r = Graph.triangles(star, "s", "d")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("triangles on generated multigraphs: brute force, any partitioning, probe and clustering twins") {
    // seeded multigraphs mixing every input shape the canonicalization and
    // the (degree, id) orientation must absorb: parallel edges, reversed
    // pairs, self-loops, equal-degree cliques (ties broken by id) and one
    // low-id hub adjacent to about half the vertices
    import org.scalacheck.{Gen, rng}
    def sampled[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, rng.Seed(seed + i)))
    val genV = Gen.choose(1L, 40L)
    val genPair = Gen.zip(genV, genV)
    val genEdges: Gen[Seq[(Long, Long)]] = Gen.frequency(
      8 -> genPair.map(Seq(_)),
      2 -> genPair.map(p => Seq(p, p)),
      2 -> genPair.map(p => Seq(p, p.swap)),
      1 -> genV.map(v => Seq((v, v))),
      4 -> genV.map(v => Seq((0L, v))),
      1 -> Gen.choose(100L, 140L).map(b => // a 4-clique: four degree-3 ties
        for (i <- 0L to 3L; j <- i + 1 to 3L) yield (b * 4 + i, b * 4 + j)),
    )
    def reference(raw: Seq[(Long, Long)]): Map[Long, Long] = {
      val es = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(p => p._1 != p._2).toSet
      val adj = es.toSeq.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
        .map { case (n, ps) => n -> ps.map(_._2).toSet }
      val counts = for {
        (a, b) <- es.toSeq; c <- adj(b).toSeq if c > b && adj(a)(c); n <- Seq(a, b, c)
      } yield n
      counts.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    }
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq
    for (seed <- Seq(3L, 17L, 101L)) {
      val raw = sampled(genEdges, 220, seed).flatten
      val edges = raw.toDF("s", "d")
      val want = reference(raw)
      assert(want.nonEmpty && want.contains(0L), s"seed=$seed: fixture must close hub triangles")
      assert(asMap(Graph.triangles(edges, "s", "d")) === want, s"seed=$seed")
      for (parts <- Seq(1, 7))
        assert(asMap(Graph.triangles(edges.repartition(parts), "s", "d")) === want,
          s"seed=$seed repartition($parts)")
      assert(asMap(Graph.trianglesProbe(edges, "s", "d", _ => lit(true))) === want,
        s"seed=$seed all-true probe")
      assert(sortedRows(Graph.clusteringFromCounts(edges, "s", "d",
        Graph.triangles(edges, "s", "d"))) === sortedRows(Graph.clustering(edges, "s", "d")),
        s"seed=$seed clustering")
    }
  }

  test("kcore: peeling a K4-plus-tail leaves exactly the K4; enough rounds is a fixpoint") {
    // K4 on 1-4 plus a pendant path 4-5-6: 3-core = the K4
    val g = ((for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong)) ++
      Seq((4L, 5L), (5L, 6L))).toDF("s", "d")
    val core = Graph.kcore(g, "s", "d", k = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // extra rounds are no-ops once converged (monotone peel)
    val more = Graph.kcore(g, "s", "d", 3, 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more === core)
    // k above the densest core empties the graph
    assert(Graph.kcore(g, "s", "d", 4, 5).count() === 0L)
  }

  test("kcore: cascading peel needs multiple rounds and is partitioning-independent") {
    // chain of triangles sharing vertices: peeling at k=2 keeps everything;
    // a pendant chain 10-11-12-13 peels one vertex per round from the end
    val g = (Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++
      Seq((3L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))).toDF("s", "d")
    val r1 = Graph.kcore(g, "s", "d", 2, 1).collect().map(_.getLong(0)).toSet
    val r4 = Graph.kcore(g, "s", "d", 2, 6).collect().map(_.getLong(0)).toSet
    assert(r1.contains(12L) && !r1.contains(13L)) // only the tail end peeled so far
    assert(r4 === Set(1L, 2L, 3L))                // the triangle is the 2-core
    val rep = Graph.kcore(g.repartition(7), "s", "d", 2, 6)
      .collect().map(_.getLong(0)).toSet
    assert(rep === r4)
  }

  test("kcore on generated multigraphs: brute-force peel, fixed rounds, any partitioning") {
    // seeded multigraphs with parallel and reversed edges, self-loops,
    // 5-cliques (a dense core) and long pendant chains, which peel one
    // vertex per round from their free end
    import org.scalacheck.{Gen, rng}
    def sampled[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, rng.Seed(seed + i)))
    val genV = Gen.choose(1L, 30L)
    val genPair = Gen.zip(genV, genV)
    val genEdges: Gen[Seq[(Long, Long)]] = Gen.frequency(
      6 -> genPair.map(Seq(_)),
      2 -> genPair.map(p => Seq(p, p)),
      2 -> genPair.map(p => Seq(p, p.swap)),
      1 -> genV.map(v => Seq((v, v))),
      1 -> Gen.choose(40L, 60L).map(b => // a 5-clique
        for (i <- 0L to 4L; j <- i + 1 to 4L) yield (b * 5 + i, b * 5 + j)),
      1 -> Gen.zip(genV, Gen.choose(100L, 120L), Gen.choose(3, 20)).map { case (v, b, len) =>
        val ids = v +: (0L until len.toLong).map(b * 100 + _)
        ids.zip(ids.tail)
      },
    )
    // the peel itself: drop every vertex of degree < k with its edges,
    // until a round drops nothing or `rounds` rounds have run
    def peel(raw: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
      def degrees(es: Set[(Long, Long)]): Map[Long, Long] =
        es.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
          .map { case (n, xs) => n -> xs.size.toLong }
      var es = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(p => p._1 != p._2).toSet
      var (round, dropped) = (0, true)
      while (round < rounds && dropped) {
        val drop = degrees(es).filter(_._2 < k).keySet
        dropped = drop.nonEmpty
        es = es.filterNot(p => drop(p._1) || drop(p._2))
        round += 1
      }
      degrees(es)
    }
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    for (seed <- Seq(5L, 23L, 211L)) {
      val raw = sampled(genEdges, 80, seed).flatten
      val edges = raw.toDF("s", "d")
      val core2 = peel(raw, 2, 100)
      assert(core2.nonEmpty && peel(raw, 2, 2) != core2,
        s"seed=$seed: fixture must have a 2-core and chains longer than 2 rounds")
      for (parts <- Seq(1, 7)) {
        val e = edges.repartition(parts)
        assert(asMap(Graph.kcore(e, "s", "d", 2, 100)) === core2, s"seed=$seed parts=$parts k=2")
        assert(asMap(Graph.kcore(e, "s", "d", 3, 100)) === peel(raw, 3, 100),
          s"seed=$seed parts=$parts k=3")
        assert(asMap(Graph.kcore(e, "s", "d", 2, 2)) === peel(raw, 2, 2),
          s"seed=$seed parts=$parts k=2 rounds=2")
      }
    }
  }

  test("clustering: K4 is 1.0 everywhere; paths are 0; hub-star ticks hand-checked") {
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
      .toDF("s", "d")
    val ck4 = Graph.clustering(k4, "s", "d")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(ck4.length === 4)
    assert(ck4.forall { case (_, d, t, c) => d === 3L && t === 3L && c === 1000000L })
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val cp = Graph.clustering(path, "s", "d")
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(cp === Map(1L -> 0L, 2L -> 0L, 3L -> 0L)) // incl. degree-1 convention
    val star = ((1 to 50).map(i => (0L, i.toLong)) :+ (1L, 2L)).toDF("s", "d")
    val cs = Graph.clustering(star, "s", "d")
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(cs(0L) === 2000000L / (50L * 49L)) // hub: 1 triangle over C(50,2)
    assert(cs(1L) === 1000000L && cs(2L) === 1000000L)
    assert(cs(3L) === 0L) // triangle-free leaf still gets its row
  }

  test("clusteringFromCounts == clustering when counts is the matching triangle table") {
    // the count-once-then-coefficient seam (SparkEntry's cached triangle
    // tables ride through it): supplying triangles(edges) must reproduce
    // clustering(edges) bit-identically, incl. noisy direction/dup/self-
    // loop inputs and the probe twin's full-degree/sliced-numerator shape
    val rnd = new scala.util.Random(13)
    val edges = (Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)) ++
      Seq((5L, 5L), (7L, 8L), (8L, 7L))).toDF("s", "d")
    val full = Graph.clustering(edges, "s", "d").collect().toSet
    val viaCounts = Graph.clusteringFromCounts(edges, "s", "d",
      Graph.triangles(edges, "s", "d")).collect().toSet
    assert(viaCounts === full)
    val probe: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      a => substring(md5(a.cast("string")), 1, 1) === "a"
    val probeFull = Graph.clusteringProbe(edges, "s", "d", probe).collect().toSet
    val probeVia = Graph.clusteringFromCounts(edges, "s", "d",
      Graph.trianglesProbe(edges, "s", "d", probe)).collect().toSet
    assert(probeVia === probeFull)
  }
}
