package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 8
  private val rng = new scala.util.Random(7)

  /** 3 tight clusters of 10 vectors each around random centers.
    * (lazy val: a def would re-draw from the RNG per call and give every
    * test a different dataset.)
    */
  private lazy val vectors: Seq[(Long, Seq[Float])] = {
    val centers = Seq.fill(3)(Array.fill(Dim)(rng.nextGaussian()))
    (0 until 30).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.05).toFloat).toSeq)
    }
  }

  private def emb = vectors.toDF("vec_id", "embedding")

  test("hyperplanes are deterministic and in [-0.5, 0.5)") {
    val a = Similarity.hyperplanes(4, Dim)
    val b = Similarity.hyperplanes(4, Dim)
    assert(a.flatten.toSeq === b.flatten.toSeq)
    assert(a.flatten.forall(x => x >= -0.5 && x < 0.5))
  }

  test("topK returns k rows per query ranked by cosine, no self matches") {
    val out = Similarity.topK(emb, "vec_id", "embedding", Seq(0L, 1L), 5).collect()
    assert(out.length === 10)
    assert(!out.exists(r => r.getLong(0) == r.getLong(1)))
    // top neighbors of vector 0 are its cluster-mates (ids ≡ 0 mod 3)
    val n0 = out.filter(_.getLong(0) == 0L).map(_.getLong(1))
    assert(n0.forall(_ % 3 == 0))
    // ranks are 1..5 and cosine non-increasing
    val cos0 = out.filter(_.getLong(0) == 0L).sortBy(_.getLong(3)).map(_.getDouble(2))
    assert(cos0.zip(cos0.tail).forall { case (a, b) => a >= b })
  }

  test("lshTopK achieves high recall vs brute force on clustered data") {
    val planes = Similarity.hyperplanes(12, Dim)
    val queries = Seq(0L, 1L, 2L)
    val exact = Similarity.topK(emb, "vec_id", "embedding", queries, 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", queries, 3, planes, 3, 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low") // tight clusters → buckets catch mates
  }

  test("IVF: deterministic centroids; probed top-k recovers cluster-mates") {
    val c1 = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 3, iters = 3)
    val c2 = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 3, iters = 3)
    assert(c1.flatten.toSeq === c2.flatten.toSeq)
    val queries = Seq(0L, 1L, 2L)
    val exact = Similarity.topK(emb, "vec_id", "embedding", queries, 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 3, c1, nProbe = 2)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall too low") // 3 tight clusters, k=3
  }

  test("IVF: centroid update holds at embedding dim 256 (posexplode mean form)") {
    // the former per-dimension avg(element_at) update planned ~dim
    // aggregate expressions; this pins the high-dim form: correct means,
    // deterministic, no expression-count blowup at a realistic dim
    val dim = 256
    val r = new scala.util.Random(11)
    val centers = Seq.fill(2)(Array.fill(dim)(r.nextGaussian()))
    val hi = (0 until 20).map { i =>
      val c = centers(i % 2)
      (i.toLong, c.map(x => (x + r.nextGaussian() * 0.01).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val c1 = Similarity.ivfCentroids(hi, "vec_id", "embedding", k = 2, iters = 2)
    val c2 = Similarity.ivfCentroids(hi, "vec_id", "embedding", k = 2, iters = 2)
    assert(c1.length === 2 && c1.forall(_.length === dim))
    assert(c1.flatten.toSeq === c2.flatten.toSeq)
    // each learned centroid sits close to one true center (cosine > 0.99)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    c1.foreach { c => assert(centers.exists(t => cos(c, t) > 0.99)) }
  }

  test("cosineDup finds cluster-mate pairs above threshold, ordered ids") {
    val planes = Similarity.hyperplanes(12, Dim)
    val pairs = Similarity.cosineDup(emb, "vec_id", "embedding", 0.95, planes, 3, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.forall { case (a, b) => a % 3 == b % 3 }) // only cluster-mates that similar
  }

  test("cosineDup: mega-bucket cap drops an identical-vector clique only") {
    // 24 copies of one vector land in the SAME bucket of every table (a
    // C(24,2) clique); a separate near-identical pair stays under the cap.
    val vA = Array.tabulate(Dim)(i => math.sin(i + 1.0).toFloat)
    val vC = Array.tabulate(Dim)(i => math.cos(3.0 * i + 2.0).toFloat)
    val rows = (1L to 24L).map(i => (i, vA.toSeq)) ++
      Seq((101L, vC.toSeq), (102L, vC.map(x => x * 1.001f + 1e-4f).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(12, Dim)
    def pairs(cap: Int) =
      Similarity.cosineDup(df, "vec_id", "embedding", 0.99, planes, 3, 4, maxBucket = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = pairs(8)
    assert(capped.contains((101L, 102L)))
    assert(!capped.exists { case (a, b) => a <= 24L || b <= 24L })
    val dflt = pairs(8192) // cap unhit ≡ uncapped
    assert(dflt === pairs(Int.MaxValue))
    assert(dflt.contains((1L, 2L)) && dflt.contains((101L, 102L)))
  }

  test("cosineDupProbe == cosineDupAuto restricted to probe(id_a) — the audit-slice identity") {
    val probe: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      idc => substring(md5(idc.cast("string")), 1, 1) === "0"
    // 120 vectors so the 1/16 md5 slice is provably populated (ids 27, 59,
    // 60, 63 land in it and each has larger cluster-mates)
    val rng2 = new scala.util.Random(11)
    val centers = Seq.fill(3)(Array.fill(Dim)(rng2.nextGaussian()))
    val big = (0 until 120).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rng2.nextGaussian() * 0.05).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // threshold 0.4 at the graded dedup_cosine_probe parameters
    val full = Similarity.cosineDupAuto(big, "vec_id", "embedding", 0.4, targetRecall = 0.5)
      .filter(probe(col("id_a")))
      .as[(Long, Long, Double)].collect().toSet
    val sliced = Similarity.cosineDupProbe(big, "vec_id", "embedding", 0.4, probe,
        targetRecall = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(sliced === full)
    assert(sliced.nonEmpty) // the fixture must actually exercise the slice
  }

  test("cosineDup plan: ONE pair join, threshold filter below the distinct (round-11 shape)") {
    val planes = Similarity.hyperplanes(12, Dim)
    val plan = Similarity.cosineDup(emb, "vec_id", "embedding", 0.95, planes, 3, 4)
      .queryExecution.optimizedPlan.toString
    // the old shape had THREE logical joins (bucket pairing + two
    // attach-by-id); bucket-local scoring has exactly the bucket
    // self-join — the candidates x |vec| attach shuffle (the sf10 disk
    // killer) is gone. (The cached withVec subtree shows its own build
    // join as BroadcastHashJoin lines; the logical surface has ONE.)
    val pairJoins = "Join Inner".r.findAllIn(plan).toSeq
    assert(pairJoins.length === 1, s"plan:\n$plan")
    // and Catalyst fuses the >= threshold INTO that join's condition —
    // the filter provably runs before any pair-level exchange
    val joinLine = plan.linesIterator.find(_.contains("Join Inner")).get
    assert(joinLine.contains(">= 0.95"), s"threshold not fused into the pair join:\n$plan")
  }

  test("simhash of identical docs is identical; hamming-far for disjoint docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa lambda"),
      (4L, ""),
    ).toDF("doc_id", "text")
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(3L))
    assert(sh(4L) === 0L)
  }

  test("ngramJaccard blocks and scores word-ngram overlap") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely unrelated text with different words entirely"),
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("semanticDup pairs only within a cluster, at exact cosine threshold") {
    // two tight clusters on orthogonal axes + one outlier vector
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.1f, 0.9f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0))
    val pairs = Similarity.semanticDup(emb, "vec_id", "embedding", 0.9, cents)
      .select("id_a", "id_b", "cluster").as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L, 0L), (2L, 3L, 1L)))
  }

  test("semanticDup: a mega-cluster over maxCluster is dropped from pairing") {
    val emb = (0L until 10L).map(i => (i, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val all = Similarity.semanticDup(emb, "vec_id", "embedding", 0.0, cents)
    assert(all.count() === 45L) // C(10,2), all in cluster 0
    val capped = Similarity.semanticDup(emb, "vec_id", "embedding", 0.0, cents,
      maxCluster = 5)
    assert(capped.count() === 0L)
  }

  test("semanticDupAuto with occupancy >= n degenerates to all-pairs brute force") {
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(4)(d => math.sin(i * 1.7 + d * 0.9).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    // k = ceil(12/100) = 1 -> one coarse seed, one fine seed, ONE cluster:
    // the output must be exactly the brute-force pair set at the threshold
    val got = Similarity.semanticDupAuto(emb, "vec_id", "embedding", 0.5,
      targetOccupancy = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      if BigDecimal(cos(va, vb)).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.5
    } yield (ia, ib)).toSet
    assert(got === want)
    assert(want.nonEmpty, "test corpus must produce at least one pair")
  }

  test("semanticDupAuto is partition-invariant and one-cluster-per-vector") {
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(6)(d => math.cos(i * 0.37 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val a = Similarity.semanticDupAuto(emb, "vec_id", "embedding", 0.3,
      targetOccupancy = 8).orderBy("id_a", "id_b").collect().toSeq
    val b = Similarity.semanticDupAuto(emb.repartition(7), "vec_id", "embedding", 0.3,
      targetOccupancy = 8).orderBy("id_a", "id_b").collect().toSeq
    assert(a === b, "the construction is a pure function of ids and values")
    // a pair never appears under two clusters (each vector is in exactly one)
    val keys = a.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.size === keys.size)
  }

  test("ivfTopKAuto with full probes equals brute-force topK exactly") {
    val queries = Seq(0L, 1L, 2L)
    val exact = Similarity.topK(emb, "vec_id", "embedding", queries, 3)
      .orderBy("q_id", "rank").collect().toSeq
    // probes wide enough to cover every coarse cell and every fine list:
    // candidates = the whole corpus, so the result must be bit-identical
    val full = Similarity.ivfTopKAuto(emb, "vec_id", "embedding", queries, 3,
      targetOccupancy = 4, nProbeCoarse = 1000, nProbeFine = 1000)
      .orderBy("q_id", "rank").collect().toSeq
    assert(full === exact)
  }

  test("ivfTopKAuto recovers cluster-mates at narrow probes on clustered data") {
    val queries = Seq(0L, 1L, 2L)
    val exact = Similarity.topK(emb, "vec_id", "embedding", queries, 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val auto = Similarity.ivfTopKAuto(emb, "vec_id", "embedding", queries, 3,
      targetOccupancy = 8, nProbeCoarse = 2, nProbeFine = 3)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect auto).size.toDouble / exact.size
    assert(recall >= 0.5, s"auto-IVF recall $recall too low")
  }

  test("ivfIndexTopK over a written cell-partitioned index equals ivfTopK exactly") {
    val queries = Seq(0L, 1L, 2L)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 4, iters = 3)
    val direct = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 3, cents, nProbe = 2)
      .orderBy("q_id", "rank").collect().toSeq
    withTempDir { path =>
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, path)
      val indexed = Similarity.ivfIndexTopK(spark.read.parquet(path),
          emb.filter($"vec_id".isin(queries: _*)), "vec_id", "embedding", 3, cents, nProbe = 2)
        .orderBy("q_id", "rank").collect().toSeq
      assert(indexed === direct,
        "the storage-side probe must answer identically to the compute-side operator")
    }
  }

  test("ivfIndexTopK maxPlanCells: past the cap the cell filter becomes a semi-join " +
    "(no literal IN-list, no unbounded driver collect) with identical answers") {
    val queries = (0L to 40L).toSeq // a batch wide enough to probe > 1 distinct cell
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 4, iters = 3)
    withTempDir { path =>
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, path)
      val qs = emb.filter($"vec_id".isin(queries: _*))
      val literal = Similarity.ivfIndexTopK(spark.read.parquet(path), qs,
        "vec_id", "embedding", 3, cents, nProbe = 2)
      val capped = Similarity.ivfIndexTopK(spark.read.parquet(path), qs,
        "vec_id", "embedding", 3, cents, nProbe = 2, maxPlanCells = 1)
      assert(capped.orderBy("q_id", "rank").collect().toSeq ===
        literal.orderBy("q_id", "rank").collect().toSeq)
      // plan audit: the capped path must carry the semi-join, not an IN-list
      val plan = capped.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), s"expected a semi-join cell filter:\n$plan")
      assert(!plan.contains("cell#) IN") && !"cell IN \\(".r.findFirstIn(plan).isDefined,
        s"capped path must not plan a literal cell IN-list:\n$plan")
      // and the literal path keeps plan-time pruning (IN-list present)
      val litPlan = literal.queryExecution.executedPlan.toString
      assert(litPlan.contains("LeftSemi") === false)
    }
  }

  test("appendToIvfIndex: two-batch build == one-shot index, centroids round-trip") {
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 4, iters = 3)
    withTempDir { tmp =>
      val (oneShot, twoStep) = (s"$tmp/one", s"$tmp/two")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, oneShot)
      Similarity.writeIvfIndex(emb.filter($"vec_id" % 3 === 0), "vec_id", "embedding",
        cents, twoStep)
      Similarity.appendToIvfIndex(emb.filter($"vec_id" % 3 =!= 0), "vec_id", "embedding",
        twoStep)
      // the frozen quantizer is part of the artifact and round-trips exactly
      val back = Similarity.readIvfCentroids(spark, twoStep)
      assert(back.map(_.toSeq).toSeq === cents.map(_.toSeq).toSeq)
      // identical (id, cell) assignment — layout compatibility is per-row
      def rows(p: String) = spark.read.parquet(p)
        .select("vec_id", "cell").as[(Long, Int)].collect().toSet
      assert(rows(twoStep) === rows(oneShot))
      // and identical answers through the probe
      val queries = Seq(0L, 1L, 2L)
      def ans(p: String) = Similarity.ivfIndexTopK(spark.read.parquet(p),
          emb.filter($"vec_id".isin(queries: _*)), "vec_id", "embedding", 3, cents, nProbe = 2)
        .orderBy("q_id", "rank").collect().toSeq
      assert(ans(twoStep) === ans(oneShot))
      // appending under a missing/foreign directory fails loudly
      intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(emb, "vec_id", "embedding",
          java.nio.file.Files.createDirectory(java.nio.file.Paths.get(tmp, "foreign")).toString)
      }
    }
  }

  test("probe config persists in the index artifact: round-trip exact; search at " +
    "stored widths == search at explicit widths; uncalibrated reads back None") {
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 4, iters = 3)
    val cfg = Similarity.IvfProbeConfig(2, 3, 0.9375, met = true)
    withTempDir { tmp =>
      val (path, bare) = (s"$tmp/calibrated", s"$tmp/bare")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, path, probe = Some(cfg))
      assert(Similarity.readIvfProbeConfig(spark, path) === Some(cfg),
        "the calibrated config must round-trip bit-exactly")
      val qs = emb.filter($"vec_id".isin(0L, 1L, 2L))
      val stored = Similarity.ivfIndexTopK(spark, path, qs, "vec_id", "embedding", 3)
        .orderBy("q_id", "rank").collect().toSeq
      val explicit = Similarity.ivfIndexTopK(spark.read.parquet(path), qs,
          "vec_id", "embedding", 3, cents,
          nProbe = math.min(cfg.nProbeCoarse * cfg.nProbeFine, cents.length))
        .orderBy("q_id", "rank").collect().toSeq
      assert(stored === explicit,
        "stored-widths search must be the explicit-widths search")
      // an index written WITHOUT a calibration carries no config and
      // searches at the caller's default breadth
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, bare)
      assert(Similarity.readIvfProbeConfig(spark, bare) === None)
      val atDefault = Similarity.ivfIndexTopK(spark, bare, qs, "vec_id", "embedding", 3)
        .orderBy("q_id", "rank").collect().toSeq
      val atTwo = Similarity.ivfIndexTopK(spark.read.parquet(bare), qs,
          "vec_id", "embedding", 3, cents, nProbe = 2)
        .orderBy("q_id", "rank").collect().toSeq
      assert(atDefault === atTwo)
    }
  }

  test("ivfAutoProbe knownCount: supplying the corpus count is result-identical " +
    "to letting the probe count") {
    val a = Similarity.ivfAutoProbe(emb, "vec_id", "embedding", 3, 0.7,
      nCalib = 4, targetOccupancy = 8)
    val b = Similarity.ivfAutoProbe(emb, "vec_id", "embedding", 3, 0.7,
      nCalib = 4, targetOccupancy = 8, knownCount = Some(vectors.size.toLong))
    assert(a === b)
  }

  test("ivfIndexCellStats reports counts and skew vs the median cell") {
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 4, iters = 3)
    withTempDir { path =>
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", cents, path)
      val stats = Similarity.ivfIndexCellStats(spark.read.parquet(path)).collect()
      assert(stats.map(_.getAs[Long]("n")).sum === emb.count())
      assert(stats.forall(_.getAs[Double]("frac_of_median") > 0.0))
    }
  }

  test("pqCodebooks are deterministic and partition-invariant") {
    val a = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ksub = 4, iters = 2)
    val b = Similarity.pqCodebooks(emb.repartition(7), "vec_id", "embedding", m = 4, ksub = 4, iters = 2)
    assert(a.flatten.flatten.toSeq === b.flatten.flatten.toSeq,
      "codebooks must be a pure function of the data (seeded by id hash)")
    assert(a.length === 4 && a.forall(_.length === 4) && a.forall(_.forall(_.length === 2)))
  }

  test("pqEncode: one small code per subspace, partition-invariant") {
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 4, 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .collect().map(r => (r.getLong(0), (1 to 4).map(r.getInt)))
    assert(codes.length === 30)
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 4)))
    val codes2 = Similarity.pqEncode(emb.repartition(5), "vec_id", "embedding", books)
      .collect().map(r => (r.getLong(0), (1 to 4).map(r.getInt))).toSet
    assert(codes.toSet === codes2)
  }

  test("pqTopK: ADC over codes alone recovers cluster-mates on clustered data") {
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 4, 2)
    val out = Similarity.pqTopK(emb, "vec_id", "embedding", Seq(0L, 1L, 2L), 3, books)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 9, "3 rows per query")
    // clusters are i % 3: every ADC hit must be a true cluster-mate
    assert(out.forall { case (q, id, _, _) => id % 3 == q % 3 && id != q },
      s"ADC hits must stay in the query's cluster: ${out.mkString(", ")}")
    // ranks are 1..k with ticks non-decreasing per query
    out.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === Seq(1L, 2L, 3L))
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sorted.toSeq)
    }
  }

  test("knnPredict: majority label of the exact neighbors; vote ties break to the smaller label") {
    // query 0 at the origin-ish; neighbors engineered so labels split 2/1
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)),            // query
      (1L, Array(0.99f, 0.1f)),           // close, label 1
      (2L, Array(0.98f, 0.15f)),          // close, label 2
      (3L, Array(0.97f, 0.2f)),           // close, label 0
      (4L, Array(-1.0f, 0.0f)))           // far
      .toDF("vec_id", "embedding")
    val lbl = Seq((1L, 7L), (2L, 7L), (3L, 9L), (4L, 9L), (0L, 0L))
      .toDF("id", "lbl")
    val out = Similarity.knnPredict(vs, "vec_id", "embedding",
        lbl, "id", "lbl", Seq(0L), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Array((0L, 7L, 2L))) // labels {7,7,9} -> 7 with 2 votes
    // tie: k=2 gives {7,7}... use k=4? neighbors 1,2,3 + 4 -> {7,7,9,9}: tie -> smaller label
    val tie = Similarity.knnPredict(vs, "vec_id", "embedding",
        lbl, "id", "lbl", Seq(0L), 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(tie === Array((7L, 2L)))
    // the metadata-sized neighbor table broadcasts into the label join
    val plan = Similarity.knnPredict(vs, "vec_id", "embedding",
        lbl, "id", "lbl", Seq(0L), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the neighbor set must broadcast — the label table never shuffles for the join:\n$plan")
  }

  test("recallAtK: full overlap = 1, disjoint = 0, partial counts hits; " +
    "a query missing from the approximate side still reports 0") {
    import spark.implicits._
    val exact = Seq((0L, 10L), (0L, 11L), (0L, 12L),
                    (1L, 20L), (1L, 21L), (1L, 22L),
                    (2L, 30L), (2L, 31L), (2L, 32L)).toDF("q_id", "vec_id")
    val approx = Seq((0L, 10L), (0L, 11L), (0L, 12L),   // full overlap
                     (1L, 20L), (1L, 99L), (1L, 98L))   // one hit; q 2 absent
      .toDF("q_id", "vec_id")
    val out = Similarity.recallAtK(exact, approx, "q_id", "vec_id", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(0L) === ((3L, 1.0)))
    assert(out(1L) === ((1L, 0.333333)))
    assert(out(2L) === ((0L, 0.0)))
  }
}
