package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps the smallest id per identical key with dup_count") {
    val docs = Seq(
      (1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"), (5L, "ccc"),
    ).toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", Seq("text"))
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 1L, 5L -> 1L))
  }

  test("charShingles: distinct n-grams; short text yields itself") {
    def sh(t: String, n: Int): Seq[String] =
      Seq(t).toDF("text").select(ReferenceTwins.charShingles(col("text"), n)).as[Seq[String]].head()
    assert(sh("abcab", 3) === Seq("abc", "bca", "cab"))
    assert(sh("ab", 3) === Seq("ab"))
  }

  test("minhash signatures: identical sets match, disjoint sets differ") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "zzzz qqqq kkkk wwww vvvv uuuu"),
    ).toDF("doc_id", "text")
    val base = docs.select(col("doc_id"),
      array_distinct(ReferenceTwins.ngramHashes(col("text"), 5)).as("sh"))
    val sigs = Dedup.minhashSignature(base, "sh", 16).drop("sh").collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("minhashLsh finds near-duplicate pairs and skips dissimilar ones") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (3L, "completely different content about spark distributed query planning"),
      (4L, "completely different content about spark distributed query planning"),
      (5L, "nothing like any other document in this tiny corpus whatsoever"),
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 4, 16, 8, 0.5,
        graft.core.CacheScope.session)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("ngramJaccard: hot-gram cap drops boilerplate blocks without changing the pair set") {
    // sf0.001 documents: real duplicate clusters + shared boilerplate
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairs(maxDf: Int) =
      Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, blockMod = 8,
          threshold = 0.5, minShared = 2, maxDocFreq = maxDf)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = pairs(128)
    val uncapped = pairs(Int.MaxValue)
    assert(capped === uncapped)
    assert(capped.nonEmpty)
  }

  test("lshCandidatePairs: mega-bucket cap drops the over-cap clique only, loudly") {
    // 30 identical docs = one 30-member bucket in EVERY band (a C(30,2)
    // boilerplate clique) + one genuine near-dup pair that stays under
    // any cap ≥ 2.
    val clique = (1L to 30L).map(i => (i, "mass produced boilerplate footer text identical everywhere"))
    val docs = (clique ++ Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river"),
      (102L, "the quick brown fox jumps over the lazy dog near the rivers"),
    )).toDF("doc_id", "text")
    val base = docs.select(col("doc_id"),
      Dedup.distinctNgramHashes(col("text"), 5).as("sh"))
    val sigs = Dedup.minhashSignature(base, "sh", 16).drop("sh")
    def pairs(cap: Int) =
      Dedup.lshCandidatePairs(sigs, "doc_id", 16, 4, maxBucket = cap)
        .as[(Long, Long)].collect().toSet
    val capped = pairs(8)
    assert(capped.contains((101L, 102L)))            // under-cap bucket unaffected
    assert(!capped.exists { case (a, b) => a <= 30L || b <= 30L }) // clique dropped whole
    // cap unhit (default) ≡ uncapped: same pair set, clique included
    val dflt = pairs(8192)
    assert(dflt === pairs(Int.MaxValue))
    assert(dflt.contains((1L, 2L)) && dflt.contains((101L, 102L)))
  }

  test("native shingle/md5 expressions match the declarative chain exactly") {
    // pure declarative twins (md5Hash32/distinctNgramHashes auto-resolve
    // native in this extensions-enabled session)
    def declMd5(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    def declShingles(c: org.apache.spark.sql.Column, n: Int) =
      array_distinct(transform(ReferenceTwins.charShingles(c, n), g => declMd5(g)))
    val texts = Seq(
      null.asInstanceOf[String], "", "ab", "aaaaaaaa",
      "hello world hello world",
      "héllo wörld ünïcode", // 2-byte UTF-8
      "a😀b😀c defg",        // non-BMP (surrogate pairs)
    ).toDF("text")
    val got = texts.select(
      Dedup.distinctNgramHashes(col("text"), 5).as("nat"),
      declShingles(col("text"), 5).as("dec"),
      call_function("graft_md5_32", col("text")).as("m_nat"),
      declMd5(col("text")).as("m_dec"),
    ).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"shingles diverge: $r")
      assert(r.isNullAt(2) === r.isNullAt(3))
      if (!r.isNullAt(2)) assert(r.getLong(2) === r.getLong(3))
    }

    // word grams: native vs declarative (incl. null/empty/short/multibyte)
    def declWordGrams(c: org.apache.spark.sql.Column, n: Int) = {
      val toks = Dedup.tokens(c)
      array_distinct(transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => declMd5(concat_ws(" ", slice(toks, i, lit(n))))))
    }
    val wg = texts.select(
      Dedup.wordNgramHashes(col("text"), 3).as("nat"),
      declWordGrams(col("text"), 3).as("dec")).collect()
    wg.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1))
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"word grams diverge: $r")
    }

    // set overlap: native vs array_intersect/array_union sizes
    val arrs = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(5L, 5L, 6L), Seq(6L, 6L, 5L)),
      (Seq.empty[Long], Seq.empty[Long]),
    ).toDF("a", "b")
    val ov = arrs.select(
      call_function("graft_set_overlap", col("a"), col("b")).as("o"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("i"),
      size(array_union(col("a"), col("b"))).cast("long").as("u")).collect()
    ov.foreach { r =>
      val o = r.getStruct(0)
      assert(o.getLong(0) === r.getLong(1), s"inter diverges: $r")
      assert(o.getLong(1) === r.getLong(2), s"union diverges: $r")
    }
  }

  test("minhashCoeff is deterministic and within safe ranges") {
    val (a1, b1) = Dedup.minhashCoeff(3)
    val (a2, b2) = Dedup.minhashCoeff(3)
    assert((a1, b1) === ((a2, b2)))
    (0 until 32).foreach { k =>
      val (a, b) = Dedup.minhashCoeff(k)
      assert(a >= 1 && a < 2147483647L && b >= 0 && b < 2147483647L)
    }
  }

  test("components: min-label propagation finds exact connected components") {
    import spark.implicits._
    // two components: {1,2,3,7} chained 7-1, 1-2, 2-3 and {5,6}; 9 isolated
    // in the pair table is impossible (it appears only via docs below)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 1L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("components: a long path converges (diameter bound, not round-1 luck)") {
    import spark.implicits._
    val pairs = (1L until 12L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(1L) && comp.size == 12)
  }

  test("components: pointer jumping clears a path far longer than maxIters rounds") {
    import spark.implicits._
    // a 200-edge chain has diameter 200 > the default maxIters=50: plain
    // min-label propagation would abort; the label-compression jump must
    // converge it in O(log 200) ≈ 8 rounds
    val pairs = (1L to 200L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(1L) && comp.size == 201)
  }

  test("components: superseded round blocks are freed — storage bounded by one round") {
    import spark.implicits._
    // deep chain => many rounds; each round localCheckpoints two frames
    // (prop + updated). Without the per-round release the persistent-RDD
    // table would grow by ~2 entries per round; with it only the returned
    // final round survives.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (1L to 200L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val labels = Dedup.components(pairs)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    val leaked = (after -- before).size
    assert(leaked <= 1,
      s"components left $leaked persisted RDDs (expect <= 1: the final round)")
    // the surviving block set is the usable result
    assert(labels.as[(Long, Long)].collect().toMap.values.toSet == Set(1L))
  }

  test("components: checkpoint dir is restored after a checkpointDir run") {
    import spark.implicits._
    withTempDir { dir =>
      val prev = spark.sparkContext.getCheckpointDir
      val pairs = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
      Dedup.components(pairs, checkpointDir = Some(dir)).collect()
      assert(spark.sparkContext.getCheckpointDir === prev,
        "components leaked its checkpoint dir into the session")
    }
  }

  test("components: reliable checkpointDir path matches localCheckpoint result") {
    import spark.implicits._
    withTempDir { dir =>
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 1L), (5L, 6L), (10L, 11L)).toDF("id_a", "id_b")
      val local = Dedup.components(pairs).as[(Long, Long)].collect().toMap
      val reliable = Dedup.components(pairs, checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      assert(reliable === local)
      // the reliable path actually wrote rdd checkpoints to the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable checkpoint wrote no files")
    }
  }

  test("components: the 200-edge chain reads convergence off its own rounds") {
    import spark.implicits._
    // the loop's stop metric is observed on each round's materialisation
    // job; a separate convergence job per round took this chain to 86 jobs
    val pairs = (1L to 200L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    withTempDir { dir =>
      for (ckpt <- Seq(None, Some(dir))) {
        val jobs = jobsStarted(Dedup.components(pairs, checkpointDir = ckpt))
        assert(jobs <= 66, s"checkpointDir=$ckpt: $jobs jobs")
      }
    }
  }

  /** Union-find with the smaller root always kept, so a root is its
    * component's minimum id.
    */
  private def unionFind(raw: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    raw.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** A 32-document chain whose ids are shuffled along it: pointer jumping
    * shortcuts it far less than a chain with increasing ids.
    */
  private val shuffledChain: Seq[(Long, Long)] = {
    val ids = new scala.util.Random(11L).shuffle((1L to 32L).toVector)
    ids.zip(ids.tail)
  }

  test("components: a chain with shuffled ids matches union-find") {
    import spark.implicits._
    val got = Dedup.components(shuffledChain.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got === unionFind(shuffledChain))
  }

  test("components: too few rounds for a shuffled chain fail with the round count") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      Dedup.components(shuffledChain.toDF("id_a", "id_b"), maxIters = 3))
    assert(e.getMessage.contains("not converged after 3 rounds"), e.getMessage)
    assert(e.getMessage.contains("ids are out of order"), e.getMessage)
  }

  test("components on generated pair graphs: union-find, any partitioning") {
    import spark.implicits._
    // seeded pair tables with parallel and reversed pairs, self-loops and
    // long chains whose minimum id sits at the far end (the case pointer
    // jumping exists for)
    import org.scalacheck.{Gen, rng}
    def sampled[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, rng.Seed(seed + i)))
    val genV = Gen.choose(1L, 60L)
    val genPair = Gen.zip(genV, genV)
    val genPairs: Gen[Seq[(Long, Long)]] = Gen.frequency(
      6 -> genPair.map(Seq(_)),
      2 -> genPair.map(p => Seq(p, p)),
      2 -> genPair.map(p => Seq(p, p.swap)),
      1 -> genV.map(v => Seq((v, v))),
      1 -> Gen.zip(Gen.choose(10L, 19L), Gen.choose(5, 40)).map { case (b, len) =>
        (0 until len).map(i => (b * 100 + i + 1, b * 100 + i))
      },
    )
    for (seed <- Seq(7L, 41L, 303L)) {
      val raw = sampled(genPairs, 60, seed).flatten
      val want = unionFind(raw)
      assert(want.values.groupBy(identity).values.exists(_.size >= 10),
        s"seed=$seed: fixture must hold a long component")
      for (parts <- Seq(1, 7)) {
        val got = Dedup.components(raw.toDF("id_a", "id_b").repartition(parts))
          .as[(Long, Long)].collect().toMap
        assert(got === want, s"seed=$seed repartition($parts)")
      }
    }
  }

  test("clusters: every doc labeled, singletons self-clustered, sizes agg-shaped") {
    import spark.implicits._
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 4L), (6L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(docs, "doc_id", pairs)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 3L, 1L), (4L, 1L, 3L),
      (5L, 5L, 1L), (6L, 6L, 2L), (7L, 6L, 2L), (8L, 8L, 1L)))
  }

  test("clusters: empty pair table makes every doc its own cluster") {
    import spark.implicits._
    val docs = (1L to 3L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.clusters(docs, "doc_id", pairs)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 1L)))
  }

  test("dupPassageStats counts corpus-duplicated n-grams per document") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),       // grams: abc bcd (3-grams)
      (2L, "alpha beta gamma epsilon"),     // shares "alpha beta gamma" with 1
      (3L, "zeta eta theta iota"),          // no shared gram
    ).toDF("doc_id", "text")
    val out = Dedup.dupPassageStats(docs, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: grams {alpha beta gamma, beta gamma delta} -> 1 duplicated
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((2L, 0L, 0.0)))
  }

  test("dupPassageStats: broadcastHot=false is result-identical") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c x y"), (3L, "p q r s t"), (4L, "p q r u v"),
    ).toDF("doc_id", "text")
    def rows(b: Boolean) =
      Dedup.dupPassageStats(docs, "doc_id", "text", 3, 2, broadcastHot = b)
        .orderBy("doc_id").collect().toSeq
    assert(rows(true) === rows(false))
  }

  // Injected corpus for the span operators: the 5-token passage
  // "dup1..dup5" repeats in docs 1-3, "rep1..rep5" repeats in docs 1,4;
  // each doc's filler tokens (uN) are globally unique, so every hot
  // 3-gram lies strictly inside a repeated passage.
  private val spanDocs = Seq(
    // two passages separated by 2 unique tokens -> two spans (the gap
    // tokens are uncovered; anchors 5 apart > n=3 never merge)
    (1L, "u1 u2 dup1 dup2 dup3 dup4 dup5 u3 u4 rep1 rep2 rep3 rep4 rep5 u5"),
    // passage flush at the doc END -> the doc-end clip binds
    (2L, "u6 u7 u8 dup1 dup2 dup3 dup4 dup5"),
    // passage at the doc START
    (3L, "dup1 dup2 dup3 dup4 dup5 u9 u10 u11"),
    (4L, "u12 rep1 rep2 rep3 rep4 rep5 u13"),
    // no duplicated content at all -> no spans, rewrite is identity
    (5L, "u14 u15 u16 u17 u18 u19"),
  ).toDF("doc_id", "text")

  test("dupSpans: hand-checked maximal spans, doc-end clip, start/middle/end placement") {
    val spans = Dedup.dupSpans(spanDocs, "doc_id", "text", 3, 2)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    // passage of 5 tokens at position s -> anchors s..s+2 merge into (s, 5)
    assert(spans === Seq(
      (1L, 2L, 5L), (1L, 9L, 5L),
      (2L, 3L, 5L),
      (3L, 0L, 5L),
      (4L, 1L, 5L)))
  }

  test("dupSpans: a whole-doc duplicate (shorter than n) spans the full doc") {
    val docs = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc dd ee")).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", 3, 2)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    // fewer than n tokens -> the whole token list is the single gram at
    // position 0; coverage clips to the 2-token doc length
    assert(spans === Seq((1L, 0L, 2L), (2L, 0L, 2L)))
  }

  test("dupSpans: adjacent duplicated passages with no uncovered gap merge into one span") {
    // "p1..p4" and "q1..q4" each repeat; in doc 1 they abut, so coverage
    // is contiguous and the runs merge into a single 8-token span
    val docs = Seq(
      (1L, "u1 p1 p2 p3 p4 q1 q2 q3 q4 u2"),
      (2L, "p1 p2 p3 p4 z1 z2 z3"),
      (3L, "q1 q2 q3 q4 z4 z5 z6"),
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", 3, 2)
      .filter(col("doc_id") === 1L).as[(Long, Long, Long)].collect().toSeq
    assert(spans === Seq((1L, 1L, 8L)))
  }

  test("removeDupSpans: excises exactly the covered tokens, keeps filler and clean docs") {
    val out = Dedup.removeDupSpans(spanDocs, "doc_id", "text", 3, 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 15L, 5L, "u1 u2 u3 u4 u5"),
      (2L, 8L, 3L, "u6 u7 u8"),
      (3L, 8L, 3L, "u9 u10 u11"),
      (4L, 7L, 2L, "u12 u13"),
      (5L, 6L, 6L, "u14 u15 u16 u17 u18 u19")))
  }

  test("removeDupSpansKeepOne: each duplicated span string survives exactly once, " +
    "at its smallest (doc_id, start)") {
    val out = Dedup.removeDupSpansKeepOne(spanDocs, "doc_id", "text", 3, 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    // doc 1 holds the winning occurrence of BOTH passages -> untouched;
    // docs 2-4 lose their (non-winner) copies; doc 5 never had spans
    assert(out === Seq(
      (1L, 15L, 15L, "u1 u2 dup1 dup2 dup3 dup4 dup5 u3 u4 rep1 rep2 rep3 rep4 rep5 u5"),
      (2L, 8L, 3L, "u6 u7 u8"),
      (3L, 8L, 3L, "u9 u10 u11"),
      (4L, 7L, 2L, "u12 u13"),
      (5L, 6L, 6L, "u14 u15 u16 u17 u18 u19")))
    // whole-doc duplicates: the first doc keeps its text, the second empties
    val dup = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc dd ee")).toDF("doc_id", "text")
    val kept = Dedup.removeDupSpansKeepOne(dup, "doc_id", "text", 3, 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(kept === Seq((1L, 2L, 2L, "aa bb"), (2L, 2L, 0L, ""), (3L, 3L, 3L, "cc dd ee")))
  }

  test("dupSpans: broadcastHot=false is result-identical") {
    def rows(b: Boolean) =
      Dedup.dupSpans(spanDocs, "doc_id", "text", 3, 2, broadcastHot = b)
        .orderBy("doc_id", "span_start").collect().toSeq
    assert(rows(true) === rows(false))
  }
}
