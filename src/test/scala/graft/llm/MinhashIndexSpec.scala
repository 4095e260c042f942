package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.CacheScope

class MinhashIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Cfg = MinhashIndex.Config(shingleLen = 4, numHashes = 8, bands = 4,
    threshold = 0.5)

  /** A corpus with planted near-dups across the old/new split and inside
    * the new batch: ids 1..40 old, 41..50 new; doc i is a rotation of one
    * of 6 base sentences so rotations of the same base are near-dups.
    */
  private def corpus = (1L to 50L).map { i =>
    val base = (i % 6).toInt
    val words = (0 until 12).map(j => s"w${(base * 7 + j) % 17}")
    val rot = (i % 3).toInt // 3 rotations per base → cross-split dups
    (i, (words.drop(rot) ++ words.take(rot)).mkString(" "))
  }.toDF("doc_id", "text")

  private def oldDocs = corpus.filter($"doc_id" <= 40)
  private def newDocs = corpus.filter($"doc_id" > 40)

  private def fullPairs(maxBucket: Int = 8192) = {
    val sigsAll = {
      val base = corpus.select(col("doc_id"),
        Dedup.distinctNgramHashes(col("text"), Cfg.shingleLen).as("sh"))
      Dedup.minhashSignature(base, "sh", Cfg.numHashes)
    }
    val cand = Dedup.lshCandidatePairs(sigsAll.drop("sh"), "doc_id",
      Cfg.numHashes, Cfg.bands, CacheScope.session, maxBucket)
    val sets = sigsAll.select(col("doc_id").as("_id"), col("sh"))
    val (inter, uni) = Dedup.overlapCols(col("sh_a"), col("sh_b"))
    cand
      .join(sets.select(col("_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(inter / uni, 6))
      .filter(col("jaccard") >= Cfg.threshold)
      .select("id_a", "id_b", "jaccard")
  }

  test("dedupAgainst equals the whole-corpus run restricted to batch-touching pairs") { withTempDir { path =>
    MinhashIndex.write(oldDocs, "doc_id", "text", path, Cfg, CacheScope.session)
    val got = MinhashIndex.dedupAgainst(newDocs, "doc_id", "text", path)
      .as[(Long, Long, Double)].collect().toSet
    val want = fullPairs().filter($"id_a" > 40 || $"id_b" > 40)
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty, "planted corpus produced no cross-batch near-dups")
    assert(got === want)
    // and it found both batch-vs-corpus AND batch-internal pairs
    assert(got.exists(p => p._1 <= 40 && p._2 > 40))
  }}

  test("the mega-bucket cap decision matches the whole-corpus census") { withTempDir { path =>
    MinhashIndex.write(oldDocs, "doc_id", "text", path, Cfg, CacheScope.session)
    // cap low enough that rotation cliques overflow their shared buckets —
    // the drop must mirror the one-shot run's union census, not either
    // side's count alone
    val cap = 6
    val got = MinhashIndex.dedupAgainst(newDocs, "doc_id", "text", path, maxBucket = cap)
      .as[(Long, Long, Double)].collect().toSet
    val want = fullPairs(maxBucket = cap).filter($"id_a" > 40 || $"id_b" > 40)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(got.size < fullPairs().filter($"id_a" > 40 || $"id_b" > 40).count(),
      "cap never fired — test corpus no longer exercises the guard")
  }}

  test("an index appended in two batches answers like one built in a single shot") { withTempDir { tmp =>
    val p1 = s"$tmp/twobatch"; val p2 = s"$tmp/oneshot"
    MinhashIndex.write(oldDocs.filter($"doc_id" <= 20), "doc_id", "text", p1, Cfg, CacheScope.session)
    MinhashIndex.append(oldDocs.filter($"doc_id" > 20), "doc_id", "text", p1)
    MinhashIndex.write(oldDocs, "doc_id", "text", p2, Cfg, CacheScope.session)
    val a = MinhashIndex.dedupAgainst(newDocs, "doc_id", "text", p1)
      .as[(Long, Long, Double)].collect().toSet
    val b = MinhashIndex.dedupAgainst(newDocs, "doc_id", "text", p2)
      .as[(Long, Long, Double)].collect().toSet
    assert(a === b && a.nonEmpty)
  }}

  test("config freezes in the artifact; no-config write derives it from the corpus") { withTempDir { path =>
    val cfg = MinhashIndex.write(oldDocs, "doc_id", "text", path)
    assert(MinhashIndex.readConfig(spark, path) === cfg)
    val auto = Dedup.minhashAutoConfig(40L, 0.6)
    assert(cfg.numHashes === auto.numHashes && cfg.bands === auto.bands)
  }}

  test("indexStats surfaces occupancy (the re-index signal)") { withTempDir { path =>
    MinhashIndex.write(oldDocs, "doc_id", "text", path, Cfg, CacheScope.session)
    val row = MinhashIndex.indexStats(spark, path).head()
    assert(row.getLong(0) === 40L) // n_docs
    assert(row.getLong(1) > 0L && row.getLong(3) >= 1L)
  }}
}
