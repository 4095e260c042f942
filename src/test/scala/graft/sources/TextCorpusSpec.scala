package graft.sources

import graft.SparkSpec

class TextCorpusSpec extends SparkSpec {
  import spark.implicits._

  test("jsonl round-trip: newlines, quotes, unicode, nulls all survive") {
    val docs = Seq(
      (1L, "plain text"),
      (2L, "line\nbreak and \"quotes\" and tab\t"),
      (3L, "unicode: é 水 😀"),
      (4L, null: String)
    ).toDF("doc_id", "text")
    withTempDir { dir =>
      TextCorpus.writeJsonl(docs, s"$dir/c")
      val (good, corrupt) = TextCorpus.readJsonl(spark, s"$dir/c", docs.schema)
      assert(corrupt.count() === 0L)
      assert(good.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
        docs.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    }
  }

  test("corrupt lines quarantine without polluting the good side") {
    val docs = Seq((1L, "ok")).toDF("doc_id", "text")
    withTempDir { dir =>
      TextCorpus.writeJsonl(docs, s"$dir/c")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/c", "part-bad.txt"),
        "{broken\n{\"doc_id\": \"not-a-long\", \"text\": \"x\"}\n".getBytes("UTF-8"))
      val (good, corrupt) = TextCorpus.readJsonl(spark, s"$dir/c", docs.schema)
      assert(good.collect().map(_.getLong(0)).toSeq === Seq(1L))
      assert(corrupt.count() === 2L)
      assert(corrupt.columns.toSeq === Seq("line"))
    }
  }

  test("schema is enforced, never inferred: missing fields read as null, not error") {
    withTempDir { dir =>
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/c"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/c", "part-0.txt"),
        "{\"doc_id\": 7}\n".getBytes("UTF-8"))
      val schema = Seq((1L, "t")).toDF("doc_id", "text").schema
      val (good, corrupt) = TextCorpus.readJsonl(spark, s"$dir/c", schema)
      val row = good.head()
      assert(row.getLong(0) === 7L && row.isNullAt(1))
      assert(corrupt.count() === 0L)
    }
  }
}
