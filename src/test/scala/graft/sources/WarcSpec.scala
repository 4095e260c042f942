package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def mk(uri: String, payload: String, declared: Option[Int] = None): String =
    s"WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: $uri\n" +
      s"Content-Length: ${declared.getOrElse(payload.length)}\n\n$payload\n\n"

  test("extractRecords: a multi-record blob splits into exact (uri, ok, payload) rows") {
    val blob = mk("https://a/1", "first record text") +
      mk("https://a/2", "second, with\nan embedded newline") +
      mk("https://a/3", "third")
    val out = Warc.extractRecords(Seq(Tuple1(blob)).toDF("blob"), "blob")
      .select("uri", "ok", "payload").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
    assert(out.toSeq === Seq(
      ("https://a/1", true, "first record text"),
      ("https://a/2", true, "second, with\nan embedded newline"),
      ("https://a/3", true, "third")))
  }

  test("Content-Length is verified, not trusted: a wrong declaration flags ok=false " +
    "but still recovers the payload (framing is the magic line)") {
    val blob = mk("https://a/1", "good") + mk("https://a/2", "bad", declared = Some(99))
    val out = Warc.extractRecords(Seq(Tuple1(blob)).toDF("blob"), "blob")
      .select("uri", "ok", "payload").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
    assert(out.toSeq === Seq(("https://a/1", true, "good"), ("https://a/2", false, "bad")))
  }

  test("Content-Length counts OCTETS, not characters: a non-ASCII payload with a " +
    "correct byte declaration verifies ok; the char count flags false") {
    val pay = "héllo café" // 10 chars, 12 UTF-8 bytes
    val blob = mk("https://a/1", pay, declared = Some(12)) +
      mk("https://a/2", pay, declared = Some(10))
    val out = Warc.extractRecords(Seq(Tuple1(blob)).toDF("blob"), "blob")
      .select("uri", "ok", "payload").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
    assert(out.toSeq === Seq(
      ("https://a/1", true, pay), ("https://a/2", false, pay)))
  }

  test("malformed segments degrade: missing blank line or headers yield ok=false, " +
    "never an exception") {
    val blob = "WARC/1.0\nWARC-Target-URI: u\nContent-Length: 5" // no blank line, no body
    val out = Warc.extractRecords(Seq(Tuple1(blob)).toDF("blob"), "blob").collect()
    assert(out.length === 1 && !out.head.getAs[Boolean]("ok"))
  }

  test("funnel composition: WARC payload carrying HTML flows into Html.extractText") {
    val html = "<html><head><title>t</title></head><body>" +
      "<nav><a href='/'>Home</a> <a href='/x'>More</a></nav>" +
      "<p>actual page content words here</p></body></html>"
    val blob = mk("https://a/1", html)
    val out = Warc.extractRecords(Seq(Tuple1(blob)).toDF("blob"), "blob")
      .select(graft.llm.Html.extractText(col("payload")).as("t"))
      .collect().head.getString(0)
    assert(out === "actual page content words here")
  }

  test("readGzip: one file = one row; single-member and CONCATENATED-member " +
    "gzip inflate to the same record stream; corrupt bytes degrade") {
    import java.util.zip.GZIPOutputStream
    def gz(s: String): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new GZIPOutputStream(bo)
      g.write(s.getBytes("UTF-8")); g.close(); bo.toByteArray
    }
    val rec1 = "WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: u1\n" +
      "Content-Length: 5\n\nhello\n\n"
    val rec2 = "WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: u2\n" +
      "Content-Length: 5\n\nworld\n\n"
    val dir = java.nio.file.Files.createTempDirectory("warcgz").toFile
    try {
      // file A: ONE member holding both records; file B: one member PER
      // record, concatenated (the real .warc.gz layout); file C: garbage
      java.nio.file.Files.write(new java.io.File(dir, "a.wet.gz").toPath, gz(rec1 + rec2))
      java.nio.file.Files.write(new java.io.File(dir, "b.wet.gz").toPath, gz(rec1) ++ gz(rec2))
      java.nio.file.Files.write(new java.io.File(dir, "c.wet.gz").toPath,
        Array[Byte](1, 2, 3, 4))
      val blobs = ReferenceTwins.readGzip(spark, dir.getAbsolutePath + "/*.wet.gz")
      val byFile = blobs.collect().map(r =>
        (r.getString(0).split('/').last, (r.getBoolean(1), r.getString(2)))).toMap
      assert(byFile("a.wet.gz") === ((true, rec1 + rec2)))
      assert(byFile("b.wet.gz") === ((true, rec1 + rec2))) // members concatenate
      assert(byFile("c.wet.gz")._1 === false)
      // end-to-end: gz file -> records table
      val recs = Warc.extractRecords(
          blobs.filter(org.apache.spark.sql.functions.col("ok_gzip")), "blob")
        .select("uri", "ok", "payload").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSet
      assert(recs === Set(("u1", true, "hello"), ("u2", true, "world")))

      // the STREAMED splitter sees the identical record table on every
      // fixture (single-member, concatenated, garbage) without ever
      // materializing a whole inflated segment
      val streamed = Warc.readGzipRecords(spark, dir.getAbsolutePath + "/*.wet.gz")
        .collect().map(r => (r.getString(0).split('/').last, r.getBoolean(1),
          r.getString(2), r.getBoolean(3), r.getString(4)))
      val byF = streamed.groupBy(_._1)
      for (f <- Seq("a.wet.gz", "b.wet.gz"))
        assert(byF(f).map(t => (t._3, t._4, t._5)).toSet ===
          Set(("u1", true, "hello"), ("u2", true, "world")), s"file $f")
      // file-level damage is OBSERVABLE: the non-gzip file emits exactly
      // one flagged sentinel row (gz_ok=false, empty payload), never
      // silence and never an ok record
      assert(byF("c.wet.gz").map(t => (t._2, t._4, t._5)).toSeq ===
        Seq((false, false, "")), "garbage must surface as a flagged sentinel row")
    } finally {
      dir.listFiles.foreach(_.delete()); dir.delete()
    }
  }

  test("readGzipRecords: records inflated before a mid-stream corruption keep ok; " +
    "the partial tail degrades; per-record cap truncates only the oversized record") {
    import java.util.zip.GZIPOutputStream
    def gz(s: String): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new GZIPOutputStream(bo)
      g.write(s.getBytes("UTF-8")); g.close(); bo.toByteArray
    }
    def rec(u: String, pay: String) =
      s"WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: $u\n" +
        s"Content-Length: ${pay.length}\n\n$pay\n\n"
    val dir = java.nio.file.Files.createTempDirectory("warcgz2").toFile
    try {
      // whole-file gzip cut mid-stream: record 1 inflates, record 2 is
      // the damaged tail
      val whole = gz(rec("u1", "hello") + rec("u2", "world"))
      java.nio.file.Files.write(new java.io.File(dir, "cut.wet.gz").toPath,
        whole.dropRight(8))
      val cut = Warc.readGzipRecords(spark, dir.getAbsolutePath + "/cut.wet.gz")
        .select("uri", "ok").collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
      assert(cut("u1") === true)
      assert(cut.get("u2").forall(_ == false))

      // a record over the cap truncates to ok=false; its neighbors keep ok
      java.nio.file.Files.write(new java.io.File(dir, "big.wet.gz").toPath,
        gz(rec("s1", "tiny") + rec("s2", "x" * 4096) + rec("s3", "tail")))
      val capped = Warc.readGzipRecords(spark, dir.getAbsolutePath + "/big.wet.gz",
          maxRecordBytes = 512)
        .select("uri", "ok").collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
      assert(capped === Map("s1" -> true, "s2" -> false, "s3" -> true))
    } finally {
      dir.listFiles.foreach(_.delete()); dir.delete()
    }
  }
}
