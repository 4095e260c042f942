package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WARC/WET record extraction — the step AHEAD of HTML extraction in a
  * real web-corpus funnel: crawls ship as WARC files (ISO 28500, public
  * format), each a concatenation of `WARC/1.0` records (version line,
  * header block, blank line, payload, blank line). A WET conversion
  * carries extracted text payloads; a WAT/WARC response carries HTML —
  * either way the pipeline's first transform is "split the blob into
  * records, read the headers, take the payload", which is exactly what
  * this does, as pure column algebra (split + fixed-arithmetic
  * substring — codegen'd, zero shuffle at any corpus size; files
  * parallelize by blob row, records by the explode).
  *
  * Pinned grammar (the simplification is documented, not hidden):
  * records are delimited by the version line `WARC/1.0\n` at segment
  * starts — the payload must not contain that line at a line start
  * (true for WET text; a binary-payload WARC needs the Content-Length
  * framing a streaming byte parser honors). Headers end at the first
  * blank line; the payload is everything after it, minus the trailing
  * record-separator blank line. `Content-Length` is VERIFIED, not
  * trusted: `ok = declared == length(payload)`, so truncated or
  * corrupted records surface as `ok = false` rows instead of silently
  * shifting every later record — degrade, never throw (the
  * [[graft.llm.Multimodal]] convention).
  */
object Warc {

  /** Parse a WARC/WET blob into `array<struct<uri, ok, payload>>`, in
    * record order. Malformed segments (no header/payload blank line)
    * yield `ok = false` with an empty payload.
    */
  /** Parse ONE already-delimited record segment (the text after a
    * `WARC/1.0\n` version line, up to the next one) into
    * `struct<uri, ok, payload>` — the per-segment half of [[records]],
    * shared with the streamed [[readGzipRecords]] path so both parse
    * identically.
    */
  def recordFromSegment(seg: Column): Column = {
    val headers = substring_index(seg, "\n\n", 1)
    // payload = seg minus headers, minus the "\n\n" separator, minus
    // the trailing record-separator "\n\n" (fixed arithmetic — no
    // regex backtracking over payload bytes)
    val hasBody = length(seg) >= length(headers) + 4
    val payload = when(hasBody,
      substring(seg, length(headers) + 3, length(seg) - length(headers) - 4))
      .otherwise(lit(""))
    val uri = regexp_extract(headers, "WARC-Target-URI: ([^\\n]*)", 1)
    val declared = regexp_extract(headers, "Content-Length: ([0-9]+)", 1)
    // Content-Length is OCTETS (ISO 28500 inherits HTTP's definition) —
    // a real WET drop declares byte counts, so a non-ASCII payload with
    // a correct declaration must verify ok (char-length comparison
    // flagged exactly those records false)
    val ok = hasBody && declared =!= "" &&
      declared.cast("long") === octet_length(payload).cast("long")
    struct(uri.as("uri"), ok.as("ok"), payload.as("payload"))
  }

  def records(blob: Column): Column = {
    val segs = filter(split(blob, "WARC/1\\.0\\n"), s => length(s) > 0)
    transform(segs, recordFromSegment(_))
  }

  /** Explode a table of WARC blobs into one row per record:
    * `(blobCol's siblings…, uri, ok, payload)` — compose
    * [[graft.llm.Html.extractText]] on `payload` for the full
    * crawl→text head of the cleaning funnel.
    */
  def extractRecords(df: DataFrame, blobCol: String): DataFrame =
    df.withColumn("_rec", explode(records(col(blobCol))))
      .select(df.columns.filter(_ != blobCol).map(col) ++
        Seq(col("_rec.uri").as("uri"), col("_rec.ok").as("ok"),
          col("_rec.payload").as("payload")): _*)

  /** Read `.warc.wet.gz`-style files into one row per WARC record,
    * `(path, gz_ok, uri, ok, payload)` — the COMPRESSED crawl head: real
    * CommonCrawl drops ship one gzip file per WET segment, and gzip is
    * not splittable, so the unit of parallelism is the FILE (Spark's
    * `binaryFile` source reads one whole file per row — the same
    * one-file-one-task contract as the HDF5 migration path,
    * sources/Hdf5Opset.scala). Parallelism at 100 TB comes from the
    * segment count (CommonCrawl ships ~72k segments per crawl), not from
    * splitting within a member.
    *
    * The gunzip is the justified per-partition codec call (the
    * [[graft.llm.Multimodal]] exception): `GZIPInputStream` reads
    * CONCATENATED members transparently, which matters because real
    * `.warc.gz` files are per-RECORD gzip members back to back — either
    * layout inflates to the same record stream. The stream is split at
    * `WARC/1.0\n` boundaries AS IT INFLATES and each record emits as its
    * own row, so the whole inflated segment NEVER materializes: peak
    * per-task memory is the compressed file plus ONE record
    * (`maxRecordBytes` bounds it — an over-cap record truncates to
    * `gz_ok = false`, later records unaffected). A whole-blob read would
    * hold compressed bytes + an inflated copy + a UTF-16 blob String at
    * once (~3× the inflated segment transient per task — an
    * executor-OOM hazard at 32 tasks × 8–16 GiB executors reading
    * ~400 MB-inflated members).
    *
    * Split semantics are [[records]]' exactly: the 9-byte ASCII
    * delimiter can never appear inside a multi-byte UTF-8 char, so
    * byte-level scanning equals the declarative regex split
    * (spec-pinned equal to [[extractRecords]] over whole inflated blobs
    * on single-member, concatenated-member, and corrupt fixtures).
    * Truncated/corrupt gzip degrades: records fully inflated before
    * the error keep `gz_ok = true`, the partial tail record emits with
    * `gz_ok = false`, and the per-record Content-Length check (`ok`)
    * bounds any remaining damage. Damage with NOTHING inflated — a
    * non-gzip file, or corruption landing exactly on a record
    * boundary — emits one `(path, gz_ok=false, uri="", ok=false,
    * payload="")` sentinel row, so file-level loss is always observable
    * downstream (count rows where `!gz_ok` per path).
    */
  def readGzipRecords(spark: org.apache.spark.sql.SparkSession, path: String,
                      maxRecordBytes: Int = 64 << 20): DataFrame = {
    import spark.implicits._
    val segs = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, bytes) =>
        new Iterator[(String, Boolean, String)] {
          private val Delim = "WARC/1.0\n".getBytes("UTF-8")
          private var matched = 0       // prefix of Delim matched so far
          private var truncated = false // current record hit maxRecordBytes / gz damage
          private var eof = false
          // the constructor itself reads the gzip header and throws on
          // non-gzip bytes — degrade to a SENTINEL row, not silence:
          // `truncated` starts true so the EOF flush emits one
          // (path, gz_ok=false, "") row even though no record bytes ever
          // inflated (a zero-row degrade would make file-level damage
          // unobservable downstream)
          private val in: java.io.InputStream =
            try new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(bytes))
            catch {
              case _: java.io.IOException =>
                truncated = true
                java.io.InputStream.nullInputStream()
            }
          private val buf = new Array[Byte](64 * 1024)
          private val cur = new java.io.ByteArrayOutputStream()
          private val done = scala.collection.mutable.Queue.empty[(String, Boolean, String)]

          private def write(b: Byte): Unit =
            if (cur.size < maxRecordBytes) cur.write(b.toInt)
            else truncated = true
          private def emit(ok: Boolean): Unit = {
            val s = new String(cur.toByteArray, "UTF-8")
            cur.reset()
            val t = truncated; truncated = false
            if (s.nonEmpty) done.enqueue((p, ok && !t, s))
            // damage with an EMPTY buffer (non-gzip file, or corruption
            // landing exactly on a record boundary) still surfaces: one
            // flagged sentinel row — gz_ok=false, empty segment (parses
            // to uri="", ok=false, payload="") — instead of nothing
            else if (t) done.enqueue((p, false, ""))
          }
          // Delim's only 'W' is at index 0, so the fallback after a
          // mismatch is just "does this byte restart the match"
          private def feed(b: Byte): Unit = {
            if (b == Delim(matched)) {
              matched += 1
              if (matched == Delim.length) { matched = 0; emit(ok = true) }
            } else {
              var i = 0
              while (i < matched) { write(Delim(i)); i += 1 }
              matched = 0
              if (b == Delim(0)) matched = 1 else write(b)
            }
          }
          private def advance(): Unit = {
            while (done.isEmpty && !eof) {
              val n = try in.read(buf) catch {
                // corrupt/truncated gzip: flag the partial tail record
                // (normal EOF returns -1 without throwing, stays ok)
                case _: java.io.IOException => truncated = true; -1
              }
              if (n < 0) {
                eof = true
                var i = 0 // flush a dangling partial delimiter match
                while (i < matched) { write(Delim(i)); i += 1 }
                matched = 0
                emit(ok = true) // emit() folds the truncated flag into ok
              } else {
                var i = 0
                while (i < n) { feed(buf(i)); i += 1 }
              }
            }
          }
          override def hasNext: Boolean = { advance(); done.nonEmpty }
          override def next(): (String, Boolean, String) = {
            advance()
            done.dequeue()
          }
        }
      }).toDF("path", "gz_ok", "_seg")
    segs.select(col("path"), col("gz_ok"),
        recordFromSegment(col("_seg")).as("_rec"))
      .select(col("path"), col("gz_ok"), col("_rec.uri").as("uri"),
        (col("gz_ok") && col("_rec.ok")).as("ok"),
        col("_rec.payload").as("payload"))
  }

  /** Build one WARC/WET conversion record — the generator half for
    * specs/oracles (content is a pure function of the arguments, the
    * [[graft.llm.Multimodal.pcmWav]] pattern). `declaredLength`
    * defaults to the true payload length in OCTETS (what
    * [[recordFromSegment]] verifies); pass a wrong one to synthesize a
    * corrupt record.
    */
  def record(uri: Column, payload: Column,
             declaredLength: Option[Column] = None): Column =
    concat(
      lit("WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: "), uri,
      lit("\nContent-Length: "),
      declaredLength.getOrElse(octet_length(payload)).cast("string"),
      lit("\n\n"), payload, lit("\n\n"))
}
