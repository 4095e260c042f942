package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The whole-blob gzip read — the reference [[Warc.readGzipRecords]] is
  * pinned equal to (WarcSpec): `extractRecords(readGzip(…))` yields the
  * same record table on every fixture.
  */
object ReferenceTwins {

  /** Read `.warc.wet.gz`-style files into `(path, ok_gzip, blob)`: one
    * file = one row, the whole member stream inflated into one string
    * (`GZIPInputStream` reads concatenated members transparently).
    * Truncated or non-gzip bytes degrade to `ok_gzip = false` with
    * whatever prefix inflated (never throw); compose
    * [[Warc.extractRecords]] on `blob`.
    */
  def readGzip(spark: org.apache.spark.sql.SparkSession, path: String,
               maxInflatedBytes: Int = 1 << 30): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (p, bytes) =>
        val out = new java.io.ByteArrayOutputStream()
        var ok = true
        try {
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n > 0 && out.size <= maxInflatedBytes) {
            out.write(buf, 0, n)
            n = in.read(buf)
          }
          if (out.size > maxInflatedBytes) ok = false // bomb guard: truncate loudly
        } catch {
          case _: java.io.IOException => ok = false // truncated/corrupt member
        }
        (p, ok, new String(out.toByteArray, "UTF-8"))
      }).toDF("path", "ok_gzip", "blob")
  }
}
