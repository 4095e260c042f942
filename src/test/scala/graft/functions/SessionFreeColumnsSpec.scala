package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.{Dedup, Html, Similarity, TextAnalysis}

/** graft's operators build their native expressions directly, so a
  * Column means the same thing whichever session (if any) was active
  * when it was built.
  */
class SessionFreeColumnsSpec extends SparkSpec {
  import spark.implicits._

  /** `build` evaluated on a fresh thread with no active session. */
  private def offSession[A](build: => A): A = {
    var out: Option[A] = None
    var err: Option[Throwable] = None
    val th = new Thread(() => {
      SparkSession.clearActiveSession() // the thread inherits the caller's
      assert(SparkSession.getActiveSession.isEmpty)
      try out = Some(build) catch { case e: Throwable => err = Some(e) }
    })
    th.start()
    th.join()
    err.foreach(e => throw e)
    out.get
  }

  private lazy val input =
    Seq(("x", Seq(1.0), Seq(2.0))).toDF("text", "a", "b")

  /** Whether `c`, analyzed in the test session, plans an `E`. */
  private def has[E <: Expression: ClassTag](c: Column): Boolean =
    input.select(c).queryExecution.analyzed.expressions
      .exists(_.find(implicitly[ClassTag[E]].runtimeClass.isInstance).isDefined)

  test("operators built with no active session carry their native expressions") {
    val t = col("text")
    val cols = offSession(Seq(
      "tokenCount" -> TextAnalysis.tokenCount(t),
      "bpeTokenCount" -> TextAnalysis.bpeTokenCount(t),
      "subwordIds" -> TextAnalysis.subwordIds(t, Seq("a", "ab")),
      "fingerprint" -> TextAnalysis.fingerprint(t),
      "repetitionStruct" -> TextAnalysis.repetitionStruct(t),
      "redactPii" -> TextAnalysis.redactPii(t),
      "md5Hash32" -> Dedup.md5Hash32(t),
      "distinctNgramHashes" -> Dedup.distinctNgramHashes(t, 5),
      "wordNgramHashes" -> Dedup.wordNgramHashes(t, 3),
      "dot" -> Similarity.dot(col("a"), col("b")),
      "extractText" -> Html.extractText(t)))
    val expected: Map[String, Column => Boolean] = Map(
      "tokenCount" -> has[WsTokenCount],
      "bpeTokenCount" -> has[BpeCount],
      "subwordIds" -> has[SubwordEncode],
      "fingerprint" -> has[AsciiRollingHash],
      "repetitionStruct" -> has[RepetitionStats],
      "redactPii" -> has[PiiScan],
      "md5Hash32" -> has[Md5Prefix32],
      "distinctNgramHashes" -> has[ShingleHashes],
      "wordNgramHashes" -> has[WordNgramHashes],
      "dot" -> has[ArrayDotProduct],
      "extractText" -> has[HtmlExtract])
    val missing = cols.collect { case (n, c) if !expected(n)(c) => n }
    assert(missing.isEmpty, s"built without their native expression: $missing")
  }

  test("a Column built with no active session evaluates in the test session") {
    val (fp, red, tok) = offSession((
      TextAnalysis.fingerprint(col("text")),
      TextAnalysis.redactPii(col("text")),
      TextAnalysis.tokenCount(col("text"))))
    val text = "mail a@b.cd now"
    val row = Seq(text).toDF("text").select(fp, red, tok).head()
    val want = text.foldLeft(0L)((h, ch) => (h * 31 + ch) % TextAnalysis.FpMod)
    assert(row.getLong(0) === want)
    assert(row.getString(1) === "mail <EMAIL> now")
    assert(row.getLong(2) === 3L)
  }
}
