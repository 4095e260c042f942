package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.Similarity

/** Pins the native codegen'd dot product to the HOF formulation it
  * replaces — including its null/length-mismatch semantics — and checks
  * SQL registration through GraftExtensions.
  */
class ArrayDotProductSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (2L, Seq(0.1, -0.2), Seq(10.0, 20.0)),
  ).toDF("id", "a", "b")

  test("matches the HOF dot product bit-for-bit") {
    val out = df.select($"id",
        Similarity.dot($"a", $"b").as("native"),
        graft.llm.ReferenceTwins.dotHof($"a", $"b").as("hof"))
      .collect()
    out.foreach(r => assert(r.getDouble(1) === r.getDouble(2)))
    assert(out.find(_.getLong(0) == 1L).get.getDouble(1) === 32.0)
  }

  test("callable from SQL via GraftExtensions") {
    df.createOrReplaceTempView("dots")
    val v = spark.sql("SELECT graft_dot(a, b) AS d FROM dots WHERE id = 1")
      .as[Double].head()
    assert(v === 32.0)
  }

  test("null on length mismatch or null element, like zip_with+aggregate") {
    val weird = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),        // length mismatch
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),  // null element
    ).toDF("id", "a", "b")
    val rows = weird.select($"id",
      Similarity.dot($"a", $"b").as("native"),
      graft.llm.ReferenceTwins.dotHof($"a", $"b").as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"id ${r.getLong(0)}")
      assert(r.isNullAt(1))
    }
  }

  test("float arrays implicit-cast like the explicit asDouble path") {
    val f = Seq((1L, Seq(1.5f, 2.5f), Seq(2.0f, 4.0f))).toDF("id", "a", "b")
    val native = f.select(Similarity.dot(Similarity.asDouble($"a"), Similarity.asDouble($"b")))
      .as[Double].head()
    assert(native === 1.5 * 2.0 + 2.5 * 4.0)
  }
}
