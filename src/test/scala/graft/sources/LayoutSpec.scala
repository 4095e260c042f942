package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton interleave for the pin. */
  private def refZ(qs: Seq[Long], bits: Int): Long = {
    var z = 0L
    val n = qs.size
    for (b <- 0 until bits; c <- 0 until n)
      z |= ((qs(c) >> b) & 1L) << (b * n + c)
    z
  }

  test("interleave matches the reference Morton computation on random pairs") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(300)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val out = rows.toDF("a", "b")
      .withColumn("z", Layout.interleave(Seq(col("a"), col("b")), 8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (a, b, z) => assert(z === refZ(Seq(a, b), 8), s"($a,$b)") }
  }

  test("zorderByRange quantizes by range and handles nulls as bucket 0") {
    val df = Seq((0L, Option(10L)), (15L, Option(25L)), (8L, Option.empty[Long]))
      .toDF("x", "y")
    val out = Layout.zorderByRange(df, Seq("x", "y"), bits = 2)
      .orderBy("x").collect().map(_.getLong(2))
    // x range [0,15] → buckets 0,3,2 ; y range [10,25] → buckets 0,3,null→0
    assert(out(0) === refZ(Seq(0L, 0L), 2))
    assert(out(1) === refZ(Seq(2L, 0L), 2))  // x=8 → (8*4) div 16 = 2; y null → 0
    assert(out(2) === refZ(Seq(3L, 3L), 2))
  }

  test("writeZordered: per-file ranges are tight on BOTH columns") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(20000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong, rnd.nextLong()))
    withTempDir { dir =>
      Layout.writeZordered(rows.toDF("a", "b", "payload"), Seq("a", "b"), 8,
        s"$dir/t", numFiles = 16)
      val spans = spark.read.parquet(s"$dir/t")
        .groupBy(input_file_name().as("f"))
        .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
        .agg(avg("sa"), avg("sb")).head()
      // random order would give per-file spans ~ the full 0..999 range on
      // both columns; z-clustering must compress BOTH well below it
      assert(spans.getDouble(0) < 600, s"a-span ${spans.getDouble(0)}")
      assert(spans.getDouble(1) < 600, s"b-span ${spans.getDouble(1)}")
      // sanity: both dims share the tightening (neither is a plain sort)
    }
  }
}
