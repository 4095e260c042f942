package graft.dsp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import graft.SparkSpec
import graft.instants.ReferenceTwins

/** The native SG kernel ([[SignalOps.sgDf]], [[SignalOps.withSgColumns]])
  * against its window formulation ([[ReferenceTwins.sgWindowDf]]) on
  * generated records: bit-for-bit equal values, the same null rows, the
  * same raise, at any partitioning.
  */
class SgKernelSpec extends SparkSpec {
  import spark.implicits._

  private def sampled[A](g: Gen[A], seed: Long): A =
    Iterator.from(0).flatMap(i => g.apply(Gen.Parameters.default, rng.Seed(seed + i))).next()

  /** Records `r0..` of lengths w−1, w and then drawn from w−1 to 3w; the
    * samples mix two magnitudes so a changed fold order changes bits.
    */
  private def genRecords(w: Int, count: Int): Gen[Seq[Seq[Double]]] = {
    def rec(n: Int) = Gen.listOfN(n, Gen.oneOf(Gen.choose(-1e3, 1e3), Gen.choose(-1.0, 1.0)))
    for {
      lens <- Gen.listOfN(count - 2, Gen.choose(w - 1, 3 * w))
      recs <- Gen.sequence[List[List[Double]], List[Double]]((w - 1 :: w :: lens).map(rec))
    } yield recs
  }

  private def toDf(recs: Seq[Seq[Option[Double]]]): DataFrame =
    recs.zipWithIndex.flatMap { case (xs, r) =>
      xs.zipWithIndex.map { case (v, i) => (s"r$r", (i + 1).toLong, v) }
    }.toDF("record", "t", "value")

  private val Derivs = 0 to 2
  private val Outs = Derivs.map(o => s"x$o")
  private def deg(w: Int) = if (w == 3) 2 else 3

  /** (record, t) -> the bits of each named column, None for null. */
  private def bits(df: DataFrame, cols: Seq[String]): Map[(String, Long), Seq[Option[Long]]] =
    df.select(col("record") +: col("t") +: cols.map(col): _*).collect().map { r: Row =>
      (r.getString(0), r.getLong(1)) ->
        cols.indices.map(i => if (r.isNullAt(i + 2)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(i + 2))))
    }.toMap

  private def kernel(df: DataFrame, w: Int): DataFrame =
    Derivs.foldLeft(df)((d, o) => SignalOps.sgDf(d, "value", "record", "t", w, deg(w), o, s"x$o"))

  private def twin(df: DataFrame, w: Int): DataFrame =
    Derivs.foldLeft(df)((d, o) =>
      ReferenceTwins.sgWindowDf(d, "value", "record", "t", w, deg(w), o, s"x$o"))

  /** The twin's fused stage outgrows the 64 KB method limit at w = 21 and
    * Spark falls back after a failed compile; run it unfused from the start.
    */
  private def twinBits(df: DataFrame, w: Int): Map[(String, Long), Seq[Option[Long]]] =
    withSQLConf("spark.sql.codegen.wholeStage" -> "false")(bits(twin(df, w), Outs))

  test("sgDf equals the window twin bit for bit on generated records, any partitioning") {
    for ((w, seed) <- Seq(3 -> 11L, 5 -> 23L, 7 -> 37L, 21 -> 41L)) {
      val recs = sampled(genRecords(w, 10), seed)
      val df = toDf(recs.map(_.map(Some(_))))
      val want = twinBits(df, w)
      // records shorter than w are dropped, every other row is kept
      assert(want.size === recs.filter(_.size >= w).map(_.size).sum, s"w=$w")
      for (parts <- Seq(1, 7)) {
        val got = bits(kernel(df.repartition(parts), w), Outs)
        assert(got === want, s"w=$w repartition($parts)")
      }
    }
  }

  test("an interior null makes the rows whose stencil covers it null, as the twin does") {
    for ((w, seed) <- Seq(5 -> 53L, 21 -> 59L)) {
      val recs = sampled(genRecords(w, 6), seed).map(_ ++ Seq.fill(2 * w + 1)(0.5))
      // one null per record, outside the first and last w samples
      val nulls = recs.zipWithIndex.map { case (xs, r) => w + (r * 7) % (xs.size - 2 * w) }
      val df = toDf(recs.zip(nulls).map { case (xs, p) =>
        xs.zipWithIndex.map { case (v, i) => if (i == p) None else Some(v) }
      })
      val want = twinBits(df, w)
      val got = bits(kernel(df, w), Outs)
      assert(got === want, s"w=$w")
      val half = w / 2
      for (((r, t), vs) <- got; o <- Derivs.indices) {
        val covered = math.abs((t - 1) - nulls(r.drop(1).toInt)) <= half
        assert(vs(o).isEmpty === covered, s"w=$w record $r t=$t deriv=$o")
      }
    }
  }

  test("a null among the first or last w samples raises in both forms") {
    def message(body: => Any): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    }
    for (w <- Seq(5, 21); at <- Seq(0, w - 1, 3 * w - 1)) {
      val xs = sampled(Gen.listOfN(3 * w, Gen.choose(-10.0, 10.0)), w + at)
      val df = toDf(Seq(xs.zipWithIndex.map { case (v, i) => if (i == at) None else Some(v) }))
      assert(message(kernel(df, w).collect()).contains("null sample in an SG edge window"),
        s"kernel, w=$w null at $at")
      withSQLConf("spark.sql.codegen.wholeStage" -> "false")(
        assert(message(twin(df, w).collect()).contains("null sample in an SG edge window"),
          s"twin, w=$w null at $at"))
    }
  }

  test("withSgColumns: several filters over one collect, null where a record is shorter than a window") {
    val recs = sampled(genRecords(5, 12), 71L)
    val df = toDf(recs.map(_.map(Some(_)))).withColumn("v2", col("value") * col("value"))
    val combos = Seq(("value", 7, 1), ("v2", 5, 0), ("value", 15, 2))
    val outs = combos.indices.map(i => s"_k_b_$i")
    val got = SignalOps.withSgColumns(df, "record", "t", 2,
      combos.zip(outs).map { case ((x, w, o), out) => (out, x, w, o) },
      positions = Some(("_k_rn", "_k_n")))
    // the narrowest window sets the row set; each combo is null below its own
    val kept = recs.filter(_.size >= 5)
    assert(got.count() === kept.map(_.size).sum)
    val lens = got.select("record", "_k_n").distinct().as[(String, Long)].collect().toMap
    assert(lens === recs.zipWithIndex.collect { case (xs, r) if xs.size >= 5 => s"r$r" -> xs.size.toLong }.toMap)
    val gotBits = bits(got, outs)
    assert(got.filter(col("_k_rn") =!= col("t")).isEmpty, "rn is the 1-based row number")
    for ((((x, w, o), out), i) <- combos.zip(outs).zipWithIndex) {
      val want = bits(ReferenceTwins.sgWindowDf(df, x, "record", "t", w, 2, o, out), Seq(out))
      for (((r, t), vs) <- gotBits) {
        val n = lens(r)
        assert(vs(i) === (if (n >= w) want((r, t)).head else None), s"combo $i record $r t=$t")
      }
    }
  }
}
