package graft.tubes

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Opset

/** Tube semantics (tabata tubes.py) on synthetic records with known fits. */
class TubeSpec extends SparkSpec {
  import spark.implicits._

  // record "lin": y = 3 + 2x exactly; record "noisy": same + deterministic kicks.
  private lazy val df = {
    val lin = (0 until 40).map(i => ("lin", (i + 1).toLong, 3.0 + 2.0 * i))
    val noisy = (0 until 40).map(i =>
      ("noisy", (i + 1).toLong, 3.0 + 2.0 * i + (if (i % 5 == 0) 10.0 else 0.0)))
    (lin ++ noisy).toDF("record", "t", "value")
      .withColumn("TIME", (col("t") - 1).cast("double"))
  }

  test("ols1PerRecord recovers an exact linear relation with r2 = 1") {
    val fit = Tube.ols1PerRecord(df.filter($"record" === "lin"), "record", "TIME", "value")
      .head()
    assert(math.abs(fit.getAs[Double]("b0") - 3.0) < 1e-9)
    assert(math.abs(fit.getAs[Double]("b1") - 2.0) < 1e-9)
    assert(math.abs(fit.getAs[Double]("r2") - 1.0) < 1e-9)
  }

  test("ols1PerRecord on a zero-variance factor degenerates to the mean") {
    val const = df.withColumn("C", lit(7.0))
    val fit = Tube.ols1PerRecord(const.filter($"record" === "lin"), "record", "C", "value").head()
    assert(fit.getAs[Double]("b1") === 0.0)
    val meanY = (0 until 40).map(i => 3.0 + 2.0 * i).sum / 40
    assert(math.abs(fit.getAs[Double]("b0") - meanY) < 1e-9)
  }

  test("estimate: z within [zmin, zmax], exact record fully inside its tube") {
    val base = df.withColumn("TIME2", $"TIME" * $"TIME")
    val est = Tube.estimate(base, "record", "t", "value", Seq("TIME", "TIME2"), 2.0)
    val rows = est.collect()
    assert(rows.forall(r => r.getAs[Double]("zmin") <= r.getAs[Double]("zmax") + 1e-9))
    // the exact-linear record is predicted exactly by the TIME model → its
    // ensemble spread comes only from TIME2's fit; y stays inside the tube
    val out = Tube.scores(est.filter($"record" === "lin"), "record").head()
    assert(out.getAs[Long]("n") === 40L)
  }

  test("scores counts out-of-tube points per record") {
    val est = Seq(
      ("r", 1L, 5.0, 5.0, 4.0, 6.0),  // inside
      ("r", 2L, 9.0, 5.0, 4.0, 6.0),  // above
      ("r", 3L, 1.0, 5.0, 4.0, 6.0),  // below
      ("r", 4L, 6.0, 5.0, 4.0, 6.0),  // boundary: not outside
    ).toDF("record", "t", "y", "z", "zmin", "zmax")
    val s = Tube.scores(est, "record").head()
    assert(s.getAs[Long]("n") === 4L)
    assert(s.getAs[Long]("n_out") === 2L)
  }

  test("fit is deterministic for a seed and keeps models sorted by r2") {
    val base = df.withColumn("TIME2", $"TIME" * $"TIME")
      .withColumn("NOISE", pmod(xxhash64($"record", $"t"), lit(97)).cast("double"))
    def run() = Tube.fit(base, "record", "t", "value", Seq("TIME", "TIME2", "NOISE"),
      retries = 6, keepBest = 3, samplesPct = 0.5, maxFeatures = 2, seed = 11L)
    val a = run()
    val b = run()
    assert(a.map(m => (m.factors, m.r2)) === b.map(m => (m.factors, m.r2)))
    assert(a.map(_.r2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    // TIME must appear in the best model of a linear target
    assert(a.head.factors.contains("TIME"))
    assert(a.head.r2 > 0.9)
  }

  test("scoresMatrix matches per-target estimate + scores") {
    val base = df.withColumn("TIME2", $"TIME" * $"TIME")
    val targets = Seq("value" -> Seq("TIME", "TIME2"), "TIME2" -> Seq("TIME"))
    val m = Tube.scoresMatrix(base, "record", targets, 2.0)
      .orderBy("record").collect()
    targets.foreach { case (tgt, factors) =>
      val est = Tube.estimate(base, "record", "t", tgt, factors, 2.0)
      val single = Tube.scores(est, "record").orderBy("record").collect()
      m.zip(single).foreach { case (mr, sr) =>
        assert(mr.getAs[String]("record") === sr.getAs[String]("record"))
        assert(mr.getAs[Long]("n") === sr.getAs[Long]("n"))
        assert(mr.getAs[Long](tgt) === sr.getAs[Long]("n_out"),
          s"target $tgt record ${mr.getAs[String]("record")}")
      }
    }
  }

  test("describe counts factor usage per target's ensemble") {
    val fitted = Seq(
      "a" -> Seq(Tube.TubeModel(Seq("TIME"), 0.0, Array(1.0), 0.9),
        Tube.TubeModel(Seq("TIME", "TIME2"), 0.0, Array(1.0, 2.0), 0.8)),
      "b" -> Seq(Tube.TubeModel(Seq("TIME2"), 0.0, Array(1.0), 0.7)))
    val d = Tube.describe(spark, fitted, Seq("TIME", "TIME2", "SGV"))
      .orderBy("target").collect()
    assert(d.map(_.getAs[String]("target")).toSeq === Seq("a", "b"))
    assert(d(0).getAs[Long]("TIME") === 2L)
    assert(d(0).getAs[Long]("TIME2") === 1L)
    assert(d(0).getAs[Long]("SGV") === 0L)
    assert(d(1).getAs[Long]("TIME") === 0L)
    assert(d(1).getAs[Long]("TIME2") === 1L)
  }

  test("saveFitted/loadFitted round-trips ensembles exactly") {
    val fitted = Seq(
      "value" -> Seq(
        Tube.TubeModel(Seq("TIME", "TIME2"), 1.25, Array(2.5, -0.125), 0.875),
        Tube.TubeModel(Seq("SGV"), -3.0, Array(0.0625), 0.5)),
      "other" -> Seq(Tube.TubeModel(Seq("TIME"), 0.1, Array(1e-17), -0.25)))
    withTempDir { dir =>
      Tube.saveFitted(spark, fitted, s"$dir/models")
      val back = Tube.loadFitted(spark, s"$dir/models")
      assert(back.map(_._1) === Seq("other", "value"))
      val bm = back.toMap
      fitted.foreach { case (tgt, ms) =>
        val rs = bm(tgt)
        assert(rs.size === ms.size)
        ms.zip(rs).foreach { case (a, b) =>
          assert(a.factors === b.factors)
          assert(a.intercept === b.intercept)
          assert(a.coefs.toSeq === b.coefs.toSeq)
          assert(a.r2 === b.r2)
        }
      }
    }
  }

  test("fit fails fast when the hash sample is empty") {
    val tiny = Seq(("r", 1L, 1.0, 0.0)).toDF("record", "t", "value", "TIME")
    val e = intercept[IllegalArgumentException] {
      Tube.fit(tiny, "record", "t", "value", Seq("TIME"), samplesPct = 0.01)
    }
    assert(e.getMessage.contains("samplesPct"))
  }

  test("highlight flags exactly the extracted rows") {
    val os = Opset((1 to 10).map(i => ("r", i.toLong, i.toDouble)).toDF("record", "t", "value"))
    val extract = os.copy(df = os.df.filter($"t" >= 3 && $"t" <= 5))
    val h = Tube.highlight(os, extract).df
    val flagged = h.filter($"INTERVAL").select("t").as[Long].collect().sorted
    assert(flagged.toSeq === Seq(3L, 4L, 5L))
    assert(h.count() === 10)
  }
}
