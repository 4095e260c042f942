package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("jacobiEigen solves a known symmetric system") {
    // [[2,1],[1,2]] has eigenvalues 3 and 1, vectors (1,1)/√2 and (1,-1)/√2
    val (vals, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-9 && math.abs(vals(1) - 1.0) < 1e-9)
    val inv = 1.0 / math.sqrt(2.0)
    assert(vecs(0).zip(Array(inv, inv)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("eigen-system reconstructs the correlation matrix") {
    val rng = new scala.util.Random(3)
    val base = Seq.fill(300)(rng.nextGaussian())
    val rows = base.zipWithIndex.map { case (x, i) =>
      (x, 0.8 * x + 0.2 * rng.nextGaussian(), rng.nextGaussian(), i.toDouble % 7)
    }
    val df = rows.toDF("a", "b", "c", "d")
    val cols = Seq("a", "b", "c", "d")
    val m = Pca.corrMatrix(df, cols)
    val (vals, vecs) = Pca.jacobiEigen(m)
    // Σ_k λ_k v_k v_kᵀ == C, eigenvalue sum == trace == p
    assert(math.abs(vals.sum - 4.0) < 1e-6)
    for (i <- 0 until 4; j <- 0 until 4) {
      val rec = vals.indices.map(k => vals(k) * vecs(k)(i) * vecs(k)(j)).sum
      assert(math.abs(rec - m(i)(j)) < 1e-6, s"($i,$j)")
    }
    // correlated pair dominates PC1
    assert(vals(0) > 1.5)
  }

  test("circle emits one loading row per (component, variable), |x| ≤ ~1") {
    val df = Seq.tabulate(100)(i =>
      (i.toDouble, i * 2.0 + (i % 3), 100.0 - i, (i % 5).toDouble))
      .toDF("a", "b", "c", "d")
    val out = Pca.circle(df, Seq("a", "b", "c", "d"), spark).collect()
    assert(out.length === 16)
    assert(out.forall(r => math.abs(r.getAs[Double]("x")) <= 1.02))
    val evrs = out.filter(_.getAs[Long]("component") == 1L).map(_.getAs[Double]("evr"))
    assert(evrs.forall(v => v >= 0 && v <= 1))
  }

  /** The matrix and row count as `corr` per column pair computes them —
    * p(p+1)/2 Catalyst aggregates and `count(1)` in one `agg` — with the
    * same fail-fast check on a null correlation.
    */
  private def corrTwin(df: DataFrame, cols: Seq[String]): (Array[Array[Double]], Long) = {
    val p = cols.size
    val exprs = (for (i <- 0 until p; j <- i until p)
      yield corr(col(cols(i)), col(cols(j))).as(s"c_${i}_$j")) :+ count(lit(1)).as("_n")
    val row = df.agg(exprs.head, exprs.tail: _*).head()
    val m = Array.tabulate(p, p) { (i, j) =>
      val (a, b) = (math.min(i, j), math.max(i, j))
      val idx = row.fieldIndex(s"c_${a}_$b")
      require(!row.isNullAt(idx),
        s"corr(${cols(a)}, ${cols(b)}) is null (zero-variance or all-null column)")
      row.getDouble(idx)
    }
    (m, row.getAs[Long]("_n"))
  }

  test("corrMatrixAndCount equals corr per pair on generated tables with nulls, any partitioning") {
    // each pair must drop only the rows where one of ITS columns is null:
    // the nulls are scattered independently per column, so every pair
    // sees a different row set (and the row count sees all of them)
    import org.scalacheck.{Gen, rng}
    def sampled[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, rng.Seed(seed + i)))
    def orNull[A](g: Gen[A]): Gen[Option[A]] = Gen.frequency(5 -> g.map(Some(_)), 1 -> Gen.const(None))
    val genRow = for {
      a <- Gen.choose(-50.0, 50.0)
      noise <- Gen.choose(-5.0, 5.0)
      b <- orNull(Gen.const(1e3 + 0.8 * a + noise)) // off-zero mean, correlated with a
      c <- orNull(Gen.choose(0, 9))                   // an int column, cast to double
      d <- orNull(Gen.choose(-1e-3, 1e-3))
      aNull <- Gen.frequency(6 -> false, 1 -> true)
    } yield (if (aNull) None else Some(a), b, c, d)
    val cols = Seq("a", "b", "c", "d")
    for (seed <- Seq(5L, 23L, 71L)) {
      val rows = sampled(genRow, 40 + (seed % 7).toInt * 30, seed)
      val df = rows.toDF(cols: _*)
      val (want, wantN) = corrTwin(df, cols)
      for (parts <- Seq(1, 7)) {
        val (got, n) = Pca.corrMatrixAndCount(df.repartition(parts), cols)
        assert(n === wantN && n === rows.size, s"seed=$seed repartition($parts)")
        for (i <- 0 until 4; j <- 0 until 4)
          assert(math.abs(got(i)(j) - want(i)(j)) <= 1e-12,
            s"seed=$seed repartition($parts) ($i,$j): ${got(i)(j)} vs ${want(i)(j)}")
      }
    }
  }

  test("a null correlation fails with the message corr's form gave") {
    def message(body: => Any): String = intercept[IllegalArgumentException](body).getMessage
    val oneRow = Seq((1.0, 2.0)).toDF("a", "b")
    val allNull = Seq((1.0, None: Option[Double]), (2.0, None), (3.0, None)).toDF("a", "b")
    for (df <- Seq(oneRow, allNull))
      assert(message(Pca.corrMatrixAndCount(df, Seq("a", "b"))) ===
        message(corrTwin(df, Seq("a", "b"))))
    assert(message(Pca.corrMatrixAndCount(allNull, Seq("a", "b"))) ===
      "requirement failed: corr(a, b) is null (zero-variance or all-null column)")
    // a zero-variance column: Spark's `corr` divides by zero, which is null
    // with ANSI off and a DIVIDE_BY_ZERO error with it on; the fit gives
    // the null-correlation message under both
    val flat = Seq((1.0, 2.0), (2.0, 2.0), (3.0, 2.0)).toDF("a", "b")
    val fit = message(Pca.corrMatrixAndCount(flat, Seq("a", "b")))
    assert(fit === "requirement failed: corr(a, b) is null (zero-variance or all-null column)")
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      assert(message(Pca.corrMatrixAndCount(flat, Seq("a", "b"))) === fit)
      assert(message(corrTwin(flat, Seq("a", "b"))) === fit)
    }
    withSQLConf("spark.sql.ansi.enabled" -> "true") {
      assert(intercept[Exception](corrTwin(flat, Seq("a", "b"))).getMessage.contains("DIVIDE_BY_ZERO"))
    }
  }

  test("circle's local table comes in (component, variable) order") {
    val df = Seq.tabulate(50)(i => (i.toDouble, (i % 7).toDouble, 3.0 * i + (i % 4)))
      .toDF("z", "m", "a")
    val out = Pca.circle(df, Seq("z", "m", "a"), spark)
    val keys = out.collect().map(r => (r.getAs[Long]("component"), r.getAs[String]("variable"))).toSeq
    assert(keys === keys.sorted)
    assert(keys.size === 9)
  }
}
