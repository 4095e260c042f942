package graft.instants

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.instants.Indicators.IndicatorCode

/** End-to-end instant detection on a learnable fixture: step-function
  * records whose step position is the labeled instant. The tree should
  * find the value split and belief/argmax should land on the step.
  */
class SelectorSpec extends SparkSpec {
  import spark.implicits._

  private val Steps = Map("r0" -> 20L, "r1" -> 30L, "r2" -> 40L, "r3" -> 25L)
  private val N = 60

  private lazy val df = Steps.toSeq.flatMap { case (r, step) =>
    (1 to N).map { t =>
      val pos = t - 1
      // 0 before/at the instant, 10 after, plus a tiny slope for texture
      val v = (if (pos <= step) 0.0 else 10.0) + pos * 0.01
      (r, t.toLong, v)
    }
  }.toDF("record", "t", "value")

  private lazy val selected = Steps.toSeq.map { case (r, s) => (r, s) }.toDF("record", "i")
  private val codes = Seq(IndicatorCode("value", 3, 1, 2.0))
  private val featCols = Seq("LEN", "REV", "PERCENT", "value") ++ codes.map(_.name)

  test("withPositional emits LEN/REV/PERCENT per record") {
    val p = Indicators.withPositional(df, "record", "t")
      .filter($"record" === "r0" && $"t" === 1L).head()
    assert(p.getAs[Double]("LEN") === 0.0)
    assert(p.getAs[Double]("REV") === N.toDouble - 1)
    assert(p.getAs[Double]("PERCENT") === 0.0)
  }

  test("epsilon is positive and deterministic on the fixture") {
    val e1 = Indicators.epsilon(df, "record", "t", "value", 7, 1, 2)
    val e2 = Indicators.epsilon(df, "record", "t", "value", 7, 1, 2)
    assert(e1 === e2)
    assert(e1 > 0.0)
  }

  test("array epsilon path is bit-identical to the windowed formulation") {
    // multi-column, multi-width grid incl. a window wide enough (w=21 ->
    // 2w+1=43) that no fixture record reaches it -> both paths must agree
    // a combo with SOME eligible records still yields, and mixed record
    // lengths exercise the per-combo eligibility drop
    val mixed = df.union(
      (1 to 20).map(t => ("r_short", t.toLong, math.sin(t * 0.7) * 3.0))
        .toDF("record", "t", "value"))
      .withColumn("v2", col("value") * col("value"))
    val combos = Seq(("value", 7, 1), ("value", 9, 0), ("v2", 7, 1), ("value", 15, 2))
    val viaArray = Indicators.epsilons(mixed, "record", "t", combos, 2)
    val viaWindow = ReferenceTwins.epsilonsFromSg(
      Indicators.withStage1Sg(mixed, "record", "t", combos, 2, "_eq"),
      "record", "t", combos, 2, "_eq")
    assert(viaArray.keySet === viaWindow.keySet)
    for (k <- combos) {
      assert(java.lang.Double.doubleToLongBits(viaArray(k)) ===
        java.lang.Double.doubleToLongBits(viaWindow(k)),
        s"combo $k: array ${viaArray(k)} vs window ${viaWindow(k)}")
    }
    // a combo no record can satisfy must fail loudly on both paths
    val tooWide = Seq(("value", 31, 1))
    intercept[IllegalArgumentException](
      Indicators.epsilons(mixed, "record", "t", tooWide, 2))
    intercept[IllegalArgumentException](
      ReferenceTwins.epsilonsFromSg(
        Indicators.withStage1Sg(mixed, "record", "t", tooWide, 2, "_eq2"),
        "record", "t", tooWide, 2, "_eq2"))
  }

  test("fit + belief + predict recovers the step instants within 2 samples") {
    val (bank, _) = Indicators.bank(df, "record", "t", codes, 2)
    val sel = Selector.fit(bank, selected, "record", "t", featCols,
      retries = 3, samplePct = 0.5, minInstances = 5, seed = 7L)
    val bel = Selector.belief(sel, bank, "record", "t", filterWidth = 5)
    val computed = Selector.predictInstants(bel, "record", "t")
    val scores = Selector.allScores(selected, computed, "record")
    assert(scores.count() === 4)
    assert(Selector.score(scores) <= 2L,
      s"gaps: ${scores.collect().mkString(", ")}")
  }

  test("selection editing: clear empties, update upserts, drop removes, re-fit composes") {
    assert(Selector.clearSelection(selected).count() === 0L)
    assert(Selector.clearSelection(selected).columns.toSeq === selected.columns.toSeq)

    // the expert re-clicks r1's instant and labels a new record r4
    val edits = Seq(("r1", 35L), ("r4", 10L)).toDF("record", "i")
    val updated = Selector.updateSelection(selected, edits, "record")
    val m = updated.as[(String, Long)].collect().toMap
    assert(m === Map("r0" -> 20L, "r1" -> 35L, "r2" -> 40L, "r3" -> 25L, "r4" -> 10L))

    // conflicting edits for one record violate the one-instant-per-record
    // contract and must fail loudly instead of keeping both rows
    val conflicting = Seq(("r1", 35L), ("r1", 36L)).toDF("record", "i")
    val ex = intercept[IllegalArgumentException](
      Selector.updateSelection(selected, conflicting, "record"))
    assert(ex.getMessage.contains("r1"))

    val dropped = Selector.dropSelection(updated, Seq("r4"), "record")
    assert(dropped.as[(String, Long)].collect().toMap ===
      Map("r0" -> 20L, "r1" -> 35L, "r2" -> 40L, "r3" -> 25L))

    // a re-fit on the edited table is the same fit call — the moved r1
    // label shifts r1's computed instant toward the new position
    val (bank, _) = Indicators.bank(df, "record", "t", codes, 2)
    val sel = Selector.fit(bank, dropped, "record", "t", featCols,
      retries = 3, samplePct = 0.5, minInstances = 5, seed = 7L)
    val computed = Selector.predictInstants(
      Selector.belief(sel, bank, "record", "t", filterWidth = 5), "record", "t")
    val got = computed.as[(String, Long)].collect().toMap
    assert(got.keySet === Set("r0", "r1", "r2", "r3"))
  }

  test("describe dumps the feature table and a rule per tree path") {
    val (bank, _) = Indicators.bank(df, "record", "t", codes, 2)
    val sel = Selector.fit(bank, selected, "record", "t", featCols,
      retries = 3, samplePct = 0.5, minInstances = 5, seed = 7L)
    val text = Selector.describe(sel)
    // the feature table lists every kept feature with its assembler index
    sel.features.zipWithIndex.foreach { case (f, i) =>
      assert(text.contains(s"$i: $f"), s"missing feature-table row for $f")
    }
    // rules: one <= and one > line per internal node, a class line per leaf,
    // and the learnable fixture must actually split (no single-leaf dump)
    val le = text.linesIterator.count(_.contains("<="))
    val gt = text.linesIterator.count(_.contains(">  "))
    val leaves = text.linesIterator.count(_.contains("class: "))
    assert(le >= 1 && le === gt, s"unbalanced split lines: $le <= vs $gt >")
    assert(leaves === le + 1, s"$leaves leaves for $le internal nodes")
  }

  test("save/load round-trips the fitted detector (same predictions)") {
    val (bank, _) = Indicators.bank(df, "record", "t", codes, 2)
    val sel = Selector.fit(bank, selected, "record", "t", featCols,
      retries = 3, samplePct = 0.5, minInstances = 5, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft-selector").toString
    Selector.save(spark, sel, s"$dir/model")
    val back = Selector.load(spark, s"$dir/model")
    assert(back.features === sel.features)
    assert(back.model.toDebugString === sel.model.toDebugString)
    val a = Selector.predictInstants(
      Selector.belief(sel, bank, "record", "t", 5), "record", "t")
      .orderBy("record").collect().toSeq
    val b = Selector.predictInstants(
      Selector.belief(back, bank, "record", "t", 5), "record", "t")
      .orderBy("record").collect().toSeq
    assert(a === b)
  }

  test("indicator bank scales to a full (width × order × ±sigma) grid") {
    val grid = for {
      l <- Seq(3, 5)
      d <- Seq(1, 2)
      e <- Seq(1.0, -1.0)
    } yield IndicatorCode("value", l, d, e * 2.0)
    val (bank, eps) = Indicators.bank(df, "record", "t", grid, deg = 2)
    assert(eps.size === 8)
    // epsilon cache: one epsilon per distinct (col, w, d) = 4
    assert(eps.map { case (c, e) => ((c.col, math.abs(c.halfWidth), c.order), e) }.toMap.size === 4)
    val cols = bank.columns.toSet
    grid.foreach(c => assert(cols.contains(c.name), c.name))
    assert(bank.count() === df.count())
  }

  test("belief is a normalized distribution per record") {
    val (bank, _) = Indicators.bank(df, "record", "t", codes, 2)
    val sel = Selector.fit(bank, selected, "record", "t", featCols,
      retries = 3, samplePct = 0.5, minInstances = 5, seed = 7L)
    val bel = Selector.belief(sel, bank, "record", "t", filterWidth = 5)
    val sums = bel.groupBy("record").agg(sum("belief").as("s"))
      .select("s").as[Double].collect()
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-9 || math.abs(s) < 1e-9))
    assert(bel.filter($"belief" < 0).count() === 0)
  }
}
