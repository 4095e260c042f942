package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Opset set semantics (tabata opset.py:52-261) on an in-memory store. */
class OpsetSpec extends SparkSpec {
  import spark.implicits._

  private def os = Opset(Seq(
    ("r1", 1L, 10.0), ("r1", 2L, 11.0),
    ("r2", 1L, 20.0),
    ("r3", 1L, 30.0), ("r3", 2L, 31.0), ("r3", 3L, 32.0),
    ("r4", 1L, 40.0),
  ).toDF("record", "t", "value"))

  test("records lists distinct names sorted") {
    assert(os.records.as[String].collect().toSeq === Seq("r1", "r2", "r3", "r4"))
  }

  test("get filters one record") {
    assert(os.get("r3").count() === 3)
    assert(os.get("nope").count() === 0)
  }

  test("slice selects [from, until) positions over sorted names") {
    val s = os.slice(1, 3)
    assert(s.records.as[String].collect().toSeq === Seq("r2", "r3"))
    assert(s.df.count() === 4)
  }

  test("recordAt returns the sorted positional name") {
    assert(os.recordAt(0) === Some("r1"))
    assert(os.recordAt(3) === Some("r4"))
    assert(os.recordAt(9) === None)
  }

  test("withSortKey reorders the positional index (opset.py sortkey)") {
    // reverse lexicographic via a descending key
    val rev = os.withSortKey(c => -ascii(substring(c, 2, 1)))
    assert(rev.records.as[String].collect().toSeq === Seq("r4", "r3", "r2", "r1"))
    assert(rev.recordAt(0) === Some("r4"))
    assert(rev.slice(1, 3).records.as[String].collect().toSeq.sorted === Seq("r2", "r3"))
    // the unsorted Opset is untouched
    assert(os.recordAt(0) === Some("r1"))
  }

  test("put upserts: replaces an existing record, appends a new one") {
    val replaced = os.put(Seq(("r2", 1L, 99.0), ("r2", 2L, 98.0)).toDF("record", "t", "value"))
    assert(replaced.get("r2").orderBy("t").select("value").as[Double].collect().toSeq === Seq(99.0, 98.0))
    assert(replaced.size === 4)

    val appended = os.put(Seq(("r9", 1L, 1.0)).toDF("record", "t", "value"))
    assert(appended.size === 5)
    assert(appended.get("r1").count() === 2) // untouched records intact
  }

  test("save/load roundtrips the store with record co-location") {
    withTempDir { tmp =>
      val dir = s"$tmp/store"
      os.save(dir, numFiles = 2)
      val back = Opset.load(spark, dir)
      assert(back.size === 4)
      assert(back.df.count() === os.df.count())
      assert(back.get("r3").count() === 3)
    }
  }

  test("sampleData loads the canonical events Opset") {
    val os = Opset.sampleData(spark)
    assert(os.df.columns.toSeq === Seq("record", "t", "event_type", "value"))
    assert(os.size > 0)
  }

  test("clean empties the store keeping the schema") {
    val c = os.clean
    assert(c.df.count() === 0)
    assert(c.df.columns.toSeq === os.df.columns.toSeq)
  }

  test("asof aligns the latest right sample at or before each left t, per record") {
    val left = Seq(("a", 1L, 10.0), ("a", 2L, 11.0), ("a", 3L, 12.0), ("a", 5L, 13.0),
      ("b", 1L, 20.0)).toDF("record", "t", "value")
    val right = Seq(("a", 2L, 0.5), ("a", 5L, 0.7), ("b", 3L, 0.9)).toDF("record", "t", "ref")
    val out = Opset(left).asof(right, Seq("ref"))
      .df.orderBy("record", "t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(out.toSeq === Seq(
      ("a", 1L, 10.0, None),       // before the first right sample
      ("a", 2L, 11.0, Some(0.5)),  // equal t is visible (<=)
      ("a", 3L, 12.0, Some(0.5)),  // held until the next right sample
      ("a", 5L, 13.0, Some(0.7)),
      ("b", 1L, 20.0, None)))      // b's right sample is later than every left t
  }

  test("asof plans one record shuffle and no join") {
    val left = Seq(("a", 1L, 10.0)).toDF("record", "t", "value")
    val right = Seq(("a", 1L, 0.5)).toDF("record", "t", "ref")
    val plan = Opset(left).asof(right, Seq("ref")).df.queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"asof must be union+window, not a join:\n$plan")
  }
}
