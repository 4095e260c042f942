package graft.sources

import graft.SparkSpec
import Hdf5._

/** Pins the HDF5 subset codec (the tabata-store migration on-ramp):
  * byte-level round trips through the real file format, loud rejection
  * outside the subset, and the pandas-fixed-format → long-format Opset
  * mapping including heterogeneous records and multiple value blocks.
  */
class Hdf5Spec extends SparkSpec {

  private def f64(dims: Long*)(vs: Double*) =
    H5Dataset(dims.toArray, F64(vs.toArray))
  private def i64(dims: Long*)(vs: Long*) =
    H5Dataset(dims.toArray, I64(vs.toArray))
  private def str(dims: Long*)(vs: String*) =
    H5Dataset(dims.toArray, Str(vs.toArray))

  private def assertSame(a: H5Dataset, b: H5Dataset): Unit = {
    assert(a.dims.toSeq === b.dims.toSeq)
    (a.data, b.data) match {
      case (F64(x), F64(y)) => assert(x.toSeq === y.toSeq)
      case (I64(x), I64(y)) => assert(x.toSeq === y.toSeq)
      case (Str(x), Str(y)) => assert(x.toSeq === y.toSeq)
      case _ => fail(s"type mismatch: ${a.data.getClass} vs ${b.data.getClass}")
    }
  }

  test("byte-level round trip: nested groups, f64/i64/string, 1-D and 2-D") {
    val root = H5Group(
      datasets = Map("top" -> i64(3)(7L, -1L, 42L)),
      groups = Map("g1" -> H5Group(
        datasets = Map(
          "vals" -> f64(2, 3)(1.5, -2.25, 3.0, 0.0, 1e-300, -1.7976931348623157e308),
          "idx" -> i64(4)(1L, 2L, 3L, Long.MinValue),
          "names" -> str(2)("ALT [ft]", "T")),
        groups = Map.empty)))
    val back = Hdf5.read(Hdf5.write(root))
    assert(back.groups.keySet === Set("g1"))
    assert(back.datasets.keySet === Set("top"))
    assertSame(back.datasets("top"), root.datasets("top"))
    val g1 = back.groups("g1")
    root.groups("g1").datasets.foreach { case (n, d) => assertSame(g1.datasets(n), d) }
  }

  test("round trip with >8 children exercises multiple symbol-table nodes") {
    val many = (0 until 23).map(i => f"d$i%02d" -> f64(2)(i.toDouble, i + 0.5)).toMap
    val back = Hdf5.read(Hdf5.write(H5Group(many, Map.empty)))
    assert(back.datasets.keySet === many.keySet)
    many.foreach { case (n, d) => assertSame(back.datasets(n), d) }
  }

  test("non-HDF5 bytes and unsupported superblocks are rejected loudly") {
    intercept[IllegalArgumentException] { Hdf5.read(Array.fill[Byte](200)(0x41)) }
    val good = Hdf5.write(H5Group(Map("x" -> i64(1)(1L)), Map.empty))
    val v3 = good.clone(); v3(8) = 3 // superblock version byte
    intercept[IllegalArgumentException] { Hdf5.read(v3) }
  }

  /** A pandas-fixed-format-shaped store: two records, recA with two float
    * signals split over TWO blocks (pandas blocks by dtype/insertion),
    * recB missing one signal — the heterogeneous-store case.
    */
  private def fixtureStore: H5Group = {
    def frame(cols: Seq[(String, Array[Double])], index: Array[Long]): H5Group = {
      val n = index.length
      val (items0, items1) = cols.splitAt(1)
      def block(items: Seq[(String, Array[Double])], i: Int): Map[String, H5Dataset] =
        if (items.isEmpty) Map.empty
        else Map(
          s"block${i}_items" -> str(items.size.toLong)(items.map(_._1): _*),
          s"block${i}_values" -> H5Dataset(Array(items.size.toLong, n.toLong),
            F64(items.flatMap(_._2).toArray)))
      H5Group(
        Map("axis0" -> str(cols.size.toLong)(cols.map(_._1): _*),
          "axis1" -> H5Dataset(Array(n.toLong), I64(index))) ++
          block(items0, 0) ++ block(items1, 1),
        Map.empty)
    }
    H5Group(Map.empty, Map(
      "recA" -> frame(
        Seq("ALT [ft]" -> Array(100.0, 200.0, 300.0), "SPD [kt]" -> Array(5.0, 6.0, 7.0)),
        Array(10L, 20L, 30L)),
      "recB" -> frame(
        Seq("ALT [ft]" -> Array(1.5, 2.5)),
        Array(100L, 200L))))
  }

  test("Hdf5Opset.load: pandas fixed-format store → long format with nulls for missing signals") {
    withTempDir { tmp =>
      val path = s"$tmp/store.h5"
      Hdf5.writeFile(path, fixtureStore)
      val df = Hdf5Opset.load(spark, path)
      assert(df.columns.toSeq === Seq("record", "t", "index", "ALT [ft]", "SPD [kt]"))
      val rows = df.orderBy("record", "t").collect()
      assert(rows.length === 5)
      val a1 = rows(0)
      assert(a1.getString(0) === "recA" && a1.getLong(1) === 1L && a1.getDouble(2) === 10.0)
      assert(a1.getDouble(3) === 100.0 && a1.getDouble(4) === 5.0)
      assert(rows(2).getDouble(3) === 300.0 && rows(2).getDouble(4) === 7.0)
      val b2 = rows(4)
      assert(b2.getString(0) === "recB" && b2.getLong(1) === 2L && b2.getDouble(2) === 200.0)
      assert(b2.getDouble(3) === 2.5)
      assert(b2.isNullAt(4), "recB has no SPD — must be null, not dropped or zero")
    }
  }

  test("Hdf5Opset.loadMany: one task per store, unified schema, loud on extra columns") {
    withTempDir { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      val p1 = dir.resolve("storeA.h5").toString
      val p2 = dir.resolve("storeB.h5").toString
      Hdf5.writeFile(p1, fixtureStore)
      Hdf5.writeFile(p2, fixtureStore)
      val df = Hdf5Opset.loadMany(spark, Seq(p1, p2), Seq("ALT [ft]", "SPD [kt]"))
      assert(df.columns.toSeq === Seq("store", "record", "t", "index", "ALT [ft]", "SPD [kt]"))
      assert(df.count() === 10) // 5 rows per store
      assert(df.select("store").distinct().collect().map(_.getString(0)).sorted
        === Array("storeA", "storeB"))
      // same-named records stay distinguishable via the store key
      assert(df.filter(df("record") === "recA").select("store").distinct().count() === 2)
      // a store with a column outside signalCols fails loudly...
      val narrow = intercept[org.apache.spark.SparkException] {
        Hdf5Opset.loadMany(spark, Seq(p1), Seq("ALT [ft]")).count()
      }
      assert(narrow.getMessage.contains("outside signalCols") ||
        Option(narrow.getCause).exists(_.getMessage.contains("outside signalCols")))
      // ...unless the caller opts into dropping it
      val dropped = Hdf5Opset.loadMany(spark, Seq(p1), Seq("ALT [ft]"),
        ignoreExtraColumns = true)
      assert(dropped.count() === 5 && dropped.columns.length === 5)
    }
  }

  test("Hdf5Opset.convert lands parquet that graft operators read back") {
    withTempDir { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      val h5 = dir.resolve("store.h5").toString
      val out = dir.resolve("opset_parquet").toString
      Hdf5.writeFile(h5, fixtureStore)
      Hdf5Opset.convert(spark, h5, out, numFiles = 2)
      val back = spark.read.parquet(out)
      assert(back.count() === 5)
      // the converted store answers through the ordinary Opset surface
      val ops = graft.core.Opset(back)
      assert(ops.records.collect().map(_.getString(0)).toSeq === Seq("recA", "recB"))
    }
  }
}
