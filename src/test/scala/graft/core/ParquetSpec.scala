package graft.core

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{BinaryType, LongType, MetadataBuilder, StringType, StructType}
import graft.SparkSpec

/** [[Parquet]] gives every path the schema `spark.read.parquet` infers,
  * and gets it from a footer read on the driver: no Spark job.
  */
class ParquetSpec extends SparkSpec {

  /** Same schema as the plain read, and building the frame ran no job. */
  private def assertParity(path: String): Unit = {
    val expected = spark.read.parquet(path).schema
    var got: StructType = null
    val jobs = jobsStarted { got = Parquet.schema(spark, path) }
    assert(got === expected, s"schema of $path")
    assert(jobs === 0, s"jobs while reading the schema of $path")
  }

  test("every committed benchmark fixture reads with the inferred schema, no job") {
    val fixtures = new File("perfbench/fixture").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(fixtures.length >= 10)
    fixtures.sortBy(_.getName).foreach(f => assertParity(f.getPath))
  }

  test("a multi-file Opset.save directory with _SUCCESS, field metadata kept") { withTempDir { path =>
    val meta = new MetadataBuilder().putString("unit", "m/s").build()
    val os = Opset.sampleData(spark)
    // AQE would coalesce this small output into one file
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      Opset(os.df.withColumn("value", col("value").as("value", meta))).save(path, numFiles = 3)
    }
    assert(new File(path, "_SUCCESS").exists())
    assert(new File(path).list().count(_.endsWith(".parquet")) > 1)
    assertParity(path)
    // the metadata lives only in Spark's row-metadata key, not the parquet schema
    assert(Parquet.schema(spark, path)("value").metadata.getString("unit") === "m/s")
    assert(Opset.load(spark, path).df.schema === spark.read.parquet(path).schema)
  }}

  test("a partitionBy directory keeps its inferred partition column") { withTempDir { path =>
    spark.range(40).select(col("id"), (col("id") % 4).as("cell"),
        array(col("id").cast("double"), lit(1.0)).as("vec"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    assertParity(path)
    assert(Parquet.schema(spark, path).fieldNames.toSeq === Seq("id", "vec", "cell"))
  }}

  test("a streaming file-sink directory with _spark_metadata") { withTempDir { tmp =>
    val (src, out, ckpt) = (s"$tmp/src", s"$tmp/sink", s"$tmp/ckpt")
    spark.range(30).select(col("id"), (col("id") * 2).as("v")).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(Parquet.schema(spark, src)).parquet(src)
      .writeStream.format("parquet").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(out)
    try q.awaitTermination() finally q.stop()
    assert(new File(out, "_spark_metadata").isDirectory)
    assertParity(out)
  }}

  test("binaryAsString and nanosAsLong apply to a footer without Spark's key") { withTempDir { tmp =>
    // written by parquet-mr, not Spark: no row-metadata key, so the
    // session's converter settings decide the types
    val path = Paths.get(tmp, "raw.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary b; required int64 ns (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withConf(new Configuration()).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema)
      writer.write(g.newGroup().append("b", "x").append("ns", 1000L))
    } finally writer.close()
    withSQLConf("spark.sql.parquet.binaryAsString" -> "true",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assertParity(path)
      assert(Parquet.schema(spark, path)("b").dataType === StringType)
      assert(Parquet.schema(spark, path)("ns").dataType === LongType)
    }
    withSQLConf("spark.sql.parquet.binaryAsString" -> "false") {
      assertParity(path)
      assert(Parquet.schema(spark, path)("b").dataType === BinaryType)
    }
  }}

  test("a store rewritten in place is read with its new schema") { withTempDir { path =>
    spark.range(3).select(col("id").as("a")).write.mode("overwrite").parquet(path)
    assert(Parquet.schema(spark, path).fieldNames.toSeq === Seq("a"))
    spark.range(3).select(col("id").as("b"), lit("x").as("c")).write.mode("overwrite").parquet(path)
    assert(Parquet.schema(spark, path).fieldNames.toSeq === Seq("b", "c"))
  }}

  test("a missing path and an empty directory fail as spark.read.parquet does") { withTempDir { empty =>
    val missing = Paths.get(empty, "nope").toString
    for (p <- Seq(missing, empty)) {
      val plain = intercept[Exception](spark.read.parquet(p))
      val helper = intercept[Exception](Parquet.read(spark, p))
      assert(helper.getClass === plain.getClass, s"exception for $p")
    }
  }}

  test("no src/main call site reads parquet around the helper") {
    val helper = Paths.get("src/main/scala/graft/core/Parquet.scala")
    val plainRead = """\.read\s*\.\s*parquet\s*\(""".r
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if plainRead.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "read parquet through graft.core.Parquet.read (no schema job):\n" + offenders.mkString("\n"))
  }
}
