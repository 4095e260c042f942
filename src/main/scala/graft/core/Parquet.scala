package graft.core

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Reading a parquet path (an Opset store, a sink directory, a fixture
  * file) without a Spark job while the DataFrame is built.
  *
  * `spark.read.parquet(path)` infers the schema by reading one footer in a
  * one-task job. [[read]] reads that same footer on the driver and hands
  * the schema to `spark.read.schema(...)`, so building the plan runs no
  * job; executing it reads exactly what the plain read would.
  *
  * Which file: the path itself if it is a file, else the first data file
  * of a recursive walk in name order that skips `_`- and `.`-prefixed
  * names (`_SUCCESS`, `_spark_metadata`, `.crc` files). That is the one
  * file Spark's non-merging inference reads, and it reaches into
  * `partitionBy` directories; the partition columns themselves are still
  * inferred by Spark from the directory names. The footer becomes a
  * schema as Spark converts it: Spark's row-metadata key when present,
  * else `ParquetToSparkSchemaConverter` over the session conf (so
  * `nanosAsLong` and `binaryAsString` apply as set when [[read]] runs).
  *
  * Fallback: with no readable footer (a missing path, an empty directory,
  * a glob, a corrupt file), with `mergeSchema` on, or outside a classic
  * session, the plain `spark.read.parquet(path)` runs — so every failure
  * is Spark's own error. Nothing is cached: each call reads the footer
  * again, so a store rewritten in place is read with its new schema.
  */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** The schema `spark.read.parquet(path)` would infer, without a job. */
  def schema(spark: SparkSession, path: String): StructType = read(spark, path).schema

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    spark match {
      case s: ClassicSession if !s.sessionState.conf.isParquetSchemaMergingEnabled =>
        try {
          val conf = s.sessionState.newHadoopConf()
          val p = new Path(path)
          firstDataFile(p.getFileSystem(conf), p).map { file =>
            val footer = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
            ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
              new ParquetToSparkSchemaConverter(s.sessionState.conf))
          }
        } catch { case NonFatal(_) => None }
      case _ => None
    }

  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    val status = fs.getFileStatus(p)
    if (status.isFile) Some(status)
    else fs.listStatus(p).toSeq
      .filterNot { c => val n = c.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .sortBy(_.getPath.getName)
      .iterator.flatMap(c => if (c.isFile) Some(c) else firstDataFile(fs, c.getPath))
      .nextOption()
  }
}
