package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import scala.util.Using
import scala.util.control.NonFatal

/** Local-filesystem housekeeping shared by the sinks, the query scratch
  * dirs and the harness mains.
  */
private[graft] object LocalFs {

  /** Delete `f` and everything below it; a missing path is a no-op.
    * `listFiles` returns null on an I/O error or when a concurrent cleaner
    * (e.g. a stream's checkpoint manager removing its own temp files)
    * races the walk, so a null listing is treated as empty.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Write `df` as ONE parquet file at `dest` (the testdata layout:
    * `<table>.parquet` is a file, not a directory), replacing whatever is
    * there: `coalesce(1)` into a sibling dir, move its single
    * `part-*.parquet` onto `dest`, drop the dir. The dir's `_` prefix hides
    * it from a file source reading the same directory. Returns `dest`.
    */
  def writeSingleParquet(df: org.apache.spark.sql.DataFrame, dest: String): java.io.File = {
    val out = new java.io.File(dest)
    val tmp = new java.io.File(out.getParentFile, s"_${out.getName}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $dest"))
    deleteRecursively(out)
    java.nio.file.Files.move(part.toPath, out.toPath)
    deleteRecursively(tmp)
    out
  }

  /** `spark.read.parquet(dir)` for a flat local parquet directory (an
    * index the sinks write), without Spark's schema-inference job. With
    * `mergeSchema` off Spark takes the schema from ONE file — the first
    * data file by path — in a one-task job; here the driver reads that
    * file's footer and converts it the same way (Spark's row-metadata key,
    * else the Parquet schema under the session's conversion settings), then
    * reads with that schema. A missing, empty, partitioned (`k=v` subdirs)
    * or summary-file directory, or a footer that does not read, falls back
    * to `spark.read.parquet(dir)`, so results and errors are Spark's own.
    */
  def readFlatParquet(spark: SparkSession, dir: String): DataFrame = {
    // Spark's listing filter (InMemoryFileIndex.shouldFilterOutPathName)
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    val entries = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
    val visible = entries.filterNot(f => hidden(f.getName))
    val flat = !entries.exists(f => f.getName.startsWith("_metadata") || f.getName.startsWith("_common_metadata")) &&
      !visible.exists(_.isDirectory)
    val schema = if (!flat) None else visible.minByOption(_.getName).flatMap { first =>
      try Some(footerSchema(spark, first)) catch { case NonFatal(_) => None }
    }
    schema.fold(spark.read.parquet(dir))(s => spark.read.schema(s).parquet(dir))
  }

  /** The schema Spark's parquet inference gives one file
    * (`ParquetFileFormat.mergeSchemasInParallel`'s converter settings).
    */
  private def footerSchema(spark: SparkSession, f: java.io.File): org.apache.spark.sql.types.StructType = {
    val options = ParquetReadOptions.builder().withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val meta = Using.resource(ParquetFileReader.open(new LocalInputFile(f.toPath), options))(_.getFooter)
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(f.toURI), meta), converter)
  }
}
