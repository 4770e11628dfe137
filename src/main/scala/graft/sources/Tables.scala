package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source layer (SURVEY.md §2.1 S1–S3, S7).
  *
  * The reference reads parquet directly (`Debug.py:16`,
  * `Partition-script.py:16`) and via the Glue catalog with a partition
  * push-down predicate (`data-s3-elastic-transfer.py:95-101, 301-308`).
  * Here both collapse to `spark.read.parquet`: Catalyst's
  * `PruneFileSourcePartitions` + parquet filter/column pushdown replace the
  * manual `push_down_predicate` string — on a Hive-partitioned layout a
  * `filter($"day" === d)` prunes directories before any I/O happens, which
  * is what keeps a 100 TB table readable (only the requested partition's
  * files are listed and scanned).
  */
object Tables {

  /** S1: plain parquet scan of one driver-testdata table. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** events scan with `ts` normalized to TimestampType, whatever the
    * corpus's physical encoding. The driver testdata has shipped `ts` two
    * ways so far — parquet TIMESTAMP(NANOS), which Spark only reads as a
    * nanos-long (`spark.sql.legacy.parquet.nanosAsLong`, set by our
    * sessions), and TIMESTAMP_MICROS with isAdjustedToUTC=false, which
    * Spark reads as TIMESTAMP_NTZ. Upstream re-encodes are a fact of life
    * a 100 TB pipeline must absorb without its consumers noticing, so the
    * normalization is schema-driven here, in ONE place ([[normalizeTs]]),
    * and every downstream consumer sees plain TimestampType.
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(load(spark, sfDir, "events"))

  /** Normalize a raw `ts` column to TimestampType:
    *  - nanos-long (TIMESTAMP(NANOS) under nanosAsLong): exact integer
    *    `div 1000` to micros, then timestamp_micros;
    *  - TIMESTAMP_NTZ (TIMESTAMP_MICROS, isAdjustedToUTC=false): cast —
    *    sessions pin spark.sql.session.timeZone=UTC, so the wall-clock →
    *    instant reinterpretation is the identity on the stored micros;
    *  - TimestampType: already normalized.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Day-pruned events scan: the predicate is applied to the RAW stored
    * `ts` column (nanos-long or NTZ, per the corpus encoding) as a range
    * in the STORED type, so it reaches the parquet reader as a pushed
    * filter and prunes row groups / partitions by min-max stats —
    * filtering on the derived `day` string (or through a type-normalizing
    * cast) evaluates AFTER the scan and prunes nothing. At 100 TB this is
    * the difference between reading one day and reading everything.
    */
  def loadEventsPrunedToDay(spark: SparkSession, sfDir: String, day: String): DataFrame = {
    val df = load(spark, sfDir, "events")
    val start = java.time.LocalDate.parse(day).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    val pruned = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val lo = start.getEpochSecond * 1000000000L
        df.filter(col("ts") >= lo && col("ts") < lo + 86400L * 1000000000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ column needs NTZ literals (LocalDateTime): a TimestampType
        // literal would wrap the COLUMN in a cast and unpush the filter.
        // NTZ wall-clock == UTC instant here (sessions pin UTC).
        val lo = java.time.LocalDateTime.ofInstant(start, java.time.ZoneOffset.UTC)
        df.filter(col("ts") >= lit(lo) && col("ts") < lit(lo.plusDays(1)))
      case _ =>
        df.filter(col("ts") >= java.sql.Timestamp.from(start) &&
          col("ts") < java.sql.Timestamp.from(start.plusSeconds(86400)))
    }
    normalizeTs(pruned)
  }

  /** S2: partitioned-dataset scan (Hive layout, e.g. `.../day=2024-01-05/`).
    * `basePath` keeps the partition column in the schema, mirroring the
    * Glue catalog table of `data-s3-elastic-transfer.py:95-99`.
    */
  def loadPartitioned(spark: SparkSession, basePath: String): DataFrame =
    spark.read.option("basePath", basePath).parquet(basePath)

  /** S3: partition-pruned scan — the declarative form of the reference's
    * `push_down_predicate=f"month='{month}'"`. Catalyst prunes partitions;
    * no custom rule needed (SURVEY.md §4).
    */
  def loadPartition(spark: SparkSession, basePath: String, partCol: String, value: String): DataFrame =
    loadPartitioned(spark, basePath).filter(col(partCol) === lit(value))

  /** Fan a narrow scan out to the session's full parallelism before
    * CPU-heavy per-row work (shingle explosion, signature math, n-gram
    * generation). A small table arrives as one file → one input split →
    * one task, so a per-row-expensive downstream stage runs single-threaded
    * regardless of core count; measured 3× on x_char_ngrams at sf0.1. The
    * guard makes this a no-op once the scan already has enough splits —
    * at production scale (thousands of splits per table) it never fires,
    * while the shuffle it adds here is sub-MB. CPU-bound stages should run
    * at cluster parallelism even when their input is small.
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Gate on the scan's file inventory (cheap: file listing, no physical
    // planning — df.rdd here would force a full driver-side plan-to-RDD
    // conversion per call). Split count is >= file count and, for large
    // files, >= ceil(bytes / maxPartitionBytes); once either bound reaches
    // the target this is a no-op, which is the production-scale case
    // (thousands of splits per table).
    val files = df.inputFiles
    if (files.length >= target) df
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      val totalBytes = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
      if (totalBytes / maxBytes >= target) df else df.repartition(target)
    }
  }

  /** The reference's incremental unit is a month-valued string partition
    * column (`Partition-script.py:37`). The driver testdata's `events.ts`
    * spans ~30 days, so we bucket at day granularity — same semantics,
    * non-degenerate cardinality.
    */
  def withDay(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.withColumn("day", date_format(col(tsCol), "yyyy-MM-dd"))
}
