package graft.sources

import graft.LocalFs
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed, co-located joins (SURVEY.md north-star scale notes).
  *
  * A fact-to-fact equi-join (e.g. lineitem ⋈ orders) shuffles BOTH sides on
  * every query. Writing both tables bucketed by the join key — same bucket
  * count, same column — lets Spark plan a SortMergeJoin with NO exchange:
  * each task reads matching buckets from both tables. At 100 TB this
  * removes the dominant cost of repeated joins against the same keys;
  * the shuffle is paid once at write time.
  *
  * Uses the session catalog (`saveAsTable` — bucket metadata lives in the
  * metastore; plain parquet paths can't carry it).
  */
object Bucketing {

  /** Write `df` as a bucketed table, replacing any existing table (and any
    * orphaned warehouse directory a previous failed run left behind —
    * managed-table creation refuses to reuse an existing location).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val residue = new java.io.File(warehouse, table)
    if (residue.exists()) LocalFs.deleteRecursively(residue)
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(buckets, bucketCol)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket column — planned
    * without a shuffle (see BucketingSpec's plan assertion).
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(leftTable).join(spark.table(rightTable), col(leftKey) === col(rightKey))
  }
}
