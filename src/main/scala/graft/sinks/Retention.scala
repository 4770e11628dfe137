package graft.sinks

import graft.LocalFs
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted row deletion from a partitioned parquet dataset — the
  * compliance/retention primitive (delete-by-id) done at partition scope:
  * only partitions that actually CONTAIN a doomed row are rewritten;
  * every other partition's files are left byte-identical on disk
  * (pinned in RetentionSpec by mtime). At 100 TB deleting a handful of
  * ids touches a handful of partitions, not the whole corpus — the same
  * "only move what's missing" discipline as the incremental sync, applied
  * to removal.
  *
  * Realization: stage-then-swap per affected partition (parquet cannot
  * overwrite its own input in place — the same commit pattern as
  * [[EsBulkSink.upsertById]], scoped to partition directories). Surviving
  * rows of affected partitions are written to a staging dir partitioned
  * by `partCol`, then each affected directory is swapped; a partition
  * whose every row was doomed simply has its directory removed.
  */
object Retention {

  /** Delete `ids` (column `idCol`) from the partitioned dataset at `dir`.
    * Returns (affected partition values, rows deleted).
    */
  def deleteByIds(
      spark: SparkSession,
      dir: String,
      partCol: String,
      idCol: String,
      ids: DataFrame): (Seq[String], Long) = {
    val data = spark.read.parquet(dir)
    val idsOnly = ids.select(col(idCol)).distinct()
    // metadata-scale: the partition values containing doomed rows
    val affected = data.join(idsOnly, Seq(idCol), "left_semi")
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (affected.isEmpty) return (Seq.empty, 0L)

    val scoped = data.filter(col(partCol).cast("string").isin(affected: _*))
    val doomed = scoped.join(idsOnly, Seq(idCol), "left_semi").count()
    val kept = scoped.join(idsOnly, Seq(idCol), "left_anti")

    val staging = dir + ".delete-staging"
    kept.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(staging)
    affected.foreach { p =>
      val live = new java.io.File(s"$dir/$partCol=$p")
      if (live.exists()) { live.listFiles().foreach(_.delete()); live.delete() }
      val staged = new java.io.File(s"$staging/$partCol=$p")
      // absent staged dir = the partition was fully emptied; nothing to move
      if (staged.exists() && !staged.renameTo(live))
        throw new java.io.IOException(s"failed to commit $staged -> $live")
    }
    LocalFs.deleteRecursively(new java.io.File(staging))
    (affected, doomed)
  }
}
