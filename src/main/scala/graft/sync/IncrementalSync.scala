package graft.sync

import graft.LocalFs
import graft.ops.Diff
import graft.sinks.EsBulkSink
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The reference's two pipelines re-expressed as distributed plans
  * (SURVEY.md §3.1/§3.2, §2.9).
  *
  * `data-s3-elastic-transfer.py  main()` — partition-incremental sync — was:
  * collect source months, collect sink months, Python set-diff, then per
  * month: scan, rdd.map to dicts, zipWithIndex re-scan per 50 000-row batch,
  * POST from the driver. Here the whole thing is TWO actions regardless of
  * how many partitions are missing: one aggregation to plan, one pruned
  * scan + insert-only write to move the data. No per-batch re-scans,
  * nothing funnels through the driver.
  *
  * `ID-based-transfer.py  main()` — row-level reconciliation — was serial
  * driver Python (Athena polling, 10 000-doc ES cursor pages, Python set
  * difference, chunked IN-lists, pandas iterrows). Here: ONE action — the
  * count reconciliation, the id anti-join and the insert-only write are
  * one plan, the moved rows counted during the write.
  *
  * Both commit through [[EsBulkSink.appendNewById]], which appends only
  * the rows whose id the index lacks; each sync cycle adds at most 2 small
  * files to the index (see there). [[verifyInSync]] is one more action.
  * The index is read with `LocalFs.readFlatParquet` (here and in the
  * sink): its schema comes from a footer read on the driver, so reading
  * it submits no schema-inference job.
  */
object IncrementalSync {

  /** Result of a partition-level sync: which partitions moved, how many rows. */
  final case class SyncReport(partitionsMoved: Seq[String], rowsMoved: Long)

  /** T1+T5: move every source partition absent from the sink, skipping
    * already-present ones (`data-s3-elastic-transfer.py:287-291`). One
    * aggregation plans the missing partitions; their rows are selected by
    * an `isin` filter over the collected partition list — a pruned scan,
    * no semi-join and nothing cached — and per-partition looping
    * (reference `:296`) is left to Spark's task scheduler.
    *
    * Progress accounting (the reference's printed running totals,
    * `data-s3-elastic-transfer.py:344-356`) rides on `observe()` metrics:
    * the row count and per-partition spread are measured DURING the sink
    * write, not by a separate `count()` job — one scan of the moved data
    * instead of two, which at 100 TB is the whole cost of the sync again.
    * `writeSink` must run at least one action over the rows it receives
    * (every sink does — that's what makes it a sink); the observation is
    * filled by that action.
    */
  def syncMissingPartitions(
      source: DataFrame,
      sinkState: DataFrame,
      partCol: String,
      writeSink: DataFrame => Unit): SyncReport = {
    val parts = Diff.partitionDiff(source, sinkState, partCol).collect().map(_.getString(0)).toSeq.sorted
    if (parts.isEmpty) SyncReport(Seq.empty, 0L)
    else {
      val obs = Observation("graft_sync")
      val rows = source.filter(col(partCol).isin(parts: _*))
        .observe(obs, count(lit(1)).as("rows_moved"),
          // CollectMetrics forbids DISTINCT aggregates; the HLL sketch
          // is progress telemetry, exactness lives in `parts`
          approx_count_distinct(col(partCol)).as("parts_seen"))
      writeSink(rows)
      SyncReport(parts, obs.get("rows_moved").asInstanceOf[Long])
    }
  }

  /** T2: row-level reconciliation — rows whose id the sink lacks, coerced
    * and committed through [[EsBulkSink.appendNewById]] (K3). `reconcile
    * first`: only partitions whose counts mismatch are even scanned for
    * ids, mirroring `ID-based-transfer.py:299-309` but as joins. The
    * returned row count is observed during the commit's write; no separate
    * `count()` runs.
    */
  def reconcileByIds(
      source: DataFrame,
      sinkState: DataFrame,
      partCol: String,
      idCol: String,
      indexDir: String,
      versionCol: String): Long = {
    val mismatched = Diff.countReconcile(source, sinkState, partCol).select(partCol)
    val candidates = source.join(mismatched, Seq(partCol), "left_semi")
    val obs = Observation()
    val missing = Diff.missingRows(candidates, sinkState, idCol)
      .withColumn(versionCol, lit(System.currentTimeMillis()))
      .observe(obs, count(lit(1)).as("rows"))
    EsBulkSink.appendNewById(missing, indexDir, idCol, versionCol)
    obs.get("rows").asInstanceOf[Long]
  }

  /** The flagship pipeline (`data-s3-elastic-transfer.py main()`) end to
    * end: discover sink state, plan missing partitions, move their rows
    * into the emulated index as insert-only appends, and report. The
    * reference's version is ~120 lines of driver orchestration with
    * per-batch re-scans; this is one planning action + one write per run,
    * and safely re-runnable (idempotent ids + partition skip).
    */
  def runPartitionSync(source: DataFrame, indexDir: String, partCol: String, idCol: String): SyncReport = {
    val spark = source.sparkSession
    val sinkState =
      if (new java.io.File(indexDir).exists()) LocalFs.readFlatParquet(spark, indexDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], source.schema.add("__v", "long"))
    syncMissingPartitions(source, sinkState, partCol,
      rows => EsBulkSink.appendNewById(
        rows.withColumn("__v", lit(System.currentTimeMillis())), indexDir, idCol, "__v"))
  }

  /** T5 at the AGGREGATE level: incremental materialized-view refresh.
    * The MV is a partition-per-`partCol` parquet table of `agg` results;
    * a refresh computes `agg` ONLY over source partitions the MV lacks
    * (partition-pruned scan) and appends them — new data never triggers a
    * full recompute. At 100 TB this is the difference between aggregating
    * one day and aggregating years; correctness holds because `agg` is
    * computed per-partition (no cross-partition state).
    * Returns the partitions added this refresh.
    */
  def incrementalAggRefresh(
      source: DataFrame,
      aggDir: String,
      partCol: String,
      agg: DataFrame => DataFrame): Seq[String] = {
    val have =
      if (new java.io.File(aggDir).exists()) source.sparkSession.read.parquet(aggDir)
      else source.limit(0)
    val parts = Diff.partitionDiff(source, have, partCol).collect().map(_.getString(0)).toSeq.sorted
    if (parts.nonEmpty) {
      agg(source.filter(col(partCol).isin(parts: _*)))
        .write.mode("append").partitionBy(partCol).parquet(aggDir)
    }
    parts
  }

  /** Post-sync acceptance check, ported from the reference's own invariant
    * (`ID-based-transfer.py:94-106`): per-partition counts must match and
    * the id sets must be equal. Returns (mismatchedPartitionCount,
    * missingIdCount) — (0, 0) means in sync.
    *
    * The sink is de-duplicated by id once, each id kept in its smallest
    * partition, so an id held in two partitions counts the same way on
    * every run. Both numbers come from ONE action over one chain of
    * aggregations: the sink's rows and the source's ids grouped by id
    * (each id's smallest sink partition, and whether the sink holds it),
    * then those ids and the source's rows grouped by partition (source
    * rows, sink ids, source-only ids), then one row. Source-only ids have
    * no sink partition and land in the null group, counted apart.
    */
  def verifyInSync(source: DataFrame, sink: DataFrame, partCol: String, idCol: String): (Long, Long) = {
    val partType = source.schema(partCol).dataType
    val byId = sink.select(col(idCol), col(partCol).cast(partType).as(partCol), lit(1).as("__k"))
      .unionByName(source.select(col(idCol), lit(null).cast(partType).as(partCol), lit(0).as("__k")))
      .groupBy(idCol)
      .agg(min(partCol).as(partCol), max("__k").as("__k"))
    val r = byId.select(col(partCol), lit(0).as("__s"), col("__k"), (lit(1) - col("__k")).as("__m"))
      .unionByName(source.select(col(partCol), lit(1).as("__s"), lit(0).as("__k"), lit(0).as("__m")))
      .groupBy(partCol)
      .agg(sum("__s").as("__s"), sum("__k").as("__k"), sum("__m").as("__m"))
      .agg(count_if(col("__s") =!= col("__k")), coalesce(sum("__m"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}
