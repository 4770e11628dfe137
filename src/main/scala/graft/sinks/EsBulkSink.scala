package graft.sinks

import graft.LocalFs
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Emulated Elasticsearch bulk sink (SURVEY.md §2.2 K2–K5).
  *
  * The harness has no network, so the "index" is modeled as a parquet
  * directory and the bulk protocol as NDJSON lines — which is exactly what
  * the reference builds by hand (`data-s3-elastic-transfer.py:192-196`).
  * In production this layer is the elasticsearch-spark connector
  * (`df.write.format("es")`, `es.mapping.id=id`); everything above it —
  * doc building, batching, idempotency — is engine code and identical.
  *
  * Two write disciplines, both present in the reference:
  *  - [[indexAppend]] (K2): auto-id append. Retries can duplicate — the
  *    reference acknowledges this by needing its second reconciliation
  *    script. Preserved deliberately (SURVEY.md §7.4 #4).
  *  - [[Upsert.lastWriteWins]]-based [[upsertById]] (K3): explicit `_id` ⇒
  *    idempotent, last write wins. ONE write action reads the whole index
  *    and rewrites it, so its cost follows the index, not the batch. It
  *    stays the streaming sink: `foreachBatch` re-runs the frame's
  *    stateful plan on every action, so a sink that added one would pay
  *    a whole plan per micro-batch.
  *
  * [[appendNewById]] is the same K3 contract as an insert-only commit,
  * used by the batch sync (`graft.sync.IncrementalSync`): ONE write
  * action appends the rows whose id the index lacks and counts the rest,
  * which only then take a second action through [[upsertById]]. A delta
  * of new ids — the sync's case: missing partitions and missing ids —
  * writes just the delta (422 rows into a 100k-row index per perfbench
  * `sync_delta` cycle, against 199,907 through [[upsertById]]).
  *
  * Both read the index with `LocalFs.readFlatParquet`: its schema comes
  * from one file footer read on the driver, not from Spark's one-task
  * schema-inference job, so a streaming micro-batch's upsert runs its one
  * write and no other job.
  */
object EsBulkSink {

  /** K4 parity: the reference tunes the index for bulk load — replicas 0,
    * refresh 30 s (`data-s3-elastic-transfer.py:23-43`) — and bounds batch
    * size/retries (`:19-21`). With the elasticsearch-spark connector these
    * are options on the write; the emulated sink has no server to tune, so
    * this map documents the production mapping and feeds the retry/batch
    * parameters used by [[withRetry]] and Batching.foreachBulk.
    */
  val bulkLoadSettings: Map[String, String] = Map(
    "es.index.number_of_replicas" -> "0",   // replicas=0 during load
    "es.index.refresh_interval" -> "30s",   // refresh_interval=30s
    "es.batch.size.entries" -> "50000",     // BATCH_SIZE
    "es.batch.write.retry.count" -> "3",    // MAX_RETRIES
    "es.batch.write.retry.wait" -> "20s",   // linear backoff base
    "es.http.timeout" -> "120s"             // bulk request timeout
  )

  /** F3: row → JSON document, one string column `doc`, plus the bulk action
    * metadata line. `to_json(struct(...))` is codegen'd — no per-row
    * Python/UDF crossing (replaces `data-s3-elastic-transfer.py:154-186`).
    */
  def toNdjson(df: DataFrame, index: String, idCol: Option[String]): DataFrame = {
    val action = idCol match {
      case Some(id) =>
        concat(lit(s"""{"index":{"_index":"$index","_id":""""), col(id).cast("string"), lit("\"}}"))
      case None => lit(s"""{"index":{"_index":"$index"}}""")
    }
    val doc = to_json(struct(df.columns.map(col).toIndexedSeq: _*))
    df.select(concat(action, lit("\n"), doc).as("bulk_line"))
  }

  /** K2: append to the emulated index (auto-id — duplicates possible on
    * retry, as in the reference). Distributed write; no driver funnel.
    */
  def indexAppend(df: DataFrame, indexDir: String): Unit =
    df.write.mode(SaveMode.Append).parquet(indexDir)

  /** K3: idempotent upsert by id into the emulated index: read current
    * state, last-write-wins merge, atomic replace. Write-twice ⇒ same state.
    */
  def upsertById(df: DataFrame, indexDir: String, idCol: String, versionCol: String): Unit = {
    val spark = df.sparkSession
    val exists = new java.io.File(indexDir).exists()
    val merged =
      if (exists) Upsert.lastWriteWins(LocalFs.readFlatParquet(spark, indexDir).unionByName(df), idCol, versionCol)
      else Upsert.lastWriteWins(df, idCol, versionCol)
    // Stage then swap: parquet can't overwrite its own input in place.
    val tmp = indexDir + ".staging"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val dir = new java.io.File(indexDir)
    if (exists) LocalFs.deleteRecursively(dir)
    if (!new java.io.File(tmp).renameTo(dir))
      throw new java.io.IOException(s"failed to commit $tmp -> $indexDir")
  }

  /** Insert-only commit for an id-keyed index whose ids are unique (every
    * index [[upsertById]] writes is). ONE write action de-duplicates the
    * batch with [[Upsert.lastWriteWins]], left-joins it to the live index's
    * ids, appends the rows whose id is not live as new files, and counts
    * the live-id rows (a null id among them) with an `Observation` on the
    * way. Only when that count is above 0 do those rows go through
    * [[upsertById]] — a second action, which rewrites the index. With no
    * index yet, or a batch whose columns differ from the index's by name
    * or type, the whole batch goes through [[upsertById]] alone. Either
    * way the final rows equal [[upsertById]]'s.
    *
    * Each append adds the write's files to the index: one for a small
    * batch, which AQE coalesces to one task. An append that wrote no row
    * leaves none behind. [[Compaction.compactTo]] consolidates an index
    * that has gathered many.
    */
  def appendNewById(df: DataFrame, indexDir: String, idCol: String, versionCol: String): Unit = {
    val dir = new java.io.File(indexDir)
    def columns(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSet
    val live = if (dir.exists()) Some(LocalFs.readFlatParquet(df.sparkSession, indexDir)) else None
    live.filter(l => columns(l.schema) == columns(df.schema)) match {
      case None => upsertById(df, indexDir, idCol, versionCol)
      case Some(index) =>
        // a null id counts as live: the upsert window groups null ids together
        val joined = Upsert.lastWriteWins(df, idCol, versionCol)
          .join(index.select(col(idCol).as("__live_id")), col(idCol) === col("__live_id"), "left_outer")
          .withColumn("__live", col("__live_id").isNotNull || col(idCol).isNull)
        val obs = Observation()
        val before = dir.list().toSet
        joined
          .observe(obs, count_if(col("__live")).as("live"), count_if(!col("__live")).as("new"))
          .filter(!col("__live"))
          .select(index.columns.toIndexedSeq.map(col): _*)
          .write.mode(SaveMode.Append).parquet(indexDir)
        val written = obs.get
        // an empty append still writes one schema-only file
        if (written("new") == 0L) dir.list().filterNot(before).foreach(f => new java.io.File(dir, f).delete())
        if (written("live") != 0L)
          upsertById(joined.filter(col("__live")).select(df.columns.toIndexedSeq.map(col): _*),
            indexDir, idCol, versionCol)
    }
  }

  /** Outcome of a bulk delivery: batches/rows attempted, rows delivered,
    * rows failed after retries, and a bounded sample of error messages —
    * the reference's per-item error parsing and partial-success accounting
    * (`data-s3-elastic-transfer.py:210-241`).
    */
  final case class BulkReport(batches: Long, rows: Long, delivered: Long, failed: Long,
      errorSample: Seq[String])

  /** K2+K5+A6: deliver NDJSON batches via `post` with bounded retry, and
    * account partial failures across the cluster via accumulators (the only
    * executor→driver channel that doesn't funnel data). A batch that still
    * fails after retries is COUNTED and skipped, not rethrown — matching
    * the reference's continue-on-partial-failure behavior; callers restore
    * exactly-once via the idempotent upsert path. Only non-fatal errors
    * are counted: an interrupt (task kill) or a VM error propagates.
    */
  def bulkIndexWithAccounting(
      df: DataFrame,
      batchSize: Int,
      maxRetries: Int = 3,
      backoffMs: Int = 0,
      errorSampleSize: Int = 5)(post: Seq[String] => Unit): BulkReport = {
    val sc = df.sparkSession.sparkContext
    val batches = sc.longAccumulator("bulk.batches")
    val rows = sc.longAccumulator("bulk.rows")
    val delivered = sc.longAccumulator("bulk.delivered")
    val failed = sc.longAccumulator("bulk.failed")
    val errors = sc.collectionAccumulator[String]("bulk.errors")
    val lines = toNdjsonLines(df)
    lines.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      it.grouped(batchSize).foreach { chunk =>
        val payload = chunk.map(_.getString(0))
        batches.add(1)
        rows.add(payload.size)
        try {
          withRetry(maxRetries, backoffMs)(() => post(payload))
          delivered.add(payload.size)
        } catch {
          case NonFatal(e) =>
            failed.add(payload.size)
            errors.add(e.getMessage)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    BulkReport(batches.value, rows.value, delivered.value, failed.value,
      errors.value.asScala.take(errorSampleSize).toSeq)
  }

  /** The single-column (`bulk_line`) frame [[bulkIndexWithAccounting]]
    * posts: doc JSON only — callers needing action metadata use
    * [[toNdjson]].
    */
  private def toNdjsonLines(df: DataFrame): DataFrame =
    if (df.columns.sameElements(Array("bulk_line"))) df
    else df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("bulk_line"))

  /** K5: bounded retry with linear backoff (3 attempts, 20 s·attempt in the
    * reference — `data-s3-elastic-transfer.py:249-253`). Runs on the
    * executor inside `foreachPartition`; at-least-once, made effectively-
    * once by pairing with [[upsertById]]. Only non-fatal errors are
    * retried: an interrupt or a VM error propagates from the first attempt.
    */
  def withRetry[T](maxRetries: Int = 3, backoffMs: Int = 20_000, sleep: Long => Unit = Thread.sleep)(
      attempt: () => T): T = {
    var i = 0
    var last: Throwable = null
    while (i < maxRetries) {
      try return attempt()
      catch {
        case NonFatal(e) =>
          last = e
          i += 1
          if (i < maxRetries) sleep((i.toLong) * backoffMs)
      }
    }
    throw last
  }
}
