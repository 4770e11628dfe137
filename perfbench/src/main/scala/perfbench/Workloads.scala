package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.EventStream
import graft.sync.IncrementalSync

/** What one timed op hands back: its named steps in seconds, the exact
  * counts it produced, and any per-op layer metrics only the workload can
  * read (streaming progress).
  */
final case class OpResult(
    steps: Seq[(String, Double)],
    counts: Map[String, Double] = Map.empty,
    layer: Map[String, Double] = Map.empty)

/** One workload: a fixture built from the seed, and an op a single
  * closed-loop client runs over and over.
  */
trait Workload {
  /** Build the inputs from scratch (called several times; each call
    * replaces the previous fixture).
    */
  def buildFixture(): Unit

  /** Untimed reset before each op. */
  def prepare(): Unit = ()

  /** The timed op. */
  def run(tr: Tracer, traced: Boolean): OpResult

  /** Untimed correctness gate for the op just run; None when it holds. */
  def check(r: OpResult): Option[String]

  /** Correctness gate checked once per run, outside the timed loop. */
  def checkRun(): Option[String] = None
}

/** Size knobs of the fixtures, in tiles of the vendored events table
  * (10,000 events over 30 days); `smoke` ones are the smallest.
  */
final case class Sizes(syncTiles: Int, streamTiles: Int, streamFiles: Int)

object Sizes {
  val full: Sizes = Sizes(syncTiles = 10, streamTiles = 2, streamFiles = 3)
  val smoke: Sizes = Sizes(syncTiles = 1, streamTiles = 1, streamFiles = 3)
}

/** Delta sync into an index that lacks its newest day and 10% of the ids
  * of three seed-chosen days: `runPartitionSync` → `reconcileByIds` →
  * `verifyInSync`, the index restored from a snapshot before every op.
  * The source is the vendored events tiled `tiles` times, `ts`
  * normalized as `Tables.loadEvents` does, one `day` partition per day.
  */
final class SyncDelta(spark: SparkSession, dir: String, data: String, seed: Long, tiles: Int) extends Workload {
  private val sourceDir = s"$dir/source"
  private val seedIndex = s"$dir/index_seed"
  private val index = s"$dir/index"
  private val days = tiles * Fixtures.TileDays
  private val newestDay = Fixtures.day(days - 1)
  private val gapDays = new Random(seed).shuffle((0 until days - 1).toList).take(3).map(Fixtures.day)
  private var expectedMoved = -1L
  private var expectedReconciled = -1L
  private var sourceRows = -1L

  def buildFixture(): Unit = {
    Seq(sourceDir, seedIndex).foreach(Files.delete)
    Tables.withDay(Tables.normalizeTs(Fixtures.tiledEvents(spark, data, tiles))).write.parquet(sourceDir)
    val source = spark.read.parquet(sourceDir)
    val gap = col("day").isin(gapDays: _*) && Fixtures.tenth(seed, 9)
    val sinkState = source.filter(col("day") =!= newestDay && !gap)
    // the seed index is written by the program's own sink, as a sync would
    graft.sinks.EsBulkSink.upsertById(sinkState.withColumn("__v", lit(0L)), seedIndex, "event_id", "__v")
    expectedMoved = source.filter(col("day") === newestDay).count()
    expectedReconciled = source.filter(col("day") =!= newestDay && gap).count()
    sourceRows = source.count()
  }

  override def prepare(): Unit = {
    Seq(index, index + ".staging").foreach(Files.delete)
    Files.copyTree(seedIndex, index)
  }

  def run(tr: Tracer, traced: Boolean): OpResult = {
    val source = spark.read.parquet(sourceDir)
    // directory snapshots between the steps (traced ops only) count the
    // index files each sink commit wrote and kept
    var snaps = if (traced) List(Files.snapshot(index)) else Nil
    def snap(): Unit = if (traced) snaps = Files.snapshot(index) :: snaps
    val (report, syncS) = tr.timed("sync.partition_sync")(
      IncrementalSync.runPartitionSync(source, index, "day", "event_id"))
    snap()
    val (reconciled, reconcileS) = tr.timed("sync.reconcile")(
      IncrementalSync.reconcileByIds(source, spark.read.parquet(index), "day", "event_id", index, "__v"))
    snap()
    val ((badParts, missingIds), verifyS) = tr.timed("sync.verify")(
      IncrementalSync.verifyInSync(source, spark.read.parquet(index), "day", "event_id"))
    val fileCounts =
      if (!traced) Map.empty[String, Double]
      else {
        val ordered = snaps.reverse
        val written = ordered.zip(ordered.tail).map { case (a, b) => (b -- a).size }.sum
        Map("sinks.files_written" -> written.toDouble,
          "sinks.files_kept" -> (ordered.head & ordered.last).size.toDouble)
      }
    OpResult(
      steps = Seq("sync.partition_sync" -> syncS, "sync.reconcile" -> reconcileS, "sync.verify" -> verifyS),
      counts = Map(
        "sync.rows_moved" -> report.rowsMoved.toDouble,
        "sync.partitions_moved" -> report.partitionsMoved.size.toDouble,
        "sync.ids_reconciled" -> reconciled.toDouble,
        "verify.bad_partitions" -> badParts.toDouble,
        "verify.missing_ids" -> missingIds.toDouble) ++ fileCounts)
  }

  /** The op's own counts, then the index itself: verifyInSync
    * de-duplicates the sink before comparing, so a sink that holds an id
    * twice is caught only by its row and distinct-id counts.
    */
  def check(r: OpResult): Option[String] = {
    val c = r.counts
    val want = Map(
      "verify.bad_partitions" -> 0.0, "verify.missing_ids" -> 0.0,
      "sync.rows_moved" -> expectedMoved.toDouble, "sync.partitions_moved" -> 1.0,
      "sync.ids_reconciled" -> expectedReconciled.toDouble)
    want.collectFirst { case (k, v) if c(k) != v => s"sync_delta: $k = ${c(k)}, expected $v" }.orElse {
      val got = spark.read.parquet(index).agg(count(lit(1)), countDistinct(col("event_id"))).head()
      if (got.getLong(0) == sourceRows && got.getLong(1) == sourceRows) None
      else Some(s"sync_delta: index holds ${got.getLong(0)} rows with ${got.getLong(1)} distinct ids, " +
        s"source has $sourceRows")
    }
  }
}

/** Drain a file stream of events one file per micro-batch through the
  * stateful `dailyCounts` into the id-keyed upsert sink, with a fresh
  * checkpoint and index per op.
  */
final class StreamCounts(spark: SparkSession, dir: String, data: String, seed: Long, tiles: Int, files: Int)
    extends Workload {
  private val input = s"$dir/input"
  private val opDir = s"$dir/op"
  private val days = tiles * Fixtures.TileDays
  private var expected = Map.empty[(String, String), (Long, Double)]

  /** The vendored events tiled `tiles` times, less a seed-chosen tenth of
    * the ids, with `ts` in its stored encoding so `readEvents` normalizes
    * it as it does the corpus. They are split into `files` parquet files
    * of consecutive days, with modification times in the same order, so
    * the stream admits them oldest first and no row is behind the
    * watermark.
    */
  def buildFixture(): Unit = {
    Seq(input, s"$dir/staging").foreach(Files.delete)
    new java.io.File(input).mkdirs()
    val events = Fixtures.tiledEvents(spark, data, tiles).filter(!Fixtures.tenth(seed, 11))
    val t0 = System.currentTimeMillis() - 3600L * 1000
    (0 until files).foreach { i =>
      val stage = s"$dir/staging/$i"
      val d = Fixtures.dayIndex(col("ts"))
      events.filter(d >= days * i / files && d < days * (i + 1) / files)
        .coalesce(1).write.parquet(stage)
      val part = Files.dataFiles(stage).head.toFile
      val dst = new java.io.File(input, f"events-$i%04d.parquet")
      if (!part.renameTo(dst)) throw new java.io.IOException(s"cannot move $part")
      dst.setLastModified(t0 + i * 1000L)
    }
    Files.delete(s"$dir/staging")
    expected = StreamCounts.byKey(EventStream.dailyCounts(Tables.normalizeTs(spark.read.parquet(input)))).toMap
  }

  override def prepare(): Unit = Files.delete(opDir)

  def run(tr: Tracer, traced: Boolean): OpResult = {
    val (q, wall) = tr.timed("streaming.drain") {
      val counts = EventStream.dailyCounts(EventStream.readEvents(spark, input, maxFilesPerTrigger = Some(1)))
        .withColumn("doc_id", concat_ws("|", col("day"), col("event_type")))
      EventStream.runForeachBatchUpsert(counts, s"$opDir/index", s"$opDir/checkpoint", "doc_id",
        outputMode = "update")
    }
    val progress = q.recentProgress.toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)
    def med(k: String): Double = Stats.median(progress.map(dur(_, k)))
    val state = progress.flatMap(_.stateOperators.headOption)
    val last = state.lastOption
    OpResult(
      steps = ("streaming.drain" -> wall) +:
        progress.map(p => s"batch.${p.batchId}" -> dur(p, "triggerExecution") / 1e3),
      counts = Map(
        "streaming.batches" -> progress.size.toDouble,
        "streaming.input_rows" -> progress.map(_.numInputRows).sum.toDouble,
        "state.rows_total" -> last.fold(0.0)(_.numRowsTotal.toDouble),
        "state.rows_updated" -> state.map(_.numRowsUpdated).sum.toDouble,
        "state.partitions" -> last.fold(0.0)(_.numShufflePartitions.toDouble)),
      layer = Map(
        "streaming.batch_ms" -> med("triggerExecution"),
        "streaming.add_batch_ms" -> med("addBatch"),
        "streaming.query_planning_ms" -> med("queryPlanning"),
        "streaming.wal_commit_ms" -> med("walCommit"),
        "streaming.commit_offsets_ms" -> med("commitOffsets"),
        "streaming.latest_offset_ms" -> med("latestOffset"),
        "streaming.get_batch_ms" -> med("getBatch"),
        "state.commit_ms" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
        "state.memory_bytes" -> Stats.median(state.map(_.memoryUsedBytes.toDouble))))
  }

  /** Row for row: one index row per batch (day, event_type), the same
    * `cnt`, and `total_value` equal up to the order of a double sum.
    */
  def check(r: OpResult): Option[String] = {
    val got = StreamCounts.byKey(spark.read.parquet(s"$opDir/index"))
    val differ = got.count { case (k, (cnt, total)) =>
      !expected.get(k).exists { case (c, t) => c == cnt && math.abs(t - total) <= 1e-9 * math.max(1.0, math.abs(t)) }
    }
    if (got.size == expected.size && got.map(_._1).distinct.size == got.size && differ == 0) None
    else Some(s"stream_counts: index has ${got.size} rows, $differ differ from batch dailyCounts " +
      s"(${expected.size} rows)")
  }
}

object StreamCounts {
  def byKey(counts: DataFrame): Seq[((String, String), (Long, Double))] =
    counts.select("day", "event_type", "cnt", "total_value").collect().toSeq
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
}

/** One pass over read-only program queries (an id diff, exact dedup,
  * embedding top-k, language id), each forced with `count()`, in a
  * seed-shuffled order.
  */
final class QueryMix(spark: SparkSession, data: String, seed: Long, pins: Map[String, (Long, String)])
    extends Workload {
  private val queries = graft.SparkEntry.queries
  private var pass = 0

  def buildFixture(): Unit = ()

  def run(tr: Tracer, traced: Boolean): OpResult = {
    pass += 1
    val order = new Random(seed * 7919 + pass).shuffle(QueryMix.Names)
    val timed = order.map { n =>
      val (rows, s) = tr.timed(s"query.$n")(queries(n)(spark, data).count())
      (n, s, rows)
    }
    OpResult(steps = timed.map { case (n, s, _) => s"query.$n" -> s },
      counts = timed.map { case (n, _, rows) => s"rows.$n" -> rows.toDouble }.toMap)
  }

  def check(r: OpResult): Option[String] =
    QueryMix.Names.collectFirst {
      case n if !pins.contains(n) => s"query_mix: no pinned result for $n"
      case n if r.counts(s"rows.$n") != pins(n)._1.toDouble =>
        s"query_mix: $n returned ${r.counts(s"rows.$n").toLong} rows, pinned ${pins(n)._1}"
    }

  override def checkRun(): Option[String] =
    QueryMix.Names.collectFirst(Function.unlift { n =>
      val got = QueryMix.contentHash(queries(n)(spark, data))
      if (pins.get(n).contains(got)) None else Some(s"query_mix: $n content $got, pinned ${pins.get(n)}")
    })

}

object QueryMix {
  /** `ops.Diff` (bloom pre-split anti-join), `ext.Dedup`,
    * `ext.Similarity` (cosine kernel) and `functions.TextFunctions`.
    */
  val Names: Seq[String] = Seq("j12_bloom_anti", "x_dedup_exact", "x_embed_cosine_topk", "x_lang_id")

  /** Row count and order-independent content hash: the sum of each row's
    * xxhash64 over all columns, taken as an exact decimal.
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(cols: _*)
      .select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }
}
