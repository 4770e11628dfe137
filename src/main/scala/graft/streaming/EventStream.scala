package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Quant.f6
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming form of the reference's incremental semantics
  * (SURVEY.md §2.9 T1–T5).
  *
  * The reference polls for new partitions in batch
  * (`data-s3-elastic-transfer.py:281-291`). The streaming-native
  * equivalent is a file source + `Trigger.AvailableNow`: new files since
  * the last checkpoint ARE the "missing partitions", discovered and
  * processed exactly once per trigger, with progress durably recorded in
  * the checkpoint — replacing the hand-rolled "months already in ES → skip"
  * high-water-mark logic (T5) and making delivery effectively-once (T3)
  * when paired with the idempotent sink.
  */
object EventStream {

  /** Schema of the driver testdata `events` table (streams can't infer).
    * `ts` is whatever the corpus currently stores — TIMESTAMP_MICROS with
    * isAdjustedToUTC=false (→ TIMESTAMP_NTZ) today, TIMESTAMP(NANOS)
    * (→ nanos-long under nanosAsLong) in earlier drops — normalized to
    * TimestampType in [[readEvents]]. This constant carries the CURRENT
    * corpus's ts type; [[readEvents]] probes the directory's actual footer
    * type at start so a re-encoded corpus never silently mis-reads (the
    * round-6 failure mode: declaring long and dividing micros by 1000
    * collapsed 30 days of events into 43 minutes of 1970).
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** The 100×-state configuration: back streaming state with RocksDB
    * instead of the default HDFS-backed in-heap provider.
    *
    * The default provider holds every state partition's full map in
    * executor HEAP and snapshots it per commit — fine while aggregate
    * state (open windows × keys for t6-shaped daily counts, watermark-span
    * ids for t8 dedup, interval×rate join rows for t10) fits in memory,
    * but at 100× the keys the executors OOM before the query slows down.
    * RocksDB keeps state on local SSD with a block-cache in native (not
    * JVM-heap) memory and ships incremental changelogs to the checkpoint,
    * so per-executor state capacity scales with disk, commit cost with the
    * CHANGE rate rather than total state size, and GC pressure stays flat.
    *
    * Opt-in, set on the session BEFORE the query first starts (the
    * provider class is pinned in the checkpoint for the query's lifetime):
    * `spark.conf.set(rocksDbStateStore._1, rocksDbStateStore._2)`. The
    * bundled provider needs no extra dependency (rocksdbjni ships with
    * Spark). Left OFF for this engine's bench entries: their test-scale
    * state is a few thousand keys, where in-heap wins — the conf is the
    * knob a 100 TB deployment flips. Exercised live by EventStreamSpec
    * ("daily counts under the RocksDB state store...").
    */
  val rocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Changelog checkpointing for the RocksDB provider: each commit ships
    * the batch's CHANGE SET to the checkpoint instead of a snapshot of
    * the store's SST files, so commit cost tracks the change rate rather
    * than total state size — the published recommendation for RocksDB
    * state at scale, and measured slightly faster even at bench state
    * sizes (t20/t21 ~10%). Set alongside [[rocksDbStateStore]] whenever a
    * query opts into RocksDB.
    */
  val rocksDbChangelog: (String, String) =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"

  /** File-source stream over a directory of events parquet, `ts`
    * normalized to TimestampType. Streams can't infer schemas, so the
    * stored `ts` type is probed from the directory's parquet footers via
    * a one-off batch read (footer-only, no data scan) and the declared
    * stream schema + normalization branch follow it — the same
    * schema-driven normalization as `Tables.normalizeTs`, kept encoding-
    * agnostic so corpus re-encodes can't skew event time.
    *
    * PROBE-AT-START CONTRACT: the encoding is read ONCE, at stream
    * construction, and pinned for the query's lifetime — files arriving
    * later MUST carry the same `ts` encoding (they do unless the corpus
    * is re-encoded mid-stream, in which case the parquet reader fails
    * loudly on the type mismatch rather than skewing event time; restart
    * the stream to re-probe). An EMPTY source directory (stream started
    * before any producer wrote files) falls back to the declared
    * [[eventsSchema]] ts type — the current corpus encoding — instead of
    * failing the 'unable to infer schema' batch probe.
    */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val storedTs =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException =>
        eventsSchema("ts").dataType // empty dir: no footer to probe yet
      }
    val schema = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = storedTs) else f))
    val reader = spark.readStream.schema(schema)
    // admission control (respected by AvailableNow): bounds each
    // microbatch to N files — production right-sizes batch memory with it;
    // the replay test uses it to force a multi-batch run
    val raw = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n)).parquet(dir)
    storedTs match {
      case LongType => // TIMESTAMP(NANOS) read as nanos-long
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // wall-clock == UTC instant (session TZ pinned)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** T4: event-time tumbling daily counts with a watermark — the streaming
    * form of the reference's month bucketing. Late data beyond 1 day is
    * dropped deterministically instead of silently re-writing partitions.
    */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Streaming ε-differentially-private count release — the streaming
    * twin of SparkEntry's x_dp_counts (the privacy ladder's fourth rung,
    * released continuously): watermark-sealed daily windows, then a
    * STATELESS noise projection — Laplace(1/ε), ε=1, via the inverse CDF
    * over the portable md5-derived uniform u=(hash24+½)/2²⁴ seeded by
    * (day, type). Each sealed day is emitted exactly once, already
    * noised; determinism makes the streaming release hash-equal to the
    * batch release for every sealed day.
    */
  def dpRelease(events: DataFrame): DataFrame = {
    val agg = events.withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("c"))
    val u = (graft.ext.Mixture.hash24(concat_ws("|", col("day"), col("event_type")))
      .cast("double") + lit(0.5)) / lit(16777216.0)
    val cu = u - lit(0.5)
    val noise = -signum(cu) * log(lit(1.0) - lit(2.0) * abs(cu))
    agg.select(col("day"), col("event_type"), col("c"), f6(noise).as("noise"),
      f6(greatest(col("c") + noise, lit(0.0))).as("released"))
  }

  /** Hopping (sliding) event-time windows — the third windowing mode
    * next to tumbling (dailyCounts) and session (sessionize/w9): every
    * event lands in the THREE epoch-aligned 3-day windows that cover
    * it (slide = 1 day), so each window smooths a rolling 3-day count.
    * Append mode: a window emits once the watermark passes its end;
    * state holds the ≤3 open windows per type — O(windows-in-flight),
    * not O(history).
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "3 days", "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("win_start"),
        date_format(col("window.end"), "yyyy-MM-dd").as("win_end"),
        col("event_type"), col("cnt"))

  /** Chained multi-stateful aggregation — Spark's multiple-stateful-
    * operator pipeline (3.4+): daily windowed counts feed a SECOND,
    * weekly (epoch-aligned 7-day tumbling) windowed aggregation inside
    * the same streaming query, by grouping on `window(window, '7 days')`
    * over the first aggregate's window column. Append mode end to end:
    * a daily window flows downstream when the watermark seals it, and a
    * weekly row emits once the watermark passes the WEEK end — so the
    * weekly state holds at most one open week per type (O(types) state)
    * and each emission is final. The unsealed trailing week never
    * emits; the batch oracle applies the same week_end <= max(ts) −
    * delay cut.
    */
  def weeklyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(window(col("window"), "7 days"), col("event_type"))
      .agg(sum(col("cnt")).as("cnt"), max(col("cnt")).as("peak_daily"),
        count(lit(1)).as("n_days"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("week_start"),
        col("event_type"), col("cnt"), col("peak_daily"), col("n_days"))

  /** Streaming exact dedup by id: watermarked `dropDuplicatesWithinWatermark`
    * — duplicate deliveries (the reference's K2 auto-id + retry failure
    * mode, SURVEY.md §2.9 T3) are dropped in-flight, and the dedup state
    * expires with the watermark, so state size is bounded by the watermark
    * window's id count rather than growing with the whole stream.
    */
  def dedupById(events: DataFrame, idCol: String): DataFrame =
    events.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream interval join: each click matched to the same user's
    * purchases within the following hour. Both sides carry watermarks and
    * the join condition bounds event time in BOTH directions, so Spark can
    * evict join state once the watermark passes — state is bounded by the
    * interval length × arrival rate, not by the stream's history. (The
    * generous default watermark fits the bounded test corpus; production
    * tightens it to its real lateness bound.)
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "10 days"): DataFrame = {
    // event time truncated to MILLISECONDS before the join: the corpus
    // carries sub-ms timestamp components, and the engine's parity contract
    // (and its DuckDB oracle) works in epoch-ms — joining at raw micro
    // precision would disagree with it on interval-boundary pairs
    val msTs = timestamp_millis(unix_millis(col("ts")))
    val l = clicks
      .select(col("user_id").as("l_user"), msTs.as("l_ts"), col("event_id").as("click_id"))
      .withWatermark("l_ts", watermark)
    val r = purchases
      .select(col("user_id").as("r_user"), msTs.as("r_ts"), col("event_id").as("purchase_id"))
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
      "l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + interval 1 hour"))
  }

  /** LEFT OUTER stream-stream interval join: like [[clickPurchaseJoin]]
    * but clicks with NO purchase in the following hour are also emitted
    * (null purchase columns) — once the watermark proves no match can
    * still arrive. State eviction and outer-row flush are driven by the
    * watermark: an unmatched click emits when the watermark passes
    * `l_ts + interval upper bound`; callers comparing against a batch
    * LEFT JOIN must therefore restrict to rows safely below the final
    * watermark (see SparkEntry t14 — the cutoff makes the comparison
    * boundary-free).
    */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "1 day"): DataFrame = {
    val msTs = timestamp_millis(unix_millis(col("ts")))
    val l = clicks
      .select(col("user_id").as("l_user"), msTs.as("l_ts"), col("event_id").as("click_id"))
      .withWatermark("l_ts", watermark)
    val r = purchases
      .select(col("user_id").as("r_user"), msTs.as("r_ts"), col("event_id").as("purchase_id"))
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
      "l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + interval 1 hour"), "leftOuter")
  }

  /** Run a (bounded) streaming query to a named in-memory table and block
    * until the file source is drained — the test/smoke harness.
    * `outputMode` is "complete" for aggregations, "append" for row streams.
    *
    * `statePartitions`: number of shuffle (= state store) partitions the
    * query is STARTED with. A stateful query pins this count in its
    * checkpoint forever, so it must be sized to the stream's real
    * throughput, not inherited from the batch session default — per-
    * microbatch cost scales with it (every partition maintains and
    * commits its state store files each batch, even when near-empty).
    */
  def runToMemory(df: DataFrame, name: String, checkpointDir: String,
      outputMode: String = "complete", statePartitions: Option[Int] = None,
      rocksDb: Boolean = false): StreamingQuery = {
    val q = withStatePartitions(df.sparkSession, statePartitions) {
      withRocksDb(df.sparkSession, rocksDb) {
        df.writeStream
          .outputMode(outputMode)
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", checkpointDir)
          .trigger(Trigger.AvailableNow())
          .start()
      }
    }
    q.awaitTermination()
    q
  }

  /** Start a query under the RocksDB state store provider
    * ([[rocksDbStateStore]]), restoring the session conf after start() has
    * captured it — same serial-use contract as [[withStatePartitions]].
    * transformWithState queries REQUIRE this provider.
    */
  private def withRocksDb[A](spark: SparkSession, enable: Boolean)(start: => A): A =
    if (!enable) start
    else {
      val confs = Seq(rocksDbStateStore, rocksDbChangelog)
      val prev = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
      try { confs.foreach { case (key, value) => spark.conf.set(key, value) }; start }
      finally prev.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }

  /** Start a streaming query under an overridden shuffle/state partition
    * count, restoring the session conf once the query has CAPTURED it
    * (StreamExecution clones the session in its constructor, during
    * start(), so restoring after start() is race-free for the query).
    *
    * SERIAL-USE ASSUMPTION: the override is visible on the shared session
    * for the duration of start(), so any concurrent batch query planned on
    * the same session in that window would silently inherit it. Fine in
    * this engine's serial bench/verify harness; a concurrent caller must
    * instead build the stream's whole lineage on `spark.newSession()` and
    * set the conf there (the override can't be confined here because the
    * passed DataFrame is already bound to its session).
    */
  private def withStatePartitions[A](spark: SparkSession, n: Option[Int])(start: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try { n.foreach(v => spark.conf.set(key, v.toString)); start }
    finally spark.conf.set(key, prev)
  }

  /** Batch (gaps-and-islands) form of sessionization: lag + cumulative sum
    * windows partitioned by user. Same session semantics as [[sessionize]]
    * but closed-form over a bounded dataset — and SQL-expressible, so it is
    * oracle-checkable (SparkEntry x_sessionize). Output: user_id,
    * session_idx (1-based per user), n_events, first_ms, last_ms.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    events
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .withColumn("new_session",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > gapMs, 1)
          .otherwise(when(lag(col("ts_ms"), 1).over(byUser).isNull, 1).otherwise(0)))
      .withColumn("session_idx",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"), min(col("ts_ms")).as("first_ms"), max(col("ts_ms")).as("last_ms"))
  }

  /** One closed user session: ordered activity bounded by an inactivity gap. */
  final case class UserSession(user_id: Long, n_events: Long, first_ts: Long, last_ts: Long)

  final case class SessionState(n: Long, first: Long, last: Long)

  /** Custom streaming state: gap-based sessionization per user via
    * `flatMapGroupsWithState` — the reference has no equivalent (its
    * incrementality is whole-partition replay); this is the
    * KeyValueGroupedDataset state API exercised end-to-end. A session
    * closes when no event arrives within `gapMs` (event-time of the
    * batch's data, enforced by processing-time timeout in streams).
    * State per user is O(1) — counts and bounds, not buffered events —
    * so state size scales with |users|, not |events|.
    */
  def sessionize(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[(Long, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) => {
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(0L, Long.MaxValue, Long.MinValue))
          val closed = Seq.newBuilder[UserSession]
          sorted.foreach { t =>
            if (st.n > 0 && t - st.last > gapMs) {
              closed += UserSession(user, st.n, st.first, st.last)
              st = SessionState(0L, Long.MaxValue, Long.MinValue)
            }
            st = SessionState(st.n + 1, math.min(st.first, t), math.max(st.last, t))
          }
          if (state.hasTimedOut) {
            if (st.n > 0) closed += UserSession(user, st.n, st.first, st.last)
            state.remove()
          } else {
            state.update(st)
            state.setTimeoutDuration(gapMs)
          }
          closed.result().iterator
        })
      .toDF()
  }

  /** Output row of [[runningCounts]]: the per-user event total as of this
    * emission (the LAST emission per user equals the user's batch count).
    */
  final case class UserRunning(user_id: Long, seen: Long)

  /** Spark-4 arbitrary stateful processing: per-user running event totals
    * via `transformWithState` + a typed `ValueState` — the successor API
    * to [flat]mapGroupsWithState (t7 keeps the legacy API exercised; this
    * entry exercises the new one). State per user is ONE long, updated
    * per microbatch and emitted once per (user, batch) — at production
    * state sizes the processor runs on the RocksDB provider
    * ([[rocksDbStateStore]]), which transformWithState REQUIRES; the
    * caller sets it before the query first starts.
    */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), UserRunning] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long](
        "seen", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
      val total = (if (seen.exists()) seen.get() else 0L) + rows.size
      seen.update(total)
      Iterator.single(UserRunning(user, total))
    }
  }

  /** Output row of [[topKTypesPerDay]]: a current top-k member for one
    * day, with its running count and 1-based rank at emission time.
    */
  final case class DayTypeCount(day: String, rank: Int, event_type: String, cnt: Long)

  /** Streaming per-key top-k via `transformWithState` + a typed
    * `MapState[String, Long]`: per DAY, running counts of every event
    * type with the current top-k (count desc, name asc — deterministic)
    * emitted each microbatch. MapState is the right shape because only
    * the TOUCHED map entries are read/written per batch — a ValueState
    * holding the whole map would round-trip every entry through the store
    * on every update, and a windowed agg can't emit ranked rows. State
    * per day is O(distinct event types), independent of event volume;
    * at production state sizes the query runs on the RocksDB provider
    * (transformWithState requires it). Counts are monotone, so the final
    * emission per day IS the day's exact top-k.
    */
  class DayTopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, String), DayTypeCount] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TTLConfig}
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        day: String,
        rows: Iterator[(String, String)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[DayTypeCount] = {
      // fold the batch locally first: one state read+write per TOUCHED
      // type, not per row
      val delta = scala.collection.mutable.Map.empty[String, Long]
      rows.foreach { case (_, et) => delta(et) = delta.getOrElse(et, 0L) + 1L }
      delta.foreach { case (et, d) =>
        val cur = if (counts.containsKey(et)) counts.getValue(et) else 0L
        counts.updateValue(et, cur + d)
      }
      counts.iterator().map { case (et, c) => (et, c) }.toArray
        .sortBy { case (et, c) => (-c, et) }
        .take(k).zipWithIndex
        .map { case ((et, c), i) => DayTypeCount(day, i + 1, et, c) }
        .iterator
    }
  }

  /** Streaming top-k event types per day (UPDATE stream); the final
    * emission per day equals the batch `groupBy(day, type) → top-k` —
    * which is what the batch oracle checks (SparkEntry t17).
    */
  def topKTypesPerDay(events: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .as[(String, String)]
      .groupByKey(_._1)
      .transformWithState(new DayTopKProcessor(k), TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Event-time-timer sessionization: the Spark-4 `transformWithState`
    * successor to [[sessionize]]'s processing-time timeouts. Sessions are
    * closed by EVENT-TIME TIMER CALLBACKS — a timer registered at
    * (last buffered event + gap) fires once the watermark passes it, which
    * is deterministic w.r.t. the data (processing-time timeouts depend on
    * wall-clock batch spacing and are only testable via the drain-then-
    * timeout trick t7 uses). Per user the state is the PENDING event
    * timestamps (a typed `ListState[Long]`) — events stay buffered until
    * the watermark proves their session can no longer grow, so
    * out-of-order arrival ACROSS microbatches still sessionizes exactly:
    * gaps-and-islands runs over the whole buffer at timer time and only
    * sessions with `last + gap <= watermark` are finalized (any event that
    * could extend such a session would carry ts <= watermark and has
    * therefore already arrived). State is O(events in open window) per
    * user, evicted on finalization; at production scale the query runs on
    * the RocksDB provider (transformWithState requires it).
    */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), UserSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var pending: ListState[Long] = _
    @transient private var nxt: ValueState[Long] = _ // the ONE live timer

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[Long](
        "pending", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      nxt = getHandle.getValueState[Long](
        "nxt", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[UserSession] = {
      // ONE live timer per user, at a LOWER BOUND of the earliest possible
      // island close: min(new event) + gap. Earlier-than-needed is safe
      // (the firing finalizes every sealed island and CHAINS the next
      // timer from the surviving buffer, so no later close is ever
      // missed); later-than-needed cannot happen because an island's
      // close time is (its last event) + gap >= (its min event) + gap.
      // This replaces the round-10 one-timer-per-distinct-event scheme,
      // whose O(events) timer registrations + expiry callbacks (each a
      // state-store list read) dominated the sf1 scaling point: 1M events
      // meant ~1M RocksDB timer puts and ~1M firings; now timer traffic
      // is O(batches + sessions).
      var minMs = Long.MaxValue
      rows.foreach { case (_, ts) =>
        val ms = ts.getTime
        pending.appendValue(ms)
        if (ms < minMs) minMs = ms
      }
      if (minMs != Long.MaxValue) {
        val needed = minMs + gapMs
        if (!nxt.exists()) { getHandle.registerTimer(needed); nxt.update(needed) }
        else if (needed < nxt.get()) {
          getHandle.deleteTimer(nxt.get())
          getHandle.registerTimer(needed)
          nxt.update(needed)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        user: Long,
        timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[UserSession] = {
      val wm = timers.getCurrentWatermarkInMs()
      val buf = pending.get().toArray.sorted
      if (buf.isEmpty) { nxt.clear(); return Iterator.empty }
      // gaps-and-islands over the whole buffer; finalize EVERY island the
      // watermark has sealed (islands are time-ordered, so the first open
      // one ends the scan). All closable work happens in this one firing —
      // correctness cannot depend on a later firing existing, because the
      // trailing no-data microbatch is the last chance to run.
      val out = Seq.newBuilder[UserSession]
      var i = 0
      var kept: Array[Long] = Array.empty
      while (i < buf.length && kept.isEmpty) {
        var j = i
        while (j + 1 < buf.length && buf(j + 1) - buf(j) <= gapMs) j += 1
        if (buf(j) + gapMs <= wm) {
          out += UserSession(user, j - i + 1, buf(i), buf(j))
          i = j + 1
        } else kept = buf.slice(i, buf.length) // open tail: keep, stop
      }
      pending.clear()
      if (kept.nonEmpty) {
        pending.put(kept)
        // chain: the first (earliest) open island's exact close time —
        // provably > wm, or the island would have been sealed above
        var j = 0
        while (j + 1 < kept.length && kept(j + 1) - kept(j) <= gapMs) j += 1
        val nextT = kept(j) + gapMs
        getHandle.registerTimer(nextT)
        nxt.update(nextT)
      } else nxt.clear()
      out.result().iterator
    }
  }

  /** Gap-based sessionization closed by event-time timers (see
    * [[SessionTimerProcessor]]). `delay` is the watermark lateness bound;
    * only sessions whose close timer lies below the stream's final
    * watermark are emitted — callers comparing against the batch
    * gaps-and-islands form restrict both sides to
    * `last_ms + gap < maxEventMs - delay` (boundary-free, the t14
    * pattern). Output: user_id, n_events, first_ts, last_ts.
    */
  def sessionizeTimers(events: DataFrame, gapMs: Long, delay: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), timestamp_millis(unix_millis(col("ts"))).as("ts"))
      .withWatermark("ts", delay)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** One drift report row: a sealed day's KL divergence and total
    * variation against the previous sealed day's event-type distribution
    * (add-one smoothed over the type universe of `k` types).
    */
  final case class DriftRow(day: String, kl: Double, tv: Double, k: Long)

  final case class DayDist(day: String, types: Seq[String], counts: Seq[Long])
  final case class TypeUniverse(types: Seq[String])

  /** Streaming distribution-drift monitor state: ValueState for the
    * previous SEALED day's distribution plus the running event-type
    * universe. Input rows are FINALIZED (day, event_type, cnt) triples
    * from the upstream watermarked window aggregation — per day that is
    * O(distinct types) rows, so the single reduce key is metadata-scale
    * traffic no matter how large the event stream is (the heavy counting
    * already happened in the distributed windowed agg).
    *
    * Arithmetic mirrors the batch x_dist_drift query EXACTLY — per-term
    * round-to-6 half-up on the shortest-decimal form (what Spark's
    * `round(double, 6)` does), exact decimal summation, round-to-4 on the
    * decimal sum — so the final emissions hash-match the batch oracle.
    *
    * Universe semantics: smoothing uses every type seen UP TO this batch
    * — the natural online definition. Under the drain harness all windows
    * seal in the final watermark-flush microbatch, so the universe there
    * equals the batch query's global type set.
    */
  class DriftProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, (String, String, Long), DriftRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var prev: ValueState[DayDist] = _
    @transient private var universe: ValueState[TypeUniverse] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      prev = getHandle.getValueState[DayDist](
        "prev", org.apache.spark.sql.Encoders.product[DayDist], TTLConfig.NONE)
      universe = getHandle.getValueState[TypeUniverse](
        "universe", org.apache.spark.sql.Encoders.product[TypeUniverse], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Int,
        rows: Iterator[(String, String, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[DriftRow] = {
      val batch = rows.toSeq
      val byDay = batch.groupBy(_._1).map { case (d, rs) =>
        d -> rs.map(r => r._2 -> r._3).toMap
      }
      val uni = (if (universe.exists()) universe.get().types.toSet
                 else Set.empty[String]) ++ batch.map(_._2)
      universe.update(TypeUniverse(uni.toSeq.sorted))
      val out = Seq.newBuilder[DriftRow]
      byDay.keys.toSeq.sorted.foreach { d =>
        val cur = byDay(d)
        if (prev.exists()) {
          val pd = prev.get()
          if (java.time.LocalDate.parse(pd.day).plusDays(1).toString == d)
            out += klRow(d, cur, pd.types.zip(pd.counts).toMap, uni)
        }
        val ts = cur.keys.toSeq.sorted
        prev.update(DayDist(d, ts, ts.map(cur)))
      }
      out.result().iterator
    }

    /** Exact mirror of one batch x_dist_drift output row (see scaladoc). */
    private def klRow(
        day: String, cur: Map[String, Long], prv: Map[String, Long],
        uni: Set[String]): DriftRow = {
      import java.math.{BigDecimal => JBD, RoundingMode}
      def round6(d: Double): JBD =
        new JBD(java.lang.Double.toString(d)).setScale(6, RoundingMode.HALF_UP)
      val k = uni.size
      val n = cur.values.sum
      val m = prv.values.sum
      var kl = JBD.ZERO
      var tv = JBD.ZERO
      uni.toSeq.sorted.foreach { t =>
        val p = (cur.getOrElse(t, 0L) + 1).toDouble / (n + k).toDouble
        val q = (prv.getOrElse(t, 0L) + 1).toDouble / (m + k).toDouble
        kl = kl.add(round6(p * math.log(p / q)))
        tv = tv.add(round6(math.abs(p - q) * 0.5))
      }
      DriftRow(day,
        kl.setScale(4, RoundingMode.HALF_UP).doubleValue(),
        tv.setScale(4, RoundingMode.HALF_UP).doubleValue(),
        k.toLong)
    }
  }

  /** Continuous distribution-drift monitoring (the streaming form of the
    * batch x_dist_drift): a watermarked 1-day tumbling window counts
    * event types (distributed, map-side-combined — the only operator that
    * touches event volume), and each window sealed by the watermark flows
    * as O(types) finalized rows into [[DriftProcessor]], which scores it
    * against the previous sealed window. A feed-health monitor runs
    * continuously by nature; this plan's per-window cost is the windowed
    * agg's, and the drift math runs on distribution summaries only.
    * The LAST calendar day never seals (its window end exceeds every
    * reachable watermark), so consumers see drift for days 2..last-1 —
    * the oracle applies the same watermark cutoff.
    */
  def driftMonitor(events: DataFrame, delay: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("cnt"))
      .as[(String, String, Long)]
      .groupByKey(_ => 0)
      .transformWithState(new DriftProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  final case class FunnelRow(
      day: String, n_view_users: Long, n_clicked: Long, n_converted: Long, conversion: Double)

  /** Streaming funnel reducer: input rows are FINALIZED per-(day, user)
    * funnel verdicts from the upstream watermarked window aggregation —
    * append semantics guarantee every row of a sealed day arrives in the
    * same microbatch, so each key's batch is a complete day and no
    * cross-batch state is needed (the processor is a per-day reduce, not
    * a memory). Conversion mirrors Spark's `round(double, 4)` exactly
    * (BigDecimal of the shortest-decimal form, HALF_UP).
    */
  class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Boolean, Boolean), FunnelRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {}
    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Boolean, Boolean)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[FunnelRow] = {
      var n = 0L; var c = 0L; var p = 0L
      rows.foreach { r => n += 1; if (r._2) c += 1; if (r._3) p += 1 }
      val conv = new java.math.BigDecimal(java.lang.Double.toString(p.toDouble / n))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      Iterator.single(FunnelRow(key, n, c, p, conv))
    }
  }

  /** Continuous conversion funnel (the streaming form of the batch
    * x_event_funnel): a watermarked 1-day tumbling window aggregates each
    * (day, user)'s view/click/purchase times — the only event-volume
    * operator, one distributed shuffle on (window, user) exactly like the
    * batch plan's (day, user) exchange — then the dependent-step math
    * (first click within 1 h of the first view, first purchase within 1 h
    * of that click) runs as the SAME stateless array-HOF projection as the
    * batch query, and [[FunnelProcessor]] reduces each sealed day's
    * verdicts to one funnel row. The last calendar day never seals (its
    * window end exceeds every reachable watermark) — the oracle applies
    * the identical cutoff (t18 discipline).
    */
  def funnelMonitor(events: DataFrame, delay: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    val hourMs = lit(3600000L)
    events
      .withColumn("ms", unix_millis(col("ts")))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ms"))).as("tv"),
        collect_list(when(col("event_type") === "click", col("ms"))).as("cl"),
        collect_list(when(col("event_type") === "purchase", col("ms"))).as("pl"))
      .filter(col("tv").isNotNull)
      .withColumn("tc", array_min(filter(col("cl"),
        c => c > col("tv") && c - col("tv") <= hourMs)))
      .withColumn("tp", array_min(filter(col("pl"),
        p => p > col("tc") && p - col("tc") <= hourMs)))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("tc").isNotNull.as("clicked"), col("tp").isNotNull.as("converted"))
      .as[(String, Boolean, Boolean)]
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** One per-user partial attribution row: purchases of a SEALED day
    * credited to `touch_type` ("view" / "click" / "none") for one user.
    * Final (day, touch_type) totals are a metadata-scale rollup over
    * these — the heavy per-user ordering already happened here.
    */
  final case class AttributionRow(day: String, touch_type: String, n: Long)

  final case class TouchEv(ms: Long, id: Long, typ: String)
  final case class DayEvents(day: String, user_id: Long, evs: Seq[TouchEv])
  final case class TouchState(tms: Long, tid: Long, ttype: String)

  /** Streaming last-touch attribution state: one ValueState per user
    * carrying the latest view/click across SEALED days, so a purchase at
    * 00:30 still credits yesterday's 23:59 click. Input rows are
    * finalized (day, user, events[]) groups from the upstream watermarked
    * window aggregation; sealed windows reach the processor in watermark
    * order, and same-batch days are sorted here, so each user's walk
    * replays event time exactly. The walk mirrors the batch
    * x_attribution window (running max over (ms, event_id), 24 h cutoff)
    * — sorted (ms, id) processing makes "latest touch at or before the
    * purchase" identical to the batch running struct-max.
    */
  class AttributionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DayEvents, AttributionRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var last: ValueState[TouchState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[TouchState](
        "last", org.apache.spark.sql.Encoders.product[TouchState], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[DayEvents],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[AttributionRow] = {
      var lt: TouchState = if (last.exists()) last.get() else null
      val out = Seq.newBuilder[AttributionRow]
      rows.toSeq.sortBy(_.day).foreach { de =>
        val counts = scala.collection.mutable.Map.empty[String, Long]
        de.evs.sortBy(e => (e.ms, e.id)).foreach { e =>
          e.typ match {
            case "view" | "click" => lt = TouchState(e.ms, e.id, e.typ)
            case "purchase" =>
              val tt =
                if (lt != null && e.ms - lt.tms <= 86400000L) lt.ttype else "none"
              counts.update(tt, counts.getOrElse(tt, 0L) + 1L)
            case _ => ()
          }
        }
        counts.toSeq.sortBy(_._1).foreach { case (tt, n) => out += AttributionRow(de.day, tt, n) }
      }
      if (lt != null) last.update(lt)
      out.result().iterator
    }
  }

  /** Continuous last-touch attribution (the streaming form of the batch
    * x_attribution): a watermarked 1-day tumbling window collects each
    * (day, user)'s events — the only event-volume operator, one
    * distributed (window, user) shuffle; collect_list is order-blind, the
    * processor sorts — and each sealed group flows into
    * [[AttributionProcessor]] keyed BY USER, whose ValueState carries the
    * last touch across days. The last calendar day never seals, so
    * consumers see attributions for days 1..last-1 — the oracle applies
    * the identical watermark cutoff (t18 discipline).
    */
  def attributionMonitor(events: DataFrame, delay: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ms", unix_millis(col("ts")))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(collect_list(struct(col("ms").as("ms"), col("event_id").as("id"),
        col("event_type").as("typ"))).as("evs"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("evs"))
      .as[DayEvents]
      .groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** One prequential anomaly row: a sealed day's count z-scored against
    * the stats of all PRIOR sealed days for that event type (population
    * variance from running Σc/Σc² — exact integers; emitted only once
    * ≥ 2 prior days exist and variance > 0).
    */
  final case class AnomalyRow(event_type: String, day: String, c: Long, z: Double, is_anomaly: Boolean)

  final case class VolState(n: Long, sx: Long, sxx: Long)

  /** Streaming volume-anomaly state: per event type, running integer
    * sufficient stats over sealed days. Prequential semantics — each day
    * is scored against only the days BEFORE it (what an online monitor
    * can know), unlike the retrospective batch x_anomaly_days; the
    * oracle replays the same cumulative stats with type-partitioned
    * windows. z is the identical double tree on exact integers.
    */
  class AnomalyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, String, Long), AnomalyRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var st: ValueState[VolState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[VolState](
        "vol", org.apache.spark.sql.Encoders.product[VolState], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, String, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[AnomalyRow] = {
      var s = if (st.exists()) st.get() else VolState(0L, 0L, 0L)
      val out = Seq.newBuilder[AnomalyRow]
      rows.toSeq.sortBy(_._2).foreach { case (typ, day, c) =>
        if (s.n >= 2) {
          val n = s.n.toDouble
          val mean = s.sx.toDouble / s.n.toDouble
          val variance = (s.sxx.toDouble - s.sx.toDouble * s.sx.toDouble / n) / n
          if (variance > 0.0) {
            val z = math.floor((c.toDouble - mean) / math.sqrt(variance) * 1e4 + 0.5) / 1e4
            out += AnomalyRow(typ, day, c, z, math.abs(z) >= 2.0)
          }
        }
        s = VolState(s.n + 1L, s.sx + c, s.sxx + c * c)
      }
      st.update(s)
      out.result().iterator
    }
  }

  /** Continuous volume-anomaly monitoring (the prequential form of the
    * batch x_anomaly_days): a watermarked 1-day window counts each
    * type's events — the only event-volume operator — and each sealed
    * (type, day, count) row updates [[AnomalyProcessor]]'s running
    * stats, scoring the day against everything before it. Day windows
    * reach the processor in watermark order; same-batch days are sorted.
    */
  def anomalyMonitor(events: DataFrame, delay: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"),
        date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("c"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new AnomalyProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** T-ext: per-user running event totals as an UPDATE stream. The final
    * emission per user equals the user's total event count — which is what
    * the batch oracle checks (SparkEntry t13).
    */
  def runningCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningCountProcessor, TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Run a (bounded) stream through `foreachBatch` into the idempotent
    * upsert sink and block until drained — the streaming form of the
    * reference's id-keyed bulk upsert (K3): every microbatch is merged
    * last-write-wins by `idCol`, so duplicate deliveries (source retries,
    * batch replays after checkpoint recovery) cannot change final state.
    * The batch id is the version: a replayed batch re-applies the SAME
    * version and converges to the same rows.
    */
  def runForeachBatchUpsert(df: DataFrame, indexDir: String, checkpointDir: String,
      idCol: String, statePartitions: Option[Int] = None,
      outputMode: String = "append"): StreamingQuery = {
    val q = withStatePartitions(df.sparkSession, statePartitions) {
      df.writeStream
        .outputMode(outputMode)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.sinks.EsBulkSink.upsertById(
            batch.withColumn("__v", lit(batchId)), indexDir, idCol, "__v")
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    q
  }

  /** Failure-injection form of [[runForeachBatchUpsert]] — the T3
    * exactly-once-under-retry proof. The first run applies microbatch 0's
    * sink side-effects in FULL, then throws before the engine can write
    * batch 0's commit log: exactly the replay window in which a real sink
    * failure (executor loss, driver OOM, network partition after the bulk
    * POST succeeded) strands a delivered-but-uncommitted batch. The second
    * run restarts from the same checkpoint; the engine re-delivers batch 0
    * with the SAME batchId and data (the offset WAL was written before
    * processing), so every side-effect runs twice for that batch.
    *
    * Two sinks receive every batch, pinning the positive/negative pair the
    * reference's own duplicate-generation trap motivates
    * (`data-s3-elastic-transfer.py:188-256` — auto-id bulk retries
    * duplicate documents, requiring a second reconciliation script):
    *  - `indexDir`: the id-keyed idempotent upsert (K3) with the batchId as
    *    version — the replayed batch re-applies the same (id, version) rows
    *    and final state is IDENTICAL to a failure-free run.
    *  - `appendDir`: the auto-id append (K2) — the replayed batch lands a
    *    second copy, and the final row count inflates by exactly one batch.
    */
  def runUpsertReplayInjected(df: DataFrame, indexDir: String, appendDir: String,
      checkpointDir: String, idCol: String,
      statePartitions: Option[Int] = None): Unit = {
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def attempt(): Unit = {
      val q = withStatePartitions(df.sparkSession, statePartitions) {
        df.writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val versioned = batch.withColumn("__v", lit(batchId))
            graft.sinks.EsBulkSink.upsertById(versioned, indexDir, idCol, "__v")
            graft.sinks.EsBulkSink.indexAppend(batch, appendDir)
            // crash AFTER the side-effects, BEFORE the commit log write —
            // once, on the first delivery of batch 0
            if (batchId == 0 && injected.compareAndSet(false, true))
              throw new RuntimeException(
                "injected failure: sink applied, checkpoint commit pending")
          }
          .option("checkpointLocation", checkpointDir)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
    }
    try attempt()
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    attempt() // restart: batch 0 replays (uncommitted), then the rest drains
  }

  /** One issued fetch slot of [[politenessFrontier]]: the site-level
    * sequence number (its rate-limit clock position), the per-host
    * sequence within the site, and the earliest allowed fetch time.
    */
  final case class FetchSlot(doc_id: Long, site: String, host: String,
      site_seq: Long, host_seq: Long, fetch_at_s: Long)

  /** One buffered discovery of [[PolitenessProcessor]] awaiting its
    * site's release timer: the full host, the URL id, its scheduler
    * priority and the site's robots crawl-delay.
    */
  final case class PendingFetch(host: String, doc_id: Long, prio: Long, delay_s: Long)

  /** Streaming per-site politeness frontier (t28) — the scheduler a
    * continuous crawl runs between URL discovery and fetching: keyed by
    * eTLD+1 SITE (politeness budgets are per registrable domain — a CDN
    * of subdomains must not multiply a site's fetch rate). Release is
    * enforced by the STATE STORE's event-time timers (the t15
    * chained-timer shape), not by inline emission: discoveries buffer
    * into a typed `ListState` and the site keeps ONE live timer just
    * past its latest discovery's event time; when the watermark seals
    * the site's discovery window the firing drains the buffer in
    * deterministic (priority, doc_id) order — the same rank the batch
    * scheduler (`x_fetch_schedule`) uses — assigning slot n at
    * `(n-1) × crawl_delay` on the site's `ValueState` clock (which
    * persists ACROSS firings: a continuous crawl's rate budget never
    * resets) with a t17-shaped `MapState[host, count]` per-host
    * sequence. State per site is O(pending URLs + distinct hosts) and
    * timer traffic is O(batches), not O(URLs); runs on the RocksDB
    * provider (transformWithState requires it).
    */
  class PolitenessProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String, Long, Long, Long, java.sql.Timestamp), FetchSlot] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var pending: ListState[PendingFetch] = _
    @transient private var nxt: ValueState[Long] = _ // the ONE live timer
    @transient private var siteSeq: ValueState[Long] = _
    @transient private var hostSeq: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[PendingFetch](
        "pending", org.apache.spark.sql.Encoders.product[PendingFetch], TTLConfig.NONE)
      nxt = getHandle.getValueState[Long](
        "nxt", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      siteSeq = getHandle.getValueState[Long](
        "siteSeq", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      hostSeq = getHandle.getMapState[String, Long](
        "hostSeq", org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        site: String,
        rows: Iterator[(String, String, Long, Long, Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[FetchSlot] = {
      // buffer only; the timer firing is the ONLY emission point, so the
      // release order the state store replays is the scheduler's order
      var maxMs = Long.MinValue
      rows.foreach { case (_, host, id, prio, delay, ts) =>
        pending.appendValue(PendingFetch(host, id, prio, delay))
        if (ts.getTime > maxMs) maxMs = ts.getTime
      }
      if (maxMs != Long.MinValue) {
        // one live timer just past the site's LATEST discovery: firing
        // means the watermark proved the discovery window sealed (any
        // still-unseen row at-or-before it would be late). A later batch
        // with later discoveries pushes the timer forward.
        val needed = maxMs + 1
        if (!nxt.exists()) { getHandle.registerTimer(needed); nxt.update(needed) }
        else if (needed > nxt.get()) {
          getHandle.deleteTimer(nxt.get())
          getHandle.registerTimer(needed)
          nxt.update(needed)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        site: String,
        timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[FetchSlot] = {
      val buf = pending.get().toArray
      pending.clear()
      nxt.clear()
      if (buf.isEmpty) return Iterator.empty
      val ordered = buf.sortBy(p => (p.prio, p.doc_id))
      var s0 = if (siteSeq.exists()) siteSeq.get() else 0L
      val out = ordered.map { p =>
        s0 += 1
        val h = (if (hostSeq.containsKey(p.host)) hostSeq.getValue(p.host) else 0L) + 1
        hostSeq.updateValue(p.host, h)
        // Counters stay Long end-to-end: the ValueState clock survives
        // across firings indefinitely on a continuous crawl, so an
        // Int narrowing would silently wrap past 2^31 issued fetches.
        FetchSlot(p.doc_id, site, p.host, s0, h, (s0 - 1) * p.delay_s)
      }
      siteSeq.update(s0)
      out.iterator
    }
  }

  /** [[PolitenessProcessor]] over a request stream with columns
    * `(site, host, doc_id, prio, delay_s, ts)`. `ts` must ALREADY carry
    * the stream's watermark (apply `withWatermark` upstream, before any
    * join that drops rows — the watermark node must observe every
    * discovery's event time, including high-ts rows a later join
    * filters, or the frontier's timers under-fire).
    */
  def politenessFrontier(requests: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = requests.sparkSession
    import spark.implicits._
    requests.as[(String, String, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new PolitenessProcessor, TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** T3/T5 as a stream: incremental append of new files into the emulated
    * index directory with exactly-once file-source progress via checkpoint.
    */
  def syncToIndex(events: DataFrame, indexDir: String, checkpointDir: String): StreamingQuery = {
    val q = events.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", indexDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
