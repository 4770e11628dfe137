package graft.streaming

import graft.TestSpark
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class EventStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** File-source streams need a directory; stage the single events.parquet
    * file into one.
    */
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft_events_dir")
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sfDir + "/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming daily counts over the events file source equal the batch result") {
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val stream = EventStream.readEvents(spark, eventsDir)
    EventStream.runToMemory(EventStream.dailyCounts(stream), "daily_out", ckpt)

    val streamed = spark.table("daily_out")
      .select("day", "event_type", "cnt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    val batch = Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir))
      .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed === batch)
  }

  test("daily counts under the RocksDB state store equal the default-provider result") {
    val (key, provider) = EventStream.rocksDbStateStore
    val prev = spark.conf.getOption(key)
    val ckpt = Files.createTempDirectory("graft_ckpt_rocks").toString
    try {
      spark.conf.set(key, provider)
      EventStream.runToMemory(
        EventStream.dailyCounts(EventStream.readEvents(spark, eventsDir)), "daily_rocks", ckpt)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val rocks = spark.table("daily_rocks")
      .select("day", "event_type", "cnt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir))
      .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rocks === batch)
  }

  test("dedupById drops duplicate deliveries: doubled input, single output") {
    val base = Files.createTempDirectory("graft_stream_dedup")
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sfDir + "/events.parquet"), base.resolve("a.parquet"))
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sfDir + "/events.parquet"), base.resolve("b.parquet"))
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt").toString
    EventStream.runToMemory(
      EventStream.dedupById(EventStream.readEvents(spark, base.toString), "event_id"),
      "dedup_out", ckpt, outputMode = "append")
    val n = spark.table("dedup_out").count()
    val distinctIds = spark.table("dedup_out").select("event_id").distinct().count()
    val srcIds = Tables.loadEvents(spark, TestSpark.sfDir).select("event_id").distinct().count()
    assert(n === distinctIds, "every id must appear exactly once after dedup")
    assert(distinctIds === srcIds, "no id may be lost by dedup")
  }

  test("runForeachBatchUpsert is idempotent: replaying the drained source changes nothing") {
    val base = Files.createTempDirectory("graft_fbu")
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sfDir + "/events.parquet"), base.resolve("a.parquet"))
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sfDir + "/events.parquet"), base.resolve("b.parquet"))
    val idx = s"$base/idx"

    // doubled delivery drains to exactly the distinct source
    EventStream.runForeachBatchUpsert(
      EventStream.readEvents(spark, base.toString), idx, s"$base/ckpt1",
      "event_id", statePartitions = Some(4))
    val n1 = spark.read.parquet(idx).count()
    val src = Tables.loadEvents(spark, TestSpark.sfDir).select("event_id").distinct().count()
    assert(n1 === src, "doubled delivery must upsert to the distinct source")

    // a FRESH checkpoint replays everything — the idempotent sink converges
    // to the same state instead of doubling (the reference's retry story)
    EventStream.runForeachBatchUpsert(
      EventStream.readEvents(spark, base.toString), idx, s"$base/ckpt2",
      "event_id", statePartitions = Some(4))
    assert(spark.read.parquet(idx).count() === n1, "replay must be a no-op on final state")
  }

  test("mid-batch failure + replay: upsert state identical, auto-id append duplicates one batch") {
    val base = Files.createTempDirectory("graft_replay")
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sfDir + "/events.parquet"), base.resolve("a.parquet"))
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sfDir + "/events.parquet"), base.resolve("b.parquet"))
    val idx = s"$base/idx"
    val app = s"$base/app"

    // batch 0's sink effects land, then the query dies before the commit
    // log write; the restart re-delivers batch 0 (same batchId, same data)
    EventStream.runUpsertReplayInjected(
      EventStream.readEvents(spark, base.toString, maxFilesPerTrigger = Some(1)),
      idx, app, s"$base/ckpt", "event_id", statePartitions = Some(4))

    val srcIds = Tables.loadEvents(spark, TestSpark.sfDir)
      .select("event_id").distinct()
    val srcN = Tables.loadEvents(spark, TestSpark.sfDir).count()

    // positive: the id-keyed upsert re-applied the same (id, version) rows
    // — final state is EXACTLY the failure-free state (write batch N twice
    // => identical)
    val got = spark.read.parquet(idx).select("event_id")
    assert(got.count() === srcIds.count(), "upsert must hold one row per distinct id")
    assert(got.exceptAll(srcIds).isEmpty && srcIds.exceptAll(got).isEmpty,
      "upsert id set must equal the failure-free state")

    // negative: the reference's auto-id trap — the replayed batch appended
    // a second copy of itself: 2 source copies + 1 replayed batch = 3N
    assert(spark.read.parquet(app).count() === 3 * srcN,
      "auto-id append must show exactly one duplicated batch")
  }

  test("transformWithState running counts: final emission per user equals the batch count") {
    val ckpt = Files.createTempDirectory("graft_tws_ckpt").toString
    EventStream.runToMemory(
      EventStream.runningCounts(EventStream.readEvents(spark, eventsDir)),
      "tws_out", ckpt, outputMode = "update", statePartitions = Some(4))

    val streamed = spark.table("tws_out")
      .groupBy("user_id").agg(max(col("seen")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.loadEvents(spark, TestSpark.sfDir)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    // the provider override must not leak into the shared session
    assert(spark.conf.getOption(EventStream.rocksDbStateStore._1)
      .forall(_ != EventStream.rocksDbStateStore._2))
  }

  test("the RocksDB provider is chosen from the plan: transformWithState on it, a windowed agg off it") {
    val key = EventStream.rocksDbStateStore._1
    // batch 0's offset-log metadata records the confs the query started with
    def started(ckpt: String, conf: String): String = {
      val meta = scala.io.Source.fromFile(s"$ckpt/offsets/0")
      try s""""${java.util.regex.Pattern.quote(conf)}":"([^"]+)"""".r
        .findFirstMatchIn(meta.mkString).map(_.group(1)).getOrElse(fail(s"$conf not recorded"))
      finally meta.close()
    }
    val before = spark.conf.getOption(key)

    val twsCkpt = Files.createTempDirectory("graft_plan_tws").toString
    EventStream.runToMemory(
      EventStream.runningCounts(EventStream.readEvents(spark, eventsDir)),
      "plan_tws", twsCkpt, outputMode = "update", statePartitions = Some(3))
    assert(started(twsCkpt, key) === EventStream.rocksDbStateStore._2)
    assert(started(twsCkpt, "spark.sql.shuffle.partitions") === "3")
    assert(spark.conf.getOption(key) === before, "the provider override must be restored")

    val aggCkpt = Files.createTempDirectory("graft_plan_agg").toString
    EventStream.runToMemory(
      EventStream.dailyCounts(EventStream.readEvents(spark, eventsDir)),
      "plan_agg", aggCkpt, statePartitions = Some(3))
    assert(started(aggCkpt, key).endsWith(".HDFSBackedStateStoreProvider"))
    assert(spark.conf.getOption(key) === before)
  }

  test("event-time-timer sessionization: cross-batch merge, multi-island close, open tail held") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructType}
    val base = Files.createTempDirectory("graft_tws_sess")
    val ckpt = s"$base/ckpt"
    // this fixture deliberately uses the LEGACY nanos-long ts encoding (the
    // stream below applies the div-1000 conversion itself), so it pins the
    // long branch regardless of what the corpus currently ships
    val longSchema = StructType(EventStream.eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))
    val t0 = 1700000000000L // ms
    def ns(offMin: Long): Long = (t0 + offMin * 60000L) * 1000000L // parquet ts is nanos
    def write(name: String, mtimeOff: Long, rows: Seq[(Long, Long, Long)]): Unit = {
      val data = rows.map { case (id, tsNs, user) => Row(id, tsNs, user, "click", 1.0, "{}") }
      val tmp = s"$base/_tmp_$name"
      spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), longSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      // the file source doesn't recurse into plain subdirectories: surface
      // the part file at the top level, like the testdata layout
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$base/$name.parquet")
      Files.move(part.toPath, dst.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete()); new java.io.File(tmp).delete()
      // file source orders new files by modification time
      dst.setLastModified(System.currentTimeMillis() + mtimeOff)
    }
    // batch 1 (file A): user 1 at 0 and 30 min — max A = 30 min, so after
    // batch 1 the watermark (delay 30 min) sits at 0: batch 2's
    // out-of-order 15-min event is NOT late and must merge into the island
    write("a", -60000, Seq((1L, ns(0), 1L), (2L, ns(30), 1L)))
    // batch 2 (file B): the merge event; user 2 with THREE one-event
    // islands sharing one batch (early islands must still close — the
    // per-event-timer guarantee); user 99 sentinel pushes the final
    // watermark AND stays open itself
    write("b", 0, Seq(
      (3L, ns(15), 1L),
      (4L, ns(0), 2L), (5L, ns(180), 2L), (6L, ns(360), 2L),
      (7L, ns(6000), 99L)))
    val stream = spark.readStream
      .schema(longSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    EventStream.runToMemory(
      EventStream.sessionizeTimers(stream, gapMs = 3600000L, delay = "30 minutes"),
      "tws_sess", ckpt, outputMode = "append", statePartitions = Some(2))
    val got = spark.table("tws_sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expected = Set(
      (1L, 3L, t0, t0 + 30 * 60000L), // one merged session despite batch split
      (2L, 1L, t0, t0),
      (2L, 1L, t0 + 180 * 60000L, t0 + 180 * 60000L),
      (2L, 1L, t0 + 360 * 60000L, t0 + 360 * 60000L))
    assert(got === expected) // user 99's open session must NOT be emitted
  }

  test("MapState streaming top-k: final emission per day equals the batch top-k") {
    val ckpt = Files.createTempDirectory("graft_topk_ckpt").toString
    EventStream.runToMemory(
      EventStream.topKTypesPerDay(EventStream.readEvents(spark, eventsDir), k = 3),
      "topk_out", ckpt, outputMode = "update", statePartitions = Some(4))
    // counts are monotone: max(cnt) per (day, type) + re-rank = final top-k
    val fin = spark.table("topk_out").groupBy("day", "event_type")
      .agg(max(col("cnt")).as("cnt"))
    val streamed = fin.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("day")
          .orderBy(col("cnt").desc, col("event_type"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val batch = Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir))
      .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("day")
          .orderBy(col("cnt").desc, col("event_type"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(streamed === batch)
  }

  test("streaming drift monitor matches the batch day-over-day KL for every sealed window") {
    val ckpt = Files.createTempDirectory("graft_drift_ckpt").toString
    EventStream.runToMemory(
      EventStream.driftMonitor(EventStream.readEvents(spark, eventsDir)),
      "drift_out", ckpt, outputMode = "append", statePartitions = Some(4))
    val streamed = spark.table("drift_out")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSet
    // batch mirror (the x_dist_drift plan), restricted to days the
    // watermark can seal: window end <= max(ts) - 1 hour
    val events = Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir))
    val c = events.groupBy("day", "event_type").agg(count(lit(1)).as("c"))
    val grid = c.select("day").distinct().crossJoin(c.select("event_type").distinct())
    val full = grid.join(c, Seq("day", "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val n = full.groupBy("day").agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
    val p = full.join(n, Seq("day"))
      .withColumn("p", (col("c") + 1).cast("double") / (col("n") + col("k")).cast("double"))
    val prev = p.select(
      date_format(date_add(to_date(col("day")), 1), "yyyy-MM-dd").as("day"),
      col("event_type"), col("p").as("q"))
    val maxTs = Tables.loadEvents(spark, TestSpark.sfDir)
      .agg(max(unix_millis(col("ts")))).head().getLong(0)
    val batch = p.join(prev, Seq("day", "event_type"))
      .withColumn("term", round(col("p") * log(col("p") / col("q")), 6).cast("decimal(18,6)"))
      .withColumn("tvterm", round(abs(col("p") - col("q")) * 0.5, 6).cast("decimal(18,6)"))
      .groupBy("day").agg(
        round(sum(col("term")), 4).cast("double").as("kl"),
        round(sum(col("tvterm")), 4).cast("double").as("tv"),
        count(lit(1)).as("k"))
      .filter(unix_millis(date_add(to_date(col("day")), 1).cast("timestamp"))
        <= maxTs - 3600000L)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming attribution carries the last touch across sealed days and batches") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructType}
    val base = Files.createTempDirectory("graft_tws_attr")
    val ckpt = s"$base/ckpt"
    val longSchema = StructType(EventStream.eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))
    val d0 = 1704067200000L // 2024-01-01 00:00:00 UTC
    def ns(dayOff: Long, hour: Long): Long = (d0 + dayOff * 86400000L + hour * 3600000L) * 1000000L
    def write(name: String, mtimeOff: Long, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val data = rows.map { case (id, tsNs, user, typ) => Row(id, tsNs, user, typ, 1.0, "{}") }
      val tmp = s"$base/_tmp_$name"
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), longSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$base/$name.parquet")
      Files.move(part.toPath, dst.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete()); new java.io.File(tmp).delete()
      dst.setLastModified(System.currentTimeMillis() + mtimeOff)
    }
    // batch 1: day 1 — user 1 click 23:00 then purchase 23:30 (same-day
    // credit); user 2 click 01:00 (the touch that will be >24 h stale);
    // sentinel pushes the watermark past day-1's end so it seals in batch 2
    write("a", -60000, Seq(
      (1L, ns(0, 23), 1L, "click"),
      (2L, ns(0, 23) + 1800000000000L, 1L, "purchase"),
      (3L, ns(0, 1), 2L, "click"),
      (4L, ns(1, 2), 99L, "error")))
    // batch 2: day 2 — user 1 purchase 10:00 must credit YESTERDAY's
    // 23:00 click via ValueState carried from the batch that sealed day 1;
    // then view 11:00 / purchase 12:00 (fresh same-day credit); user 2
    // purchase 02:00 is 25 h after their only touch -> none; sentinel
    // seals day 2 in the flush batch
    write("b", 0, Seq(
      (5L, ns(1, 10), 1L, "purchase"),
      (6L, ns(1, 11), 1L, "view"),
      (7L, ns(1, 12), 1L, "purchase"),
      (8L, ns(1, 2), 2L, "purchase"),
      (9L, ns(2, 20), 99L, "error")))
    val stream = spark.readStream
      .schema(longSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(base.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    EventStream.runToMemory(
      EventStream.attributionMonitor(stream, delay = "1 hour"),
      "tws_attr", ckpt, outputMode = "append", statePartitions = Some(2))
    val got = spark.table("tws_attr")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val expected = Seq(
      ("2024-01-01", "click", 1L),
      ("2024-01-02", "click", 1L), // cross-batch, cross-day carry
      ("2024-01-02", "none", 1L),  // stale touch past the 24 h cutoff
      ("2024-01-02", "view", 1L)).sorted
    assert(got === expected) // day 3 (sentinel) never seals -> absent
  }

  test("streaming funnel matches the batch conversion funnel for every sealed day") {
    val ckpt = Files.createTempDirectory("graft_funnel_ckpt").toString
    EventStream.runToMemory(
      EventStream.funnelMonitor(EventStream.readEvents(spark, eventsDir)),
      "funnel_out", ckpt, outputMode = "append", statePartitions = Some(4))
    val streamed = spark.table("funnel_out")
      .select("day", "n_view_users", "n_clicked", "n_converted", "conversion")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    // batch mirror (the x_event_funnel plan) with the watermark cutoff
    val e = Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir))
      .select(col("day"), col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val hourMs = lit(3600000L)
    val maxTs = Tables.loadEvents(spark, TestSpark.sfDir)
      .agg(max(unix_millis(col("ts")))).head().getLong(0)
    val batch = e.groupBy("day", "user_id").agg(
        min(when(col("event_type") === "view", col("ms"))).as("tv"),
        collect_list(when(col("event_type") === "click", col("ms"))).as("cl"),
        collect_list(when(col("event_type") === "purchase", col("ms"))).as("pl"))
      .filter(col("tv").isNotNull)
      .withColumn("tc", array_min(filter(col("cl"), c => c > col("tv") && c - col("tv") <= hourMs)))
      .withColumn("tp", array_min(filter(col("pl"), p => p > col("tc") && p - col("tc") <= hourMs)))
      .groupBy("day").agg(
        count(lit(1)).as("n_view_users"),
        sum(when(col("tc").isNotNull, 1L).otherwise(0L)).as("n_clicked"),
        sum(when(col("tp").isNotNull, 1L).otherwise(0L)).as("n_converted"),
        round(sum(when(col("tp").isNotNull, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("conversion"))
      .filter(unix_millis(date_add(to_date(col("day")), 1).cast("timestamp")) <= maxTs - 3600000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("syncToIndex is incremental: a second trigger with no new files appends nothing") {
    val base = Files.createTempDirectory("graft_stream_sync").toString
    val idx = s"$base/idx"
    val ckpt = s"$base/ckpt"
    val src = eventsDir

    EventStream.syncToIndex(EventStream.readEvents(spark, src), idx, ckpt)
    val n1 = spark.read.parquet(idx).count()
    assert(n1 === 1000L)

    // re-trigger with the same checkpoint: file source must skip processed files
    EventStream.syncToIndex(EventStream.readEvents(spark, src), idx, ckpt)
    val n2 = spark.read.parquet(idx).count()
    assert(n2 === n1)
  }
}
