package graft.sync

import graft.TestSpark
import graft.sinks.{EsBulkSink, Upsert}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Ports the reference's own acceptance checks (SURVEY.md §5.3): after a
  * sync, per-partition counts and id sets of source and sink must match,
  * and re-running must move nothing.
  */
class IncrementalSyncSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def source = Seq(
    ("1", "Jan", 10.0), ("2", "Jan", 11.0), ("3", "Feb", 12.0),
    ("4", "Feb", 13.0), ("5", "Mar", 14.0), ("6", "Mar", 15.0)
  ).toDF("id", "month", "temperature")

  test("syncMissingPartitions moves exactly the missing partitions, then is a no-op") {
    val dir = Files.createTempDirectory("graft_sync").toString + "/sink"
    // bootstrap sink with Jan+Feb only
    source.filter($"month" =!= "Mar").write.mode(SaveMode.Overwrite).parquet(dir)

    def sinkDf: DataFrame = spark.read.parquet(dir)
    val r1 = IncrementalSync.syncMissingPartitions(source, sinkDf, "month",
      rows => rows.write.mode(SaveMode.Append).parquet(dir))
    assert(r1.partitionsMoved === Seq("Mar") && r1.rowsMoved === 2L)

    // reference invariant: in sync ⇒ (0 mismatched partitions, 0 missing ids)
    assert(IncrementalSync.verifyInSync(source, sinkDf, "month", "id") === ((0L, 0L)))

    // idempotence: second run skips everything (T5 skip-completed)
    val r2 = IncrementalSync.syncMissingPartitions(source, sinkDf, "month",
      _ => fail("must not write when nothing is missing"))
    assert(r2.partitionsMoved.isEmpty && r2.rowsMoved === 0L)
  }

  test("reconcileByIds backfills row-level gaps idempotently") {
    val idx = Files.createTempDirectory("graft_recon").toString + "/idx"
    // sink is missing id 2 in Jan and all of Mar
    source.filter($"id" =!= "2" && $"month" =!= "Mar")
      .withColumn("v", lit(0L))
      .write.mode(SaveMode.Overwrite).parquet(idx)

    val moved = IncrementalSync.reconcileByIds(
      source, spark.read.parquet(idx), "month", "id", idx, "v")
    assert(moved === 3L) // id 2 + ids 5,6

    val sinkNow = spark.read.parquet(idx)
    assert(IncrementalSync.verifyInSync(source, sinkNow, "month", "id") === ((0L, 0L)))

    // second run: nothing missing
    val moved2 = IncrementalSync.reconcileByIds(
      source, spark.read.parquet(idx), "month", "id", idx, "v")
    assert(moved2 === 0L)
  }

  test("incrementalAggRefresh aggregates only missing partitions, then is a no-op") {
    val aggDir = Files.createTempDirectory("graft_mv").toString + "/mv"
    val agg: DataFrame => DataFrame = df => df.groupBy("month").agg(count(lit(1)).as("cnt"))
    // seed with Jan only
    agg(source.filter($"month" === "Jan")).write.partitionBy("month").parquet(aggDir)
    val added = IncrementalSync.incrementalAggRefresh(source, aggDir, "month", agg)
    assert(added === Seq("Feb", "Mar"))
    val mv = spark.read.parquet(aggDir)
      .select($"month".cast("string"), $"cnt").as[(String, Long)].collect().toMap
    assert(mv === Map("Jan" -> 2L, "Feb" -> 2L, "Mar" -> 2L))
    // second refresh: nothing missing, nothing written
    assert(IncrementalSync.incrementalAggRefresh(source, aggDir, "month", agg) === Seq.empty)
  }

  test("verifyInSync keeps each duplicated id once, in its smallest partition, at any shuffle width") {
    // within one partition the copy is simply dropped
    val dupInPart = source.unionByName(Seq(("2", "Jan", 11.0)).toDF("id", "month", "temperature"))
    assert(IncrementalSync.verifyInSync(source, dupInPart, "month", "id") === ((0L, 0L)))
    // across two partitions id 1 counts in "Feb" (< "Jan"): Feb holds one
    // id too many and Jan one too few, on every run
    val dupAcross = source.unionByName(Seq(("1", "Feb", 10.0)).toDF("id", "month", "temperature"))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      val answers = Seq("1", "8").map { n =>
        spark.conf.set(key, n)
        IncrementalSync.verifyInSync(source, dupAcross, "month", "id")
      }
      assert(answers === Seq((2L, 0L), (2L, 0L)))
    } finally spark.conf.set(key, prev)
  }

  test("a sync whose append lost a file recovers on the next partition sync and reconcile") {
    val idx = Files.createTempDirectory("graft_recover").toString + "/idx"
    val versioned = source.withColumn("__v", lit(0L))
    EsBulkSink.upsertById(versioned.filter($"month" === "Jan"), idx, "id", "__v")
    def parts: Set[java.io.File] = new java.io.File(idx).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).toSet
    val seeded = parts
    // uncoalesced, the append spreads its rows over several files
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    val r1 = try IncrementalSync.runPartitionSync(source, idx, "month", "id") finally spark.conf.set(key, prev)
    assert(r1.partitionsMoved === Seq("Feb", "Mar") && r1.rowsMoved === 4L)
    // a crash mid-commit: the fullest file the append wrote never landed
    val lost = (parts -- seeded).maxBy(f => spark.read.parquet(f.toString).count())
    assert(spark.read.parquet(lost.toString).count() > 0L)
    lost.delete()
    IncrementalSync.runPartitionSync(source, idx, "month", "id")
    IncrementalSync.reconcileByIds(source, spark.read.parquet(idx), "month", "id", idx, "__v")
    val sink = spark.read.parquet(idx)
    assert(IncrementalSync.verifyInSync(source, sink, "month", "id") === ((0L, 0L)))
    val held = sink.agg(count(lit(1)), countDistinct($"id")).head()
    assert((held.getLong(0), held.getLong(1)) === ((6L, 6L)))
  }

  test("verifyInSync tolerates sink duplicates via dedup (auto-id append path)") {
    val dup = source.unionByName(source.limit(2)) // duplicated rows, as K2+retry can produce
    assert(IncrementalSync.verifyInSync(source, dup, "month", "id") === ((0L, 0L)))
    val _ = Upsert // (dedup happens inside verifyInSync)
  }
}
