package graft

import graft.sinks.EsBulkSink
import graft.sources.Tables
import graft.streaming.EventStream
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** `LocalFs.readFlatParquet` is `spark.read.parquet` without the schema
  * job: the same schema (and rows) for the indexes the sinks write, the
  * same answer where it falls back, and no Spark job.
  */
class ReadFlatParquetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withDir(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft_flat").toFile
    try body(d.toString) finally LocalFs.deleteRecursively(d)
  }

  /** The events columns with `ts` as TIMESTAMP_NTZ, as the corpus stores it. */
  private def events: DataFrame =
    Tables.loadEvents(spark, TestSpark.sfDir).limit(200).withColumn("ts", col("ts").cast("timestamp_ntz"))

  private def sameAsSpark(dir: String): Unit = {
    val (mine, theirs) = (LocalFs.readFlatParquet(spark, dir), spark.read.parquet(dir))
    assert(mine.schema === theirs.schema)
    assert(mine.collect().map(_.toString).sorted === theirs.collect().map(_.toString).sorted)
  }

  /** Jobs submitted by `body`, counted once the listener bus has delivered
    * every event posted so far.
    */
  private def jobs(body: => Any): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("indexes written by upsertById and appendNewById read with Spark's schema") {
    withDir { root =>
      val (upserted, appended) = (s"$root/upsert", s"$root/append")
      val ev = events.withColumn("__v", lit(1L))
      EsBulkSink.upsertById(ev.filter(col("event_id") % 2 === 0), upserted, "event_id", "__v")
      sameAsSpark(upserted)
      EsBulkSink.upsertById(ev.filter(col("event_id") % 2 === 0), appended, "event_id", "__v")
      EsBulkSink.appendNewById(ev.filter(col("event_id") % 2 =!= 0), appended, "event_id", "__v")
      assert(new java.io.File(appended).list().count(_.startsWith("part-")) > 1)
      sameAsSpark(appended)
      assert(LocalFs.readFlatParquet(spark, appended).schema("ts").dataType.typeName === "timestamp_ntz")
    }
  }

  test("a directory of non-Spark parquet files reads with the converted footer schema") {
    withDir { root =>
      Files.copy(java.nio.file.Paths.get(TestSpark.sfDir, "events.parquet"), java.nio.file.Paths.get(root, "a.parquet"))
      sameAsSpark(root)
    }
  }

  test("missing, empty and partitioned directories give what spark.read.parquet gives") {
    withDir { root =>
      val missing = s"$root/missing"
      val e1 = intercept[AnalysisException](LocalFs.readFlatParquet(spark, missing))
      val e2 = intercept[AnalysisException](spark.read.parquet(missing))
      assert(e1.getCondition === e2.getCondition)
      val empty = new java.io.File(root, "empty")
      empty.mkdir()
      val e3 = intercept[AnalysisException](LocalFs.readFlatParquet(spark, empty.toString))
      val e4 = intercept[AnalysisException](spark.read.parquet(empty.toString))
      assert(e3.getCondition === e4.getCondition)
      // the incrementalAggRefresh layout: one k=v directory per partition
      val agg = s"$root/agg"
      graft.sync.IncrementalSync.incrementalAggRefresh(Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir)),
        agg, "day", _.groupBy("day", "event_type").agg(count(lit(1)).as("cnt")))
      sameAsSpark(agg)
    }
  }

  test("the read and readEvents' ts probe submit no Spark job; spark.read.parquet submits one") {
    withDir { root =>
      EsBulkSink.upsertById(events.withColumn("__v", lit(1L)), s"$root/idx", "event_id", "__v")
      assert(jobs(LocalFs.readFlatParquet(spark, s"$root/idx")) === 0)
      assert(jobs(spark.read.parquet(s"$root/idx")) === 1)
      val input = new java.io.File(root, "events")
      input.mkdir()
      Files.copy(java.nio.file.Paths.get(TestSpark.sfDir, "events.parquet"), input.toPath.resolve("a.parquet"))
      assert(jobs(EventStream.readEvents(spark, input.toString)) === 0)
    }
  }
}
