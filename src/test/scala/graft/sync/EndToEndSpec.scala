package graft.sync

import graft.TestSpark
import graft.sources.Tables
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The two reference pipelines run end to end against the real testdata:
  * partition-level sync (data-s3-elastic-transfer) then row-level
  * reconciliation (ID-based-transfer), finishing in the reference's own
  * "fully in sync" acceptance state.
  */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("flagship partition sync then id reconciliation reaches in-sync state on events") {
    val idx = Files.createTempDirectory("graft_e2e").toString + "/idx"
    val events = Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir))

    // day 1: the source only has the first half of the month
    val half = events.filter(col("day") < "2024-01-16")
    val r1 = IncrementalSync.runPartitionSync(half, idx, "day", "event_id")
    assert(r1.partitionsMoved.nonEmpty && r1.rowsMoved === half.count())

    // re-run with the same source: nothing to move (T5 skip-completed)
    val r2 = IncrementalSync.runPartitionSync(half, idx, "day", "event_id")
    assert(r2.partitionsMoved.isEmpty && r2.rowsMoved === 0L)

    // day 2: the full month arrives; only the new days move
    val r3 = IncrementalSync.runPartitionSync(events, idx, "day", "event_id")
    assert(r3.partitionsMoved.forall(_ >= "2024-01-16"))
    assert(IncrementalSync.verifyInSync(events, spark.read.parquet(idx), "day", "event_id") === ((0L, 0L)))

    // sabotage: drop some rows from the sink → count reconcile detects it,
    // id-level reconciliation repairs it (the second reference pipeline)
    val damaged = spark.read.parquet(idx).filter(col("event_id") % 13 =!= 0)
    damaged.write.mode("overwrite").parquet(idx + "2")
    val moved = IncrementalSync.reconcileByIds(
      events, spark.read.parquet(idx + "2"), "day", "event_id", idx + "2", "__v")
    assert(moved > 0L)
    assert(IncrementalSync.verifyInSync(events, spark.read.parquet(idx + "2"), "day", "event_id") === ((0L, 0L)))
  }

  test("each sync step runs within its budget of Spark actions") {
    val idx = Files.createTempDirectory("graft_e2e_budget").toString + "/idx"
    val events = Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir))
    IncrementalSync.runPartitionSync(events.filter(col("day") < "2024-01-16"), idx, "day", "event_id")
    val done = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = done.incrementAndGet(): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // successful SQL executions the body ran, counted once the listener
    // bus has delivered every event posted so far
    def actions(body: => Any): Int = {
      ListenerBusDrain(spark.sparkContext)
      val before = done.get
      body
      ListenerBusDrain(spark.sparkContext)
      done.get - before
    }
    spark.listenerManager.register(listener)
    try {
      // the index lacks the second half of the month and, after the
      // damage, every 13th id: none of the reconciled ids is live
      assert(actions(IncrementalSync.runPartitionSync(events, idx, "day", "event_id")) <= 2)
      spark.read.parquet(idx).filter(col("event_id") % 13 =!= 0).write.parquet(idx + "2")
      assert(actions(IncrementalSync.reconcileByIds(
        events, spark.read.parquet(idx + "2"), "day", "event_id", idx + "2", "__v")) <= 1)
      assert(actions(IncrementalSync.verifyInSync(
        events, spark.read.parquet(idx + "2"), "day", "event_id")) === 1)
    } finally spark.listenerManager.unregister(listener)
  }
}
