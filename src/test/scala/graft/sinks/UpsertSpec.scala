package graft.sinks

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class UpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("lastWriteWins keeps highest version per id") {
    val df = Seq(("a", 1, 1), ("a", 2, 2), ("b", 5, 1)).toDF("id", "v", "version")
    val out = Upsert.lastWriteWins(df, "id", "version")
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(out === Array(("a", 2), ("b", 5)))
  }

  test("upsertById is idempotent: writing the same batch twice yields the same state") {
    val dir = Files.createTempDirectory("graft_upsert").toString + "/idx"
    val batch = Seq(("a", 1.0, 1L), ("b", 2.0, 1L)).toDF("id", "v", "version")
    EsBulkSink.upsertById(batch, dir, "id", "version")
    EsBulkSink.upsertById(batch, dir, "id", "version")
    val state1 = spark.read.parquet(dir).collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    assert(state1 === Array(("a", 1.0), ("b", 2.0)))

    // a newer version for 'a' replaces it; 'c' appends
    val batch2 = Seq(("a", 9.0, 2L), ("c", 3.0, 2L)).toDF("id", "v", "version")
    EsBulkSink.upsertById(batch2, dir, "id", "version")
    val state2 = spark.read.parquet(dir).collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    assert(state2 === Array(("a", 9.0), ("b", 2.0), ("c", 3.0)))
  }

  test("toNdjson emits action line with _id plus doc line") {
    val df = Seq((7L, "click")).toDF("event_id", "event_type")
    val line = EsBulkSink.toNdjson(df, "idx", Some("event_id")).as[String].head()
    val Array(action, doc) = line.split("\n")
    assert(action === """{"index":{"_index":"idx","_id":"7"}}""")
    assert(doc === """{"event_id":7,"event_type":"click"}""")
  }

  test("bulkIndexWithAccounting counts delivered and failed batches across retries") {
    val df = (1 to 100).toDF("n").repartition(4)
    val report = EsBulkSink.bulkIndexWithAccounting(df, batchSize = 10, maxRetries = 2) { payload =>
      // poison: any batch containing the row {"n":13} permanently fails
      if (payload.exists(_.contains("\"n\":13"))) throw new RuntimeException("rejected by sink")
    }
    assert(report.rows === 100L)
    assert(report.delivered + report.failed === 100L)
    // exactly one batch (of at most 10 rows) contains the poison row
    assert(report.failed >= 1L && report.failed <= 10L)
    assert(report.batches >= 10L) // partition-local chunking may split batches
    assert(report.errorSample.nonEmpty && report.errorSample.head.contains("rejected"))
  }

  test("withRetry retries with linear backoff then succeeds") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val out = EsBulkSink.withRetry(maxRetries = 3, backoffMs = 10, sleep = sleeps.append(_)) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out === "ok" && calls === 3 && sleeps.toSeq === Seq(10L, 20L))
  }

  test("withRetry exhausts and rethrows") {
    intercept[RuntimeException] {
      EsBulkSink.withRetry(maxRetries = 2, backoffMs = 1, sleep = _ => ()) { () =>
        throw new RuntimeException("permanent")
      }
    }
  }

  test("withRetry never retries an interrupt: one attempt, the exception propagates") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    intercept[InterruptedException] {
      EsBulkSink.withRetry(maxRetries = 3, backoffMs = 10, sleep = sleeps.append(_)) { () =>
        calls += 1
        throw new InterruptedException("task killed")
      }
    }
    assert(calls === 1 && sleeps.isEmpty)
  }

  test("scd2Merge: change closes + reopens, no-op and insert paths, idempotent") {
    import spark.implicits._
    // history: id 1 open with v=a (plus an old closed row), id 2 open with v=x
    val history = Seq(
      (1L, "a0", 0L, Option(5L)),   // closed prior version
      (1L, "a", 5L, None: Option[Long]),
      (2L, "x", 3L, None: Option[Long])
    ).toDF("id", "v", "valid_from", "valid_to")
    // updates: id 1 changes to b at t=10; id 2 unchanged; id 3 brand new
    val updates = Seq((1L, "b", 10L), (2L, "x", 11L), (3L, "n", 12L)).toDF("id", "v", "ts")
    val merged = Upsert.scd2Merge(history, updates, "id", "valid_from", "valid_to", "ts", Seq("v"))
    val got = merged.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got === Set(
      (1L, "a0", 0L, 5L),   // closed history untouched
      (1L, "a", 5L, 10L),   // closed by the change
      (1L, "b", 10L, -1L),  // new open row
      (2L, "x", 3L, -1L),   // no-op: same value keeps the ORIGINAL valid_from
      (3L, "n", 12L, -1L)   // insert
    ))
    // idempotence: re-applying the same update batch changes nothing
    val again = Upsert.scd2Merge(merged, updates, "id", "valid_from", "valid_to", "ts", Seq("v"))
    val got2 = again.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got2 === got)
    // exactly one open row per id
    val openPerId = merged.filter(col("valid_to").isNull).groupBy("id").count()
      .collect().map(_.getLong(1))
    assert(openPerId.forall(_ === 1L))
  }

  test("snapshotAt reconstructs any version: updates, deletes, revivals, future entries ignored") {
    import spark.implicits._
    val log = Seq(
      (1L, 1L, "U", "a1"), (1L, 3L, "U", "a3"), (1L, 9L, "U", "a9"), // updated after cutoff
      (2L, 2L, "U", "b2"), (2L, 4L, "D", "dead"),                    // deleted before cutoff
      (3L, 6L, "D", "dead"), (3L, 7L, "U", "c7"),                    // revived before cutoff
      (4L, 8L, "U", "d8")                                            // born after cutoff
    ).toDF("id", "ver", "op", "v")
    def snap(v: Long): Map[Long, String] =
      Upsert.snapshotAt(log, "id", "ver", v, opCol = Some("op"))
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(snap(7L) === Map(1L -> "a3", 3L -> "c7")) // id 2 deleted, id 4 not yet born
    assert(snap(9L) === Map(1L -> "a9", 3L -> "c7", 4L -> "d8"))
    assert(snap(1L) === Map(1L -> "a1"))
    assert(snap(0L) === Map.empty[Long, String])
    // upsert-only log (no opCol): delete markers are ordinary rows
    assert(Upsert.snapshotAt(log, "id", "ver", 7L).count() === 3L)
  }
}
