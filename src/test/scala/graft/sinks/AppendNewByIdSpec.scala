package graft.sinks

import graft.TestSpark
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `appendNewById` is an optimisation of `upsertById`, so its contract is
  * equality: over random live indexes and batches (new ids, live ids, one
  * id repeated at distinct versions, an empty batch, no index yet) both
  * leave the same multiset of rows. Generators are sampled with fixed
  * seeds, as in PropertySpec.
  */
class AppendNewByIdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (id, payload) rows; versions are assigned later, distinct per row. */
  private val rowsGen = (max: Int) => Gen.listOf(for {
    id <- Gen.choose(0L, max.toLong)
    payload <- Gen.oneOf("a", "b", "c", "d")
  } yield (id, payload))

  private val caseGen = for {
    live <- rowsGen(15).map(_.distinctBy(_._1))
    batch <- Gen.frequency(1 -> Gen.const(Nil), 5 -> rowsGen(25))
    hasIndex <- Gen.frequency(1 -> false, 5 -> true)
  } yield (live, batch, hasIndex)

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def rows(dir: String): Seq[(Long, String, Long)] =
    spark.read.parquet(dir).as[(Long, String, Long)].collect().toSeq.sorted

  /** The index's data files; each write names its own. */
  private def files(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("part-")).toSet

  private def frame(rs: Seq[(Long, String, Long)]): DataFrame = rs.toDF("id", "payload", "ver")

  test("appendNewById leaves the same rows as upsertById for any live index and batch") {
    val cases = samples(caseGen, 5) ++ Seq(
      (List(1L -> "a", 2L -> "b"), Nil, true),                    // empty batch
      (Nil, List(3L -> "c", 3L -> "d", 4L -> "a"), false))        // no index yet
    cases.foreach { case (live, batch, hasIndex) =>
      val root = Files.createTempDirectory("graft_append").toString
      val (viaAppend, viaUpsert) = (s"$root/append", s"$root/upsert")
      // every row's version is distinct, so last-write-wins has one answer
      val liveRows = live.zipWithIndex.map { case ((id, p), i) => (id, p, i.toLong) }
      val batchRows = batch.zipWithIndex.map { case ((id, p), i) => (id, p, 1000L + i) }
      if (hasIndex) {
        EsBulkSink.upsertById(frame(liveRows), viaUpsert, "id", "ver")
        FileUtils.copyDirectory(new java.io.File(viaUpsert), new java.io.File(viaAppend))
      }
      val before = if (hasIndex) files(viaAppend) else Set.empty[String]
      EsBulkSink.appendNewById(frame(batchRows), viaAppend, "id", "ver")
      EsBulkSink.upsertById(frame(batchRows), viaUpsert, "id", "ver")
      assert(rows(viaAppend) === rows(viaUpsert), s"live=$liveRows batch=$batchRows index=$hasIndex")
      // insert-only when no batch id is live: the index's files stay, and
      // an append that wrote no row adds none
      val liveIds = if (hasIndex) liveRows.map(_._1).toSet else Set.empty[Long]
      if (hasIndex && !batchRows.exists(r => liveIds(r._1))) {
        assert(before.subsetOf(files(viaAppend)))
        if (batchRows.isEmpty) assert(files(viaAppend) === before)
      }
    }
  }

  test("appendNewById falls back to upsertById when the batch's column types differ") {
    val root = Files.createTempDirectory("graft_append_schema").toString
    val (viaAppend, viaUpsert) = (s"$root/append", s"$root/upsert")
    val live = frame(Seq((1L, "a", 0L), (2L, "b", 1L)))
    Seq(viaAppend, viaUpsert).foreach(EsBulkSink.upsertById(live, _, "id", "ver"))
    val before = files(viaAppend)
    // `ver` as int: appended files would disagree with the index's long
    val batch = Seq((2L, "x", 5), (3L, "y", 6)).toDF("id", "payload", "ver")
    EsBulkSink.appendNewById(batch, viaAppend, "id", "ver")
    EsBulkSink.upsertById(batch, viaUpsert, "id", "ver")
    assert(rows(viaAppend) === rows(viaUpsert))
    assert(rows(viaAppend) === Seq((1L, "a", 0L), (2L, "x", 5L), (3L, "y", 6L)))
    assert((files(viaAppend) & before).isEmpty, "the fallback rewrites the whole index")
  }
}
