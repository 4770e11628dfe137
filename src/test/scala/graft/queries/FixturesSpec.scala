package graft.queries

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shape of the synthetic fixtures in [[Helpers]] that many
  * queries and their oracles build on.
  */
class FixturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("link graph: 3 out-edges per node, none from doc_id ≡ 9 (mod 10), every dst in [0, N)") {
    val docs = Helpers.t(spark, dir, "documents").select("doc_id")
    val ids = docs.collect().map(_.getAs[Number](0).longValue)
    val n = ids.length.toLong
    val out = Helpers.linkEdges(docs).collect()
      .map(r => (r.getAs[Number]("src").longValue, r.getAs[Number]("dst").longValue))
    val outDeg = out.groupBy(_._1).map { case (src, es) => src -> es.length }
    ids.foreach { id =>
      assert(outDeg.getOrElse(id, 0) === (if (id % 10 == 9) 0 else 3), s"out-degree of $id")
    }
    assert(outDeg.keySet.subsetOf(ids.toSet))
    assert(out.forall { case (_, dst) => dst >= 0 && dst < n })
  }

  test("planted corpus: one copy per base doc at +1,000,000 holding its floor(len·frac) prefix") {
    for (frac <- Seq(0.9, 0.3)) {
      val rows = Helpers.plantedCorpus(spark, dir, frac).collect()
        .map(r => r.getAs[Number]("doc_id").longValue -> r.getAs[String]("text"))
      val (copies, base) = rows.partition(_._1 >= 1000000L)
      val expected = Helpers.t(spark, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select("doc_id", "text").collect()
        .map(r => r.getAs[Number]("doc_id").longValue -> r.getAs[String]("text"))
      assert(base.sortBy(_._1).toSeq === expected.sortBy(_._1).toSeq)
      assert(copies.length === base.length, s"frac $frac")
      val copyOf = copies.groupBy(_._1)
      base.foreach { case (id, text) =>
        val chars = text.codePointCount(0, text.length)
        val keep = (BigDecimal(chars) * BigDecimal(frac))
          .setScale(0, BigDecimal.RoundingMode.FLOOR).toInt
        val prefix = text.substring(0, text.offsetByCodePoints(0, keep))
        assert(copyOf.get(id + 1000000L).map(_.map(_._2).toSeq) === Some(Seq(prefix)),
          s"copy of $id at frac $frac")
      }
    }
  }

  test("type×day grid: |types|·|days| rows, 0 in the cells with no events") {
    // sf0.001 fills every cell, so the grid is also built over a copy with
    // one type's events dropped on every other day
    val holed = java.nio.file.Files.createTempDirectory("graft_fixtures_").toFile
    try {
      val ev = graft.sources.Tables.loadEvents(spark, dir)
      val oneType = ev.select(min(col("event_type"))).head().getString(0)
      ev.filter(!(col("event_type") === oneType && dayofmonth(col("ts")) % 2 === 0))
        .write.parquet(s"$holed/events.parquet")
      for (d <- Seq(dir, holed.toString)) {
        val counts = Helpers.events(spark, d).groupBy("event_type", "day").count().collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        val types = counts.keySet.map(_._1)
        val days = counts.keySet.map(_._2)
        val grid = Helpers.typeDayCounts(spark, d).collect()
          .map(r => (r.getAs[String]("event_type"), r.getAs[String]("day")) -> r.getAs[Any]("c"))
        assert(grid.length === types.size * days.size, d)
        assert(grid.toMap.size === grid.length, d)
        // boxed compare: a null cell must not pass as 0
        grid.foreach { case (cell, c) => assert(c == counts.getOrElse(cell, 0L), s"cell $cell in $d") }
        if (d != dir) assert(grid.count(_._2 == 0L) > 0, "the holed grid must hold empty cells")
      }
    } finally graft.LocalFs.deleteRecursively(holed)
  }
}
