package graft.queries

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shape of the synthetic fixtures in [[Helpers]] that many
  * queries and their oracles build on, and of the shared builders of the
  * statistics family ([[Statistics]]).
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

  test("purchase label: one row per user, y = 1 exactly when 5·purchases ≥ events") {
    val ev = Helpers.events(spark, dir).select("user_id", "event_type").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1)))
    val expected = ev.groupBy(_._1).map { case (u, es) =>
      u -> ((es.length.toLong, if (5 * es.count(_._2 == "purchase") >= es.length) 1 else 0))
    }
    for (yType <- Seq("int", "long")) {
      val rows = Statistics.purchaseLabel(spark, dir, yType = yType).collect()
        .map(r => (r.getAs[Number]("user_id").longValue, r.getAs[Number]("x").longValue,
          r.getAs[Number]("y").intValue))
      assert(rows.length === expected.size, yType)
      assert(rows.map(_._1).toSet === expected.keySet, yType)
      rows.foreach { case (u, x, y) => assert((x, y) === expected(u), s"user $u ($yType)") }
      assert(rows.map(_._3).toSet === Set(0, 1), s"both labels occur ($yType)")
    }
  }

  test("URGENT holdout: only odd order keys, each scored with its cell's even-key urgent rate") {
    val cust = Helpers.t(spark, dir, "customer").collect()
      .map(r => r.getAs[Number]("c_custkey").longValue ->
        (r.getAs[Number]("c_nationkey").longValue, r.getAs[String]("c_mktsegment"))).toMap
    val orders = Helpers.t(spark, dir, "orders").collect()
      .map(r => (r.getAs[Number]("o_orderkey").longValue,
        cust(r.getAs[Number]("o_custkey").longValue), r.getAs[String]("o_orderpriority") == "1-URGENT"))
    val rate = orders.filter(_._1 % 2 == 0).groupBy(_._2).map { case (cell, os) =>
      cell -> os.count(_._3).toDouble / os.length.toDouble
    }
    val rows = Statistics.urgentHoldout(spark, dir)
      .select(col("o_orderkey"), col("y"), Statistics.urgentP.as("p")).collect()
      .map(r => r.getAs[Number](0).longValue -> (r.getAs[Number](1).intValue, r.getDouble(2)))
    val expected = orders.filter(o => o._1 % 2 == 1 && rate.contains(o._2))
      .map(o => o._1 -> ((if (o._3) 1 else 0, rate(o._2)))).toMap
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 2 == 1), "an even order key in the holdout")
    assert(rows.forall { case (_, (_, p)) => p >= 0.0 && p <= 1.0 })
    assert(rows.length === expected.size)
    val wrong = rows.filterNot { case (key, yp) => expected.get(key).contains(yp) }
    assert(wrong.isEmpty, s"${wrong.length} holdout rows differ, e.g. ${wrong.take(3).mkString(", ")}")
  }

  test("type×day deviations: per type, the floor-6 decimal sum of dev is 0 to its rounding") {
    val (x, den) = Statistics.typeDayDevs(spark, dir)
    val days = Helpers.events(spark, dir).select("day").distinct().count()
    val sums = x.groupBy("event_type").agg(
        count(lit(1)).as("n"), max(col("nd")).as("nd"),
        sum(graft.functions.Quant.f6d(col("dev"))).as("s"))
      .join(den, "event_type").collect()
    assert(sums.nonEmpty)
    sums.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n") === days, t)
      assert(r.getAs[Long]("nd") === days, t)
      // each floor-6 term is within 5e-7 of its dev, and the devs sum to 0
      assert(r.getAs[java.math.BigDecimal]("s").abs.doubleValue <= days * 5e-7 + 1e-9, t)
      assert(r.getAs[java.math.BigDecimal]("den").doubleValue > 0.0, t)
    }
  }

  test("funnel steps: tc > tv and tp > tc wherever set, each within the step window") {
    val window = 3600000L
    val rows = Helpers.funnelSteps(Helpers.funnelFirsts(spark, dir), lit(window))
      .select("tv", "tc", "tp").collect()
      .map(r => (r.getAs[Long]("tv"), Option(r.getAs[Any]("tc")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("tp")).map(_.asInstanceOf[Long])))
    assert(rows.exists(_._2.isDefined), "no funnel reaches a click")
    rows.foreach { case (tv, tc, tp) =>
      tc.foreach(c => assert(c > tv && c - tv <= window, s"tc $c after tv $tv"))
      tp.foreach { p =>
        assert(tc.isDefined, s"tp $p without tc")
        assert(p > tc.get && p - tc.get <= window, s"tp $p after tc ${tc.get}")
      }
    }
  }
}
