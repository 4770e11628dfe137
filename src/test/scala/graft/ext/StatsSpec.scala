package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("groupedLinReg recovers an exact linear relation (slope, intercept, r = 1)") {
    val df = (1 to 50).flatMap(i => Seq(("g1", i, 2 * i + 3), ("g2", i, 7 * i - 5)))
      .toDF("g", "x", "y")
    val got = Stats.groupedLinReg(df, Seq("g"), col("x"), col("y"))
      .orderBy("g").collect()
    assert(got.length === 2)
    val g1 = got(0); val g2 = got(1)
    assert(g1.getString(0) === "g1" && g1.getLong(1) === 50L)
    assert(g1.getDouble(2) === 2.0 && g1.getDouble(3) === 3.0 && g1.getDouble(4) === 1.0)
    assert(g2.getDouble(2) === 7.0 && g2.getDouble(3) === -5.0 && g2.getDouble(4) === 1.0)
  }

  test("groupedLinReg: negative slope and r = -1 on a descending relation") {
    val df = (1 to 20).map(i => ("g", i, 100 - 4 * i)).toDF("g", "x", "y")
    val r = Stats.groupedLinReg(df, Seq("g"), col("x"), col("y")).collect().head
    assert(r.getDouble(2) === -4.0 && r.getDouble(3) === 100.0 && r.getDouble(4) === -1.0)
  }

  test("groupedLinReg: zero x-variance group yields NULL slope/intercept/r, not a crash") {
    val df = Seq(("g", 5, 1), ("g", 5, 2), ("g", 5, 3)).toDF("g", "x", "y")
    val r = Stats.groupedLinReg(df, Seq("g"), col("x"), col("y")).collect().head
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("groupedLinReg is one map-side-combined aggregation — a single exchange, no join") {
    val df = (1 to 100).map(i => (s"g${i % 4}", i, 3 * i + 1)).toDF("g", "x", "y")
    val plan = Stats.groupedLinReg(df, Seq("g"), col("x"), col("y"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"closed-form solve must not join:\n$plan")
    assert("Exchange".r.findAllIn(plan).size === 1, s"exactly one exchange expected:\n$plan")
  }

  test("driver-side IRLS is bit-identical to the aggregate Column spec") {
    // logisticIrls' Newton steps moved to driver arithmetic over the
    // collected joint histogram (metadata-scale — the kmeansCents
    // discipline). This spec RETAINS the original per-step Column chain
    // and pins bit-identity against it, so the driver loop can never
    // drift from the algebra the DuckDB oracle replays.
    val pts = (1 to 700).map(i => (i % 23, if ((i * 7) % 23 > 11 ^ i % 13 == 0) 1 else 0))
      .toDF("x", "y")
    // null cells keep their partial terms under the Column form: a null x
    // gets p = 0.999999 (least/greatest skip nulls) and still feeds g0
    // and h00; a null y still feeds the three Hessian sums
    val withNulls = pts.union((1 to 60).map(i =>
      (if (i % 3 == 0) None else Some(i % 23), if (i % 3 == 0) Some(i % 2) else None))
      .toDF("x", "y"))
    def columnSpecFit(pts: org.apache.spark.sql.DataFrame, iters: Int): (Double, Double) = {
      val hist = pts.groupBy("x", "y").agg(count(lit(1)).as("f"))
      def f6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      def d6(c: org.apache.spark.sql.Column) = f6(c).cast("decimal(28,6)")
      val xD = col("x").cast("double"); val fD = col("f").cast("double")
      val yD = col("y").cast("double")
      def pCol = greatest(least(
        f6(lit(1.0) / (lit(1.0) + exp(-(col("b0") + col("b1") * xD)))),
        lit(0.999999)), lit(0.000001))
      var coef = spark.range(1).select(lit(0.0).as("b0"), lit(0.0).as("b1"))
      for (_ <- 1 to iters) {
        val cells = hist.crossJoin(broadcast(coef))
          .withColumn("p", pCol)
          .withColumn("w", col("p") * (lit(1.0) - col("p")))
        val ag = cells.agg(
          sum(d6(fD * (yD - col("p")))).cast("double").as("g0"),
          sum(d6(fD * (yD - col("p")) * xD)).cast("double").as("g1"),
          sum(d6(fD * col("w"))).cast("double").as("h00"),
          sum(d6(fD * col("w") * xD)).cast("double").as("h01"),
          sum(d6(fD * col("w") * xD * xD)).cast("double").as("h11"))
        val det = col("h00") * col("h11") - col("h01") * col("h01")
        coef = ag.crossJoin(broadcast(coef)).select(
          f6(col("b0") + (col("h11") * col("g0") - col("h01") * col("g1")) / det).as("b0"),
          f6(col("b1") + (col("h00") * col("g1") - col("h01") * col("g0")) / det).as("b1"))
      }
      val r = coef.collect().head
      (r.getDouble(0), r.getDouble(1))
    }
    for (input <- Seq(pts, withNulls); iters <- Seq(1, 3, 5)) {
      val (_, coef) = Stats.logisticIrls(input, col("x"), col("y"), iters)
      val r = coef.collect().head
      assert((r.getDouble(0), r.getDouble(1)) === columnSpecFit(input, iters),
        s"driver IRLS diverged from the Column spec at iters=$iters")
    }
    assert(columnSpecFit(withNulls, 3) != columnSpecFit(pts, 3),
      "the null cells must move the fit")
  }

  test("logisticIrls is partitioning-invariant: decimal sums make the fit bit-identical") {
    // the classic nondeterminism failure mode for iterative fits is
    // float accumulation order varying with partitioning; the quantized
    // Newton steps must not exhibit it
    val pts = (1 to 500).map(i => (i % 37, if (i % 37 > 18 ^ i % 11 == 0) 1 else 0))
      .toDF("x", "y")
    def fit(d: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val (_, coef) = Stats.logisticIrls(d, col("x"), col("y"), 3)
      val r = coef.collect().head
      (r.getDouble(0), r.getDouble(1))
    }
    val a = fit(pts.repartition(1))
    val b = fit(pts.repartition(13))
    assert(a === b, s"fit varies with partitioning: $a vs $b")
    // and the fit moved off the origin (the data is actually separable-ish)
    assert(a._1 != 0.0 || a._2 != 0.0)
  }

  test("logisticIrls recovers the direction of a monotone relationship") {
    // y mostly 1 above the midpoint of x: slope must come out positive
    val pts = (1 to 400).map { i =>
      val x = i % 21
      (x, if (x + (i % 3) > 11) 1 else 0)
    }.toDF("x", "y")
    val (_, coef) = Stats.logisticIrls(pts, col("x"), col("y"), 3)
    val r = coef.collect().head
    assert(r.getDouble(1) > 0.0, s"expected positive slope, got ${r.getDouble(1)}")
  }
}
