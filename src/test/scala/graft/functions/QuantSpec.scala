package graft.functions

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The driver forms of [[Quant.f6]] / [[Quant.f9]] against Spark's own
  * evaluation of the Column forms, on scalacheck-generated finite values
  * and on null, NaN, ±Inf and values past the LONG range of `floor`.
  * Generators are sampled with fixed seeds (no scalatest-scalacheck
  * bridge in the offline cache).
  */
class QuantSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val finite: Gen[Double] = Gen.oneOf(
    Gen.choose(-1.0, 1.0), Gen.choose(-1e6, 1e6), Gen.choose(-1e14, 1e14),
    Gen.choose(-1e300, 1e300))

  private val edges: Seq[java.lang.Double] = Seq[java.lang.Double](null) ++ Seq(
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0,
    5e-7, -5e-7, 4.9999999e-7, 1.5e-9, -2.5e-9, 0.1234565, 9.3e12, -9.3e12,
    9.3e9, -9.3e9, Double.MaxValue, Double.MinValue, Double.MinPositiveValue).map(Double.box)

  private def values: Seq[java.lang.Double] =
    edges ++ (1 to 400).flatMap(i => finite(Gen.Parameters.default, Seed(i.toLong))).map(Double.box)

  private val schema = StructType(Seq(StructField("v", DoubleType)))

  private def check(df: DataFrame): Unit = {
    val rows = df.select(col("v"), Quant.f6(col("v")), Quant.f9(col("v"))).collect()
    assert(rows.length === values.length)
    def same(spark: Any, driver: Option[Double]): Boolean = (spark, driver) match {
      case (null, None) => true
      case (d: java.lang.Double, Some(e)) => d.equals(Double.box(e)) // NaN-equal, ±0-distinct
      case _ => false
    }
    rows.foreach { r =>
      val v = Option(r.get(0)).map(_.asInstanceOf[Double])
      val (d6, d9) = (v.map(x => Quant.f6(x)), v.map(x => Quant.f9(x)))
      assert(same(r.get(1), d6), s"f6($v): spark ${r.get(1)}, driver $d6")
      assert(same(r.get(2), d9), s"f9($v): spark ${r.get(2)}, driver $d9")
    }
  }

  test("driver f6/f9 equal Spark's evaluation of the Column forms") {
    // generated code over an RDD scan, and the interpreted evaluation
    // the optimizer folds a local relation with
    check(spark.createDataFrame(
      spark.sparkContext.parallelize(values.map(Row(_)), 3), schema))
    check(spark.createDataFrame(java.util.Arrays.asList(values.map(Row(_)): _*), schema))
  }
}
