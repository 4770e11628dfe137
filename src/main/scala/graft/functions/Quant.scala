package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fixed-decimal rounding of double columns, shared by every query and
  * operator that reports a rounded ratio or score.
  *
  * Round-half-up via `floor(x·10^k + 0.5) / 10^k`, NOT `round()`: the
  * values are outputs of double division chains, where `round()` may
  * disagree across engines on exact .xxxxx5 halves (NOTES.md round-4
  * parity lesson); the floor idiom is the same IEEE op sequence in Spark
  * and in the DuckDB oracle SQL, so both sides round bit-identically.
  *
  * The `Double` overloads are the driver-side twins for loops that run
  * over collected, metadata-scale state. Spark's `floor` of a double
  * returns a LONG, so they floor through `toLong`: NaN becomes 0 and ±Inf
  * or an out-of-range value saturates at the LONG bounds, exactly as the
  * Column form evaluates (QuantSpec pins both against Spark).
  */
object Quant {

  private def fixed(c: Column, scale: Double): Column = floor(c * lit(scale) + lit(0.5)) / lit(scale)

  private def fixed(v: Double, scale: Double): Double = math.floor(v * scale + 0.5).toLong / scale

  def f4(c: Column): Column = fixed(c, 1e4)

  def f6(c: Column): Column = fixed(c, 1e6)

  def f9(c: Column): Column = fixed(c, 1e9)

  def f6(v: Double): Double = fixed(v, 1e6)

  def f9(v: Double): Double = fixed(v, 1e9)

  /** [[f6]] as an exact DECIMAL(28,6) summand, so a sum of quantized
    * terms is order-independent in both engines. */
  def f6d(c: Column): Column = f6(c).cast("decimal(28,6)")

  /** [[f9]] as an exact DECIMAL(28,9) summand. */
  def f9d(c: Column): Column = f9(c).cast("decimal(28,9)")
}
