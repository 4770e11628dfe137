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
  */
object Quant {

  private def fixed(c: Column, scale: Double): Column = floor(c * lit(scale) + lit(0.5)) / lit(scale)

  def f4(c: Column): Column = fixed(c, 1e4)

  def f6(c: Column): Column = fixed(c, 1e6)

  def f9(c: Column): Column = fixed(c, 1e9)
}
