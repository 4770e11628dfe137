package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Events fixtures built from the vendored `events` table (30 days from
  * [[Day0]], `ts` as stored by the corpus: TIMESTAMP_NTZ).
  */
object Fixtures {
  val Day0: java.time.LocalDate = java.time.LocalDate.of(2024, 1, 1)
  val TileDays = 30

  def day(i: Int): String = Day0.plusDays(i.toLong).toString

  /** The vendored events tiled `tiles` times, `ts` left in its stored
    * encoding: tile i offsets `event_id` by i × (max id + 1) and shifts
    * `ts` by i × 30 days, so the tiles cover consecutive days.
    */
  def tiledEvents(spark: SparkSession, data: String, tiles: Int): DataFrame = {
    val raw = Tables.load(spark, data, "events")
    val span = raw.agg(max(col("event_id"))).head().getLong(0) + 1
    (0 until tiles).map { i =>
      raw.withColumn("event_id", col("event_id") + lit(i * span))
        .withColumn("ts", col("ts") + make_dt_interval(lit(i * TileDays)))
    }.reduce(_ unionByName _)
  }

  /** Day index of a stored or normalized `ts`, counted from [[Day0]]. */
  def dayIndex(ts: Column): Column = datediff(to_date(ts), lit(Day0.toString))

  /** Seed-chosen tenth of the ids. */
  def tenth(seed: Long, salt: Int): Column = pmod(xxhash64(col("event_id"), lit(seed), lit(salt)), lit(10L)) === 0
}
