package graft.plans

import graft.TestSpark
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TsRangePushdownSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // GraftSession registers the rule by default; each helper pins one state
  // and restores whatever was there before
  private def withRule[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    TsRangePushdown.register(spark)
    try f finally spark.experimental.extraOptimizations = saved
  }

  private def withoutRule[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == TsRangePushdown)
    try f finally spark.experimental.extraOptimizations = saved
  }

  private def dayFiltered(day: String) =
    Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir)).filter(col("day") === day)

  test("a day-string equality filter reaches the parquet scan as a raw ts range") {
    withRule {
      val plan = dayFiltered("2024-01-05").queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
        s"expected the rewritten ts range in PushedFilters:\n$plan")
    }
    // without the rule, the same query pushes nothing on ts
    val bare = withoutRule(dayFiltered("2024-01-05").queryExecution.executedPlan.toString)
    assert(!bare.contains("GreaterThanOrEqual(ts,"), "control: bare plan must not push a ts range")
  }

  test("every comparison direction matches the unrewritten result exactly") {
    val day = "2024-01-10"
    def run(build: => org.apache.spark.sql.DataFrame): Seq[Long] =
      build.select("event_id").as[Long].collect().sorted.toSeq
    val e = () => Tables.withDay(Tables.loadEvents(spark, TestSpark.sfDir))
    for ((name, f) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("eq", _.filter(col("day") === day)),
        ("lt", _.filter(col("day") < day)),
        ("le", _.filter(col("day") <= day)),
        ("gt", _.filter(col("day") > day)),
        ("ge", _.filter(col("day") >= day)),
        ("flip_lt", _.filter(lit(day) < col("day"))),
        ("flip_ge", _.filter(lit(day) >= col("day"))))) {
      val want = withoutRule(run(f(e())))
      val got = withRule(run(f(e())))
      assert(got == want, s"$name: rewritten result differs")
    }
  }

  test("day bounds honor the date_format expression's resolved time zone") {
    // analyze under Asia/Tokyo (UTC+9), optimize under the session default
    // (UTC): the rewritten range must match Tokyo's day boundaries, i.e.
    // produce exactly the rows the unrewritten filter produces
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val df = try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      Tables.loadEvents(spark, TestSpark.sfDir)
        .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    val want = withoutRule(df.count())
    val got = withRule(df.count())
    assert(got === want, "range must use the zone the analyzer bound, not the current session zone")
    assert(got > 0L)
  }

  test("NTZ-stored ts: the cast-normalized day filter pushes an NTZ range (corpus-independent)") {
    // a synthetic TIMESTAMP_NTZ fixture pins rewrite 3 (cast-strip) even if
    // the driver corpus reverts to the nanos-long encoding: the day filter
    // over Tables.normalizeTs's `cast(ts AS TIMESTAMP)` shape must reach
    // the parquet reader as a raw NTZ range, not die at the cast
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz_push").toString
    val rows = (0 until 48).map { h =>
      Row(h.toLong, java.time.LocalDateTime.of(2024, 1, 5, 0, 0).plusHours(h))
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir)
    def q = Tables.withDay(spark.read.parquet(dir)
        .withColumn("ts", col("ts").cast(TimestampType)))
      .filter(col("day") === "2024-01-05")
    withRule {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
        s"expected a pushed NTZ ts range:\n$plan")
      assert(q.count() === 24L)
    }
    assert(withoutRule(q.count()) === 24L, "control: unrewritten result must agree")
  }

  test("unparseable day literals and foreign formats are left alone") {
    withRule {
      // bad literal: filter must survive un-rewritten and return 0 rows
      assert(dayFiltered("not-a-date").count() === 0L)
      // non-day format: no rewrite, result identical to bare evaluation
      val months = Tables.loadEvents(spark, TestSpark.sfDir)
        .filter(date_format(col("ts"), "yyyy-MM") === "2024-01").count()
      assert(months > 0L)
    }
  }
}
