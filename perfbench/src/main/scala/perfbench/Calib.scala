package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Box calibration: the job-floor probes of the program's `Micro` harness
  * (one tiny aggregate, scan, join and raw-RDD job), re-stated here on the
  * benchmark's own session because `Micro` builds its own fixed-size
  * master. Run at the start and end of every run, so a box that drifts
  * shows as drift in these numbers rather than as a regression.
  */
object Calib {
  def probe(spark: SparkSession, reps: Int): Seq[(String, Double)] = {
    val base = spark.range(1000).select(col("id"), (col("id") % 7).as("k")).localCheckpoint()
    (1 to 2).foreach(_ => base.groupBy("k").count().count())
    def ms(job: Int => Long): Double = Stats.median((1 to reps).map { i =>
      val t0 = System.nanoTime()
      job(i)
      (System.nanoTime() - t0) / 1e6
    })
    Seq(
      "agg_job_ms" -> ms(i => base.groupBy("k").agg(sum(col("id") + i).as("s")).count()),
      "scan_job_ms" -> ms(i => base.filter(col("id") > i).count()),
      "join_job_ms" -> ms(i => base.join(base.select((col("id") + i).as("id"), col("k").as("k2")), "id").count()),
      "raw_rdd_job_ms" -> ms(i => spark.sparkContext.parallelize(1 to 32, 32).map(_ + i).count()))
  }
}
