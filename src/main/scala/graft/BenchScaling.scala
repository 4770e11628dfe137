package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scaling-slope report: time every query at sf0.01, sf0.1 and (when
  * `SPARK_GRAFT_SF_XL` points at a [[MakeScale]]-generated corpus) sf1 in
  * one session, and report the per-query wall-clock ratios between
  * consecutive points. This converts "the plan is scale-shaped" from a
  * review opinion into a measurement: a plan linear in data shows ratios
  * at or (usually, with per-job fixed overhead dominating the small SF)
  * well below the 10× data ratio, while a super-linear plan — the r8
  * x_gini histogram-crossJoin class — shows up mechanically as a ratio
  * >> 10 without anyone eyeballing the plan. The THIRD point turns the
  * slope into a curve: a quadratic term too small to clear the noise
  * floor at sf0.1 is 100× bigger at sf1, so `ratio2 >> ratio` exposes
  * super-linearity the two-point measurement physically can't.
  *
  * Output: BENCH_SCALING.json with per-query {small, large [, xl],
  * ratio [, ratio2]} plus a `flagged` list (ratio above FLAG_RATIO with
  * the larger time above the noise floor, for EITHER segment). Run
  * manually per round; not part of the driver contract.
  */
object BenchScaling {
  /** Flag threshold: the data ratio is 10×; 15 allows shuffle-partition
    * and JIT jitter while still catching anything quadratic (which at
    * 10× data shows ~100× time).
    */
  val FlagRatio = 15.0

  /** Queries below this many seconds at the LARGER sf of a segment are
    * inside local-mode scheduling noise — a 0.04 s → 0.7 s "ratio 17" is
    * jitter, not a scale signal.
    */
  val NoiseFloorSec = 0.75

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val large = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val xl = sys.env.get("SPARK_GRAFT_SF_XL").filter(d => new java.io.File(d).isDirectory)
    // optional args: restrict to named queries (targeted re-measure after a
    // fix/corpus change; tools/merge_scaling.py folds the partial output
    // back into the committed BENCH_SCALING.json) + alternate output path
    val only: Option[Set[String]] = if (args.nonEmpty) Some(args.toSet) else None
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "/root/repo/BENCH_SCALING.json")
    def queries = SparkEntry.queries.filter(q => only.forall(_.contains(q._1)))
    val spark = GraftSession.local(GraftSession.envThreads(32), "BenchScaling")
    val dirs = Seq(small, large) ++ xl
    def run(fn: (SparkSession, String) => DataFrame, dir: String): Either[Throwable, Double] =
      CacheScope.timed(spark)(fn(spark, dir).count())
    def timeBest(fn: (SparkSession, String) => DataFrame,
                 dir: String, passes: Int): Either[String, Double] = {
      val ts = (1 to passes).map(_ => run(fn, dir).left.map(_.getClass.getSimpleName))
      ts.collectFirst { case Left(e) => Left(e) }
        .getOrElse(Right(ts.collect { case Right(t) => t }.min))
    }
    // warmup every SF (JIT, codegen, FS cache), then best-of-2 timed each
    queries.foreach { case (_, fn) => dirs.foreach(run(fn, _)) }
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val rows = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, dirs.map(d => timeBest(fn, d, 2)))
    }
    val entries = rows.collect { case (name, ts) if ts.forall(_.isRight) =>
      (name, ts.collect { case Right(t) => t })
    }
    def ratio(a: Double, b: Double): Double = if (a > 0) b / a else Double.NaN
    val flagged = entries.flatMap { case (name, ts) =>
      val bad = ts.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if b >= NoiseFloorSec && ratio(a, b) > FlagRatio =>
          (i, ratio(a, b))
      }.toSeq
      bad.headOption.map { case (seg, r) => (name, seg, r) }
    }
    val errs = rows.collect { case (name, ts) if ts.exists(_.isLeft) =>
      val seg = ts.indexWhere(_.isLeft)
      s""""$name":"${Seq("small", "large", "xl")(seg)}:${ts(seg).left.getOrElse("?")}""""
    }.mkString("{", ",", "}")
    val qjson = entries.map { case (n, ts) =>
      val base = s""""small":${f(ts(0))},"large":${f(ts(1))},"ratio":${f(ratio(ts(0), ts(1)))}"""
      val ext = if (ts.length > 2) s""","xl":${f(ts(2))},"ratio2":${f(ratio(ts(1), ts(2)))}""" else ""
      s""""$n":{$base$ext}"""
    }.mkString("{", ",", "}")
    val fjson = flagged.map { case (n, seg, r) =>
      s""""$n":{"segment":${seg + 1},"ratio":${f(r)}}"""
    }.mkString("{", ",", "}")
    val out =
      s"""{"small_sf":"$small","large_sf":"$large","xl_sf":${xl.fold("null")(d => s""""$d"""")},"data_ratio":10.0,"flag_ratio":$FlagRatio,"noise_floor_sec":$NoiseFloorSec,"flagged":$fjson,"errors":$errs,"queries":$qjson}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"flagged: ${flagged.map(_._1).mkString(", ")} (${flagged.size})")
    spark.stop()
  }
}
