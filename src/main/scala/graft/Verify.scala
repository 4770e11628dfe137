package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query names — restricts both the
    // result dump and the oracle map (local single-query iteration; the
    // driver always passes two args and gets the full surface)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.local(GraftSession.envThreads(16), "Verify")
    new java.io.File(outDir).mkdirs()
    // some operators cache() internally (registered via CacheScope); timed
    // drains after every query, so the CacheManager never holds every
    // query's blocks for the whole 400+-query dump
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      CacheScope.timed(spark)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
        .left.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // gate linkage for the deliberate no_oracle entries: which exact-
    // oracled queries pin each one's computation, visible to CORRECTNESS
    // readers without opening NOTES.md
    val gates = SparkEntry.gatedBy.filter(g => keep(g._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/gated_by.json"), gates)
    spark.stop()
  }
}
