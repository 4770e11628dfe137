package graft
package queries

import graft.LocalFs.deleteRecursively
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The inputs, scratch paths and staging every query family builds on,
  * with the SQL twins of the derived inputs that the oracles share.
  */
private[graft] object Helpers {

  def t(s: SparkSession, dir: String, name: String): DataFrame = Tables.load(s, dir, name)

  /** events + string `day` bucket — the reference's `month` partition
    * analog at non-degenerate cardinality (SURVEY.md §1.1).
    */
  def events(s: SparkSession, dir: String): DataFrame = Tables.withDay(Tables.loadEvents(s, dir))

  /** Emulated sink state for the sync operators: the sink is missing (a)
    * every partition from 2024-01-20 on (partition-level gap, J1) and (b)
    * every 10th row id (row-level gap, J2) — mirroring FIXTURES.md §A.
    */
  def sinkState(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("day") < "2024-01-20").filter(col("event_id") % 10 =!= 0)

  /** Exact, order-independent sum of a double expression (see the
    * conventions on [[graft.SparkEntry]]). */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Deterministic per-dataset scratch dir, wiped on entry: repeated
    * invocations (Bench runs every query 4×) reuse ONE path instead of
    * leaking a fresh temp copy each call.
    */
  def scratchDir(tag: String, dir: String): java.io.File = {
    val f = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_${tag}_" + math.abs(dir.hashCode))
    deleteRecursively(f)
    f.mkdirs()
    f
  }

  /** Deterministic per-(tag, dataset) path that PERSISTS between runs:
    * sink/roundtrip queries leave ONE bounded copy (their returned plan
    * reads it lazily, so it must outlive the call), overwritten or wiped by
    * the NEXT run of the same query — bounded residue, never accumulation.
    */
  def persistentPath(tag: String, dir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_${tag}_" + math.abs(dir.hashCode)).toString

  /** [[persistentPath]] wiped first: a sink query's fresh run must not
    * merge into the state a previous run (or a prior corpus) left there.
    */
  def freshPath(tag: String, dir: String): String = {
    val p = persistentPath(tag, dir)
    deleteRecursively(new java.io.File(p))
    p
  }

  /** Run `body` on a fresh [[scratchDir]] holding `files` — pairs of a
    * table file under `dir` and the name it gets in the stage — and always
    * delete the stage afterwards. File-source streams read a DIRECTORY, so
    * the streaming queries stage their input here; their results live in
    * a memory table or a [[persistentPath]], never in the stage.
    */
  def staged[A](tag: String, dir: String, files: (String, String)*)(
      body: String => A): A = {
    val stageDir = scratchDir(tag, dir)
    try {
      files.foreach { case (src, name) =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$dir/$src"), stageDir.toPath.resolve(name))
      }
      body(stageDir.toString)
    } finally deleteRecursively(stageDir)
  }

  /** The oracle side of [[events]]' `day` bucket. */
  val dayE = "strftime(ts, '%Y-%m-%d')"

  /** The oracle side of [[sinkState]]. */
  val sinkSql = s"SELECT *, $dayE AS day FROM events WHERE $dayE < '2024-01-20' AND event_id % 10 <> 0"

  // x_dp_counts / t22_stream_dp: the identical deterministic release
  val dpCountsSql =
    s"""WITH c AS (SELECT $dayE AS day, event_type, count(*) AS c FROM events GROUP BY 1, 2),
               u AS (SELECT day, event_type, c,
                       (CAST(('0x' || substring(md5(day || '|' || event_type), 1, 6)) AS INTEGER) + 0.5)
                         / 16777216.0 AS u
                     FROM c)
          SELECT day, event_type, c,
                 floor((-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))) * 1e6 + 0.5) / 1e6 AS noise,
                 floor(greatest(c + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 0.0) * 1e6 + 0.5) / 1e6 AS released
          FROM u ORDER BY day, event_type"""
}
