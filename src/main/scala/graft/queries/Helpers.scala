package graft
package queries

import graft.LocalFs.deleteRecursively
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The inputs, synthetic fixtures, scratch paths and staging every query
  * family builds on, each derived input's Spark builder beside the SQL twin
  * its oracles share, and the oracles a batch query shares with its stream
  * twin.
  */
private[graft] object Helpers {

  def t(s: SparkSession, dir: String, name: String): DataFrame = Tables.load(s, dir, name)

  /** Each document's `doc_id` as a typed scan: the key the per-doc
    * synthetic payload fixtures (archives, media) are built from.
    */
  def docIds(s: SparkSession, dir: String): Dataset[Long] = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
  }

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

  /** The oracle side of `TextFunctions.tokens`. */
  val toksE = "string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')"

  /** The synthetic link graph over the documents: node = `doc_id`
    * (contiguous 0..N-1 in the testdata), edges doc → (doc·m + m) mod N for
    * m ∈ {2, 3, 5}, and every doc_id ≡ 9 (mod 10) left with NO out-edges
    * (dangling nodes). `docs` holds the `doc_id` column; returns (src, dst).
    */
  def linkEdges(docs: DataFrame): DataFrame = {
    val nRow = docs.agg(count(lit(1)).as("n"))
    docs.crossJoin(broadcast(nRow))
      .filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id").as("src"),
        explode(array(Seq(2, 3, 5).map(m =>
          (col("doc_id") * m + m) % col("n")): _*)).as("dst"))
  }

  /** The oracle side of [[linkEdges]]: CTEs `nodes(node)`, `nn(n)` and
    * `e(src, dst)`.
    */
  val linkEdgesSql =
    """nodes AS (SELECT doc_id AS node FROM documents),
                 nn AS (SELECT count(*) AS n FROM nodes),
                 e AS (SELECT node AS src, (node * m + m) % nn.n AS dst
                       FROM nodes CROSS JOIN nn CROSS JOIN (VALUES (2), (3), (5)) AS mm(m)
                       WHERE node % 10 <> 9)"""

  /** [[linkEdgesSql]] plus `und(u, v)`: the distinct undirected edges, self-loops dropped. */
  val linkUndSql =
    s"""$linkEdgesSql,
                 und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                         FROM e WHERE src <> dst)"""

  /** `LinkRank.labelPropagation(rounds = 4)` over [[linkUndSql]]: `sym(u, v)`
    * holds both directions of each edge and `l0` … `l4(node, lab)` the labels
    * after each synchronous round of neighbour-modal adoption, ties broken by
    * (cnt DESC, lab).
    */
  val lpaSql = {
    val stages = (1 to 4).map { i =>
      s"""c$i AS MATERIALIZED (
                SELECT s.u, l.lab, count(*) AS cnt
                FROM sym s JOIN l${i - 1} l ON s.v = l.node GROUP BY 1, 2),
              l$i AS MATERIALIZED (
                SELECT u AS node, lab FROM
                  (SELECT u, lab, row_number() OVER (PARTITION BY u ORDER BY cnt DESC, lab) AS rk FROM c$i)
                WHERE rk = 1)"""
    }.mkString(",\n")
    s"""$linkUndSql,
                 sym AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
                 l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),
                 $stages"""
  }

  /** Planted near-duplicates of `docs` (doc_id, text): each doc again at
    * id + 1,000,000 with its text truncated to the first floor(len·frac)
    * characters.
    */
  def truncatedCopies(docs: DataFrame, frac: Double): DataFrame =
    docs.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      expr(s"substr(text, 1, CAST(floor(length(text)*$frac) AS INT))").as("text"))

  /** The planted near-dup corpus: every document with doc_id % 4 = 0 plus
    * its [[truncatedCopies]] — the synthetic corpus has no natural
    * near-dups, so the dedup queries plant them.
    */
  def plantedCorpus(s: SparkSession, dir: String, frac: Double): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") % 4 === 0).select("doc_id", "text")
    base.unionByName(truncatedCopies(base, frac))
  }

  /** The oracle side of [[plantedCorpus]]: CTEs `base` and `corp(doc_id, text)`. */
  def plantedCorpusSql(frac: Double): String =
    s"""base AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
                 corp AS (SELECT doc_id, text FROM base
                          UNION ALL
                          SELECT doc_id + 1000000, substr(text, 1, CAST(floor(length(text)*$frac) AS INT)) FROM base)"""

  /** Word 3-shingles of the docs in `from` (a table or CTE with `doc_id` and
    * `text`, optionally filtered) — the oracle side of `Dedup.shingles(_, 3)`:
    * CTEs `d(doc_id, toks)`, `s(doc_id, sh)` with each doc's distinct
    * shingles (a doc under 3 tokens is one shingle) and `e(doc_id, shingle)`.
    */
  def shinglesSql(from: String): String =
    s"""d AS (SELECT doc_id, $toksE AS toks FROM $from),
                 s AS (SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
                   FROM d),
                 e AS (SELECT doc_id, unnest(sh) AS shingle FROM s)"""

  /** [[shinglesSql]] plus `sz(doc_id, nsh)`, each doc's shingle count, and
    * `p(doc_a, doc_b, shared)`, the shingles a pair shares, over the pairs
    * with `doc_a <op> doc_b` (`<`: each unordered pair once; `<>`: both
    * directions).
    */
  def shinglePairsSql(from: String, op: String = "<"): String =
    s"""${shinglesSql(from)},
                 sz AS (SELECT doc_id, len(sh) AS nsh FROM s),
                 p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                       FROM e a JOIN e b USING (shingle) WHERE a.doc_id $op b.doc_id GROUP BY 1, 2)"""

  /** Event counts per event_type × day over the full type×day grid, the
    * cells with no events holding 0: (event_type, day, c).
    */
  def typeDayCounts(s: SparkSession, dir: String): DataFrame = {
    val d = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    val grid = d.select("event_type").distinct().crossJoin(d.select("day").distinct())
    grid.join(d, Seq("event_type", "day"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
  }

  /** The oracle side of [[typeDayCounts]]: CTEs `d(event_type, day, c)`
    * over the non-empty cells, `days`, `types` and `f(event_type, day, c)`,
    * the zero-filled grid.
    */
  val typeDayCountsSql =
    s"""d AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                 days AS (SELECT DISTINCT day FROM d),
                 types AS (SELECT DISTINCT event_type FROM d),
                 f AS (SELECT t.event_type, dy.day, coalesce(d.c, 0) AS c
                       FROM types t CROSS JOIN days dy
                       LEFT JOIN d ON d.event_type = t.event_type AND d.day = dy.day)"""

  /** Oracle of the ANN recall reports (`Similarity.recallByDecile`): 10
    * query-id deciles × 10 queries × 10 true neighbours, recall_ok TRUE in
    * every decile.
    */
  val recallByDecileSql =
    """SELECT vec_id % 10 AS decile, count(*) AS n_queries,
                  count(*) * 10 AS n_true, TRUE AS recall_ok
           FROM embeddings WHERE vec_id < 100 GROUP BY 1 ORDER BY 1"""

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
