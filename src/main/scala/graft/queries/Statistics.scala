package graft
package queries

import graft.ext.Similarity
import graft.functions.{TextFunctions => TF}
import graft.functions.Quant.{f4, f6, f6d, f9, f9d}
import graft.ops.Windows.constKey
import graft.queries.Helpers._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The statistics/ML family: hypothesis tests, effect estimators,
  * forecasts and series diagnostics, model fits and their evaluation,
  * distribution profiles, samples and privacy releases, clustering and
  * projections — the analysis layer over the synced events, documents,
  * embeddings and TPC-H tables. Conventions: see [[graft.SparkEntry]].
  */
private[graft] object Statistics {
  /** PCA fit shared by x_pca_project and x_pca_heatmap — same rationale
    * as SparkEntry's BPE cache: the fit is deterministic in the dataset, bounded
    * driver state, and a production pipeline fits once.
    */
  private val pcaCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.ext.Pca.FittedPca]
  private def pcaFitted(s: SparkSession, dir: String): graft.ext.Pca.FittedPca =
    pcaCache.getOrElseUpdate((s, dir),
      graft.ext.Pca.fitTopK(t(s, dir, "embeddings"), dim = 64, k = 2))

  /** Lloyd k-means centroids (k=8, 3 rounds) shared by x_kmeans and
    * x_silhouette — same rationale as [[pcaCache]]: deterministic in the
    * dataset, k·d driver doubles, fit once.
    */
  private val kmeansCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Seq[(Int, Seq[Double])]]
  private def kmeansCents(s: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    kmeansCache.getOrElseUpdate((s, dir),
      Similarity.lloydKMeans(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 3)._2)

  // x_logit_newton: 3 unrolled Newton/IRLS stages over the (x, y)
  // histogram — per-cell sigmoid floor-6 + clamp, five decimal sums,
  // one shared 2×2 solve tree, coefficients floor-6 per step (the
  // exact trees of the Spark loop)
  private val logitP = "greatest(least(floor(1.0 / (1.0 + exp(-(c.b0 + c.b1 * CAST(h.x AS DOUBLE)))) * 1e6 + 0.5) / 1e6, CAST(0.999999 AS DOUBLE)), CAST(0.000001 AS DOUBLE))"
  // parameterized form: `hName` = histogram CTE, `pfx` = coefficient CTE
  // prefix (chain i reads ${pfx}${i-1}, writes ${pfx}$i) — lets one
  // oracle unroll several independent fits (the learning curve)
  private def logitChain(hName: String, pfx: String): String = (1 to 3).map { i =>
    s"""${pfx}g$i AS (SELECT
              CAST(sum(CAST(floor(CAST(h.f AS DOUBLE) * (CAST(h.y AS DOUBLE) - $logitP) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS g0,
              CAST(sum(CAST(floor(CAST(h.f AS DOUBLE) * (CAST(h.y AS DOUBLE) - $logitP) * CAST(h.x AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS g1,
              CAST(sum(CAST(floor(CAST(h.f AS DOUBLE) * ($logitP * (1.0 - $logitP)) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS h00,
              CAST(sum(CAST(floor(CAST(h.f AS DOUBLE) * ($logitP * (1.0 - $logitP)) * CAST(h.x AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS h01,
              CAST(sum(CAST(floor(CAST(h.f AS DOUBLE) * ($logitP * (1.0 - $logitP)) * CAST(h.x AS DOUBLE) * CAST(h.x AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS h11
            FROM $hName h CROSS JOIN $pfx${i - 1} c),
          $pfx$i AS (SELECT
              floor((c.b0 + (a.h11 * a.g0 - a.h01 * a.g1) / (a.h00 * a.h11 - a.h01 * a.h01)) * 1e6 + 0.5) / 1e6 AS b0,
              floor((c.b1 + (a.h00 * a.g1 - a.h01 * a.g0) / (a.h00 * a.h11 - a.h01 * a.h01)) * 1e6 + 0.5) / 1e6 AS b1
            FROM ${pfx}g$i a CROSS JOIN $pfx${i - 1} c)"""
  }.mkString(",\n")
  // the single fit over `h`, coefficients cf0 … cf3
  private val logitIters = logitChain("h", "cf")
  // x_gmm_em: 4 unrolled EM stages over the value histogram grid —
  // responsibility (one exp/point, floor-6), decimal-weighted moments,
  // new means, tied variance from the new means
  private val gmIters = (1 to 4).map { i =>
    val p = i - 1
    s"""gr$i AS MATERIALIZED (SELECT g.x, g.cnt,
              floor(p.p1 / (p.p1 + (1.0 - p.p1)
                  * exp(((g.x - p.m1) * (g.x - p.m1) - (g.x - p.m2) * (g.x - p.m2)) / (2.0 * p.vv)))
                * 1e6 + 0.5) / 1e6 AS rr
            FROM gmg g CROSS JOIN gm$p p),
          gw$i AS MATERIALIZED (SELECT
              CAST(sum(cnt * CAST(rr AS DECIMAL(28,6))) AS DOUBLE) AS w1,
              CAST(sum(cnt * CAST(1.0 - rr AS DECIMAL(28,6))) AS DOUBLE) AS w2,
              CAST(sum(cnt * CAST(rr AS DECIMAL(28,6)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS s1,
              CAST(sum(cnt * CAST(1.0 - rr AS DECIMAL(28,6)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS s2
            FROM gr$i),
          gn$i AS MATERIALIZED (SELECT w.w1 / b.nd AS p1, w.s1 / w.w1 AS m1, w.s2 / w.w2 AS m2
            FROM gw$i w CROSS JOIN gmb b),
          gv$i AS MATERIALIZED (SELECT
              CAST(sum(r.cnt * CAST(floor((r.rr * (r.x - n.m1) * (r.x - n.m1)
                  + (1.0 - r.rr) * (r.x - n.m2) * (r.x - n.m2)) * 1e6 + 0.5) / 1e6
                AS DECIMAL(28,6))) AS DOUBLE) / any_value(b.nd) AS vv
            FROM gr$i r CROSS JOIN gn$i n CROSS JOIN gmb b),
          gm$i AS MATERIALIZED (SELECT n.p1, n.m1, n.m2, v.vv FROM gn$i n CROSS JOIN gv$i v)"""
  }.mkString(",\n")
  // x_bradley_terry: 6 unrolled MM stages — per-term round-12 n/(p_i+p_j)
  // DECIMAL-summed, W/den round-12, then the L1 normalize
  private val btIters = (1 to 6).map { i =>
    val p = s"bp${i - 1}"
    s"""den$i AS MATERIALIZED (SELECT nm.i,
                      sum(CAST(round(CAST(nm.n AS DOUBLE) / (pi.pr + pj.pr), 12) AS DECIMAL(28,12))) AS den
                    FROM nm JOIN $p pi ON nm.i = pi.i JOIN $p pj ON nm.j = pj.i
                    GROUP BY nm.i),
          praw$i AS MATERIALIZED (SELECT bw.i, round(CAST(bw.tw AS DOUBLE) / CAST(d.den AS DOUBLE), 12) AS praw
                     FROM bigw bw JOIN den$i d ON bw.i = d.i),
          ssum$i AS (SELECT CAST(sum(CAST(praw AS DECIMAL(28,12))) AS DOUBLE) AS s FROM praw$i),
          bp$i AS MATERIALIZED (SELECT i, round(praw / s, 12) AS pr FROM praw$i CROSS JOIN ssum$i)"""
  }.mkString(",\n")
  // x_kmeans: 3 unrolled Lloyd assign/update stage pairs + the final
  // assignment — argmin by (round-6 d², cid), per-(cid, dim) floor-6
  // decimal means rebuilt into centroid lists in dim order
  private val kmD2 = (c: String) =>
    s"list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, $c.cv) + list_dot_product($c.cv, $c.cv)"
  private val kmStages = (1 to 3).map { i =>
    val p = i - 1
    s"""asg$i AS MATERIALIZED (SELECT vec_id, v, cid, d2 FROM (
            SELECT e.vec_id, e.v, c.cid, ${kmD2("c")} AS d2,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(${kmD2("c")}, 6), c.cid) AS rn
            FROM kev e CROSS JOIN kc$p c) WHERE rn = 1),
          upd$i AS MATERIALIZED (SELECT a.cid, d.dim,
              round(CAST(sum(CAST(floor(a.v[d.dim] * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
                / count(*), 12) AS m
            FROM asg$i a CROSS JOIN kdims d GROUP BY 1, 2),
          kc$i AS MATERIALIZED (SELECT cid, list(m ORDER BY dim) AS cv FROM upd$i GROUP BY 1)"""
  }.mkString(",\n")
  // shared k-means oracle prelude (x_kmeans, x_silhouette): the fit
  // replayed once — init + 3 unrolled Lloyd rounds ending at kc3
  private val kmPrelude =
    s"""kev AS MATERIALIZED (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          kdims AS (SELECT unnest(generate_series(1, 64)) AS dim),
          kc0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
                 FROM kev ORDER BY vec_id LIMIT 8),
          $kmStages"""
  /** The shared PCA oracle prelude: decimal-exact second moments, two
    * 16-stage unrolled power iterations (w = first component, u = second
    * after Hotelling deflation), per-vector decimal projections in
    * `proj(vec_id, p1, p2)`. `tail` either starts with a SELECT (the
    * final query) or with ", cte AS (...)" to extend the WITH chain.
    */
  private def pcaOracle(tail: String): String = {
    def stages(cn: String, p: String) = (1 to 16).map { k =>
      val prev = if (k == 1) s"${p}0" else s"$p${k - 1}"
      s"""$p${k}r AS MATERIALIZED (
            SELECT $cn.i, CAST(sum(CAST(floor($cn.v * w.x * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS x
            FROM $cn JOIN $prev w ON $cn.j = w.i GROUP BY $cn.i),
          $p$k AS MATERIALIZED (
            SELECT i, x / (SELECT sqrt(CAST(sum(CAST(floor(x * x * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE)) FROM $p${k}r) AS x
            FROM $p${k}r)"""
    }.mkString(",\n")
    s"""WITH dims AS MATERIALIZED (
              SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim, CAST(embedding[i] AS DOUBLE) AS x
              FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
            p AS (SELECT a.dim AS i, b.dim AS j,
                    sum(CAST(a.x AS DECIMAL(18,8)) * CAST(b.x AS DECIMAL(18,8))) AS s
                  FROM dims a JOIN dims b USING (vec_id) GROUP BY 1, 2),
            m AS MATERIALIZED (
              SELECT dim, count(*) AS n, CAST(sum(CAST(x AS DECIMAL(18,8))) AS DOUBLE) AS s1
              FROM dims GROUP BY 1),
            c AS MATERIALIZED (
              SELECT p.i, p.j, (CAST(p.s AS DOUBLE) - ma.s1 * mb.s1 / ma.n) / ma.n AS v
              FROM p JOIN m ma ON p.i = ma.dim JOIN m mb ON p.j = mb.dim),
            w0 AS (SELECT CAST(t.i AS INTEGER) AS i, 1.0 / sqrt(64.0) AS x FROM range(64) t(i)),
            ${stages("c", "w")},
            l1r AS (SELECT c.i, CAST(sum(CAST(floor(c.v * w.x * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS x
                    FROM c JOIN w16 w ON c.j = w.i GROUP BY c.i),
            l1 AS (SELECT CAST(sum(CAST(floor(w.x * r.x * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS v
                   FROM w16 w JOIN l1r r ON w.i = r.i),
            c2 AS MATERIALIZED (
              SELECT c.i, c.j, c.v - l1.v * wa.x * wb.x AS v
              FROM c JOIN w16 wa ON c.i = wa.i JOIN w16 wb ON c.j = wb.i CROSS JOIN l1),
            u0 AS (SELECT CAST(t.i AS INTEGER) AS i, 1.0 / sqrt(64.0) AS x FROM range(64) t(i)),
            ${stages("c2", "u")},
            proj AS (SELECT d.vec_id,
                       CAST(sum(CAST(floor(w16.x * (d.x - m.s1 / m.n) * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS p1,
                       CAST(sum(CAST(floor(u16.x * (d.x - m.s1 / m.n) * 1e12 + 0.5) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS p2
                     FROM dims d JOIN w16 ON d.dim = w16.i JOIN u16 ON d.dim = u16.i JOIN m ON d.dim = m.dim
                     GROUP BY 1)
       $tail"""
  }

  /** Per user: `xName` = the user's events, then the `more` aggregates,
    * then the purchase-heavy label `y` (as `yType`): 1 iff purchases are
    * at least a fifth of the user's events, the integer test
    * 5·purchases ≥ events (every user purchases something in this
    * corpus, so presence alone is degenerate).
    */
  private[graft] def purchaseLabel(s: SparkSession, dir: String, xName: String = "x",
      more: Seq[Column] = Nil, yType: String = "int"): DataFrame =
    events(s, dir).groupBy("user_id").agg(count(lit(1)).as(xName),
      more :+ (sum((col("event_type") === "purchase").cast("long")) * 5 >= count(lit(1)))
        .cast(yType).as("y"): _*)

  /** The oracle side of [[purchaseLabel]]: CTE `per(user_id, xName, more…, y)`. */
  private def purchaseLabelSql(xName: String = "x", more: Seq[String] = Nil): String =
    s"""per AS (SELECT user_id, count(*) AS $xName,${more.map(m => s"\n                         $m,").mkString}
                         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5 >= count(*)
                              THEN 1 ELSE 0 END AS y
                       FROM events GROUP BY 1)"""

  /** The histogram lower median of `df`'s column `c`: one row, `med` —
    * the least value whose cumulative count reaches half the rows.
    */
  private def lowerMedian(df: DataFrame, c: String): DataFrame = {
    val h = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("f"))
    val wc = Window.partitionBy(constKey(col("v"))).orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    h.withColumn("cum", sum(col("f")).over(wc))
      .withColumn("n", sum(col("f")).over(Window.partitionBy(constKey(col("f")))))
      .filter(lit(2L) * col("cum") >= col("n"))
      .agg(min(col("v")).as("med"))
  }

  /** The oracle side of [[lowerMedian]] over `per`'s column `c`: CTEs
    * `h<tag>(v, f)`, `c<tag>(v, cum, n)` and `m<tag>(med_<c>)`.
    */
  private def lowerMedianSql(tag: String, c: String): String =
    s"""h$tag AS (SELECT $c AS v, count(*) AS f FROM per GROUP BY 1),
                c$tag AS (SELECT v, CAST(sum(f) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                         CAST(sum(f) OVER () AS BIGINT) AS n FROM h$tag),
                m$tag AS (SELECT min(v) AS med_$c FROM c$tag WHERE 2 * cum >= n)"""

  /** The urgent-order rate model's holdout: orders ⋈ customer with `y` =
    * 1 for a 1-URGENT order, the per-(nation, segment) urgent counts `u`
    * of `tot` orders taken from the even order keys, and the odd-key
    * orders joined to their cell's counts (the 125-cell table is
    * broadcast): (c_nationkey, c_mktsegment, o_orderkey, y, u, tot).
    * [[urgentP]] is the rate each holdout order is scored with.
    */
  private[graft] def urgentHoldout(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").join(
      t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_nationkey"), col("c_mktsegment")), "o_custkey")
      .select(col("o_orderkey"), col("c_nationkey"), col("c_mktsegment"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("y"))
    val rates = o.filter(col("o_orderkey") % 2 === 0)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(sum(col("y")).as("u"), count(lit(1)).as("tot"))
    o.filter(col("o_orderkey") % 2 === 1)
      .join(broadcast(rates), Seq("c_nationkey", "c_mktsegment"))
  }

  /** The predicted urgent rate of an [[urgentHoldout]] row. */
  private[graft] def urgentP: Column = col("u").cast("double") / col("tot").cast("double")

  /** The oracle side of [[urgentHoldout]]: CTEs `o`, `rates` and
    * `ho(y, p)`, p the predicted rate of each odd-key order.
    */
  private val urgentHoldoutSql =
    """o AS (SELECT o_orderkey, c_nationkey, c_mktsegment,
                             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
                      FROM orders JOIN customer ON o_custkey = c_custkey),
                rates AS (SELECT c_nationkey, c_mktsegment,
                                 CAST(sum(y) AS BIGINT) AS u, count(*) AS tot
                          FROM o WHERE o_orderkey % 2 = 0 GROUP BY 1, 2),
                ho AS (SELECT y, CAST(u AS DOUBLE) / CAST(tot AS DOUBLE) AS p
                       FROM o JOIN rates USING (c_nationkey, c_mktsegment)
                       WHERE o_orderkey % 2 = 1)"""

  /** Each event type's daily series over the zero-filled type×day grid
    * as deviations from its mean: `x(event_type, nd, d, dev)`, nd the
    * type's day count and d the day as a date, and `den(event_type,
    * den)`, the decimal sum of the floor-6 squared deviations.
    */
  private[graft] def typeDayDevs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val full = typeDayCounts(s, dir)
    val mu = full.groupBy("event_type").agg(sum(col("c")).as("sc"), count(lit(1)).as("nd"))
      .select(col("event_type"), col("nd"),
        (col("sc").cast("double") / col("nd").cast("double")).as("mu"))
    val x = full.join(broadcast(mu), "event_type")
      .select(col("event_type"), col("nd"), to_date(col("day")).as("d"),
        (col("c").cast("double") - col("mu")).as("dev"))
    (x, x.groupBy("event_type").agg(sum(f6d(col("dev") * col("dev"))).as("den")))
  }

  /** The lagged autocovariance numerators over [[typeDayDevs]]' `x`: per
    * (event_type, lag), the decimal sum of the floor-6 products
    * dev(d)·dev(d + lag). (type, day + lag) is an equi-key: a hash join,
    * never a filtered grid.
    */
  private def lagNums(x: DataFrame, lags: Seq[Int]): DataFrame = {
    val lagged = x.select(col("event_type").as("et2"), col("d").as("d2"), col("dev").as("dev2"))
    x.withColumn("lag", explode(array(lags.map(lit): _*)))
      .join(lagged,
        col("event_type") === col("et2") && col("d2") === date_add(col("d"), col("lag")))
      .groupBy("event_type", "lag").agg(sum(f6d(col("dev") * col("dev2"))).as("num"))
  }

  /** The oracle side of [[typeDayDevs]]: [[typeDayCountsSql]] plus CTEs
    * `mu`, `x(event_type, d, dev)` and `den(event_type, den)`.
    */
  private val typeDayDevsSql =
    s"""$typeDayCountsSql,
                 mu AS (SELECT event_type, CAST(sum(c) AS DOUBLE) / count(*) AS mu FROM f GROUP BY 1),
                 x AS (SELECT f.event_type, CAST(f.day AS DATE) AS d, CAST(c AS DOUBLE) - mu AS dev
                       FROM f JOIN mu USING (event_type)),
                 den AS (SELECT event_type,
                           sum(CAST(floor(dev * dev * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS den
                         FROM x GROUP BY 1)"""

  /** The oracle side of [[lagNums]]: CTE `num(event_type, lag, num)`. */
  private def lagNumsSql(lags: Seq[Int]): String =
    s"""num AS (SELECT a.event_type, l.lag,
                           sum(CAST(floor(a.dev * b.dev * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS num
                         FROM x a CROSS JOIN (VALUES ${lags.map(l => s"($l)").mkString(", ")}) AS l(lag)
                         JOIN x b ON b.event_type = a.event_type AND b.d = a.d + l.lag
                         GROUP BY 1, 2)"""

  /** Each event type's daily counts with their 0-based day index:
    * (event_type, day, c, idx).
    */
  private def indexedDaily(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("idx", row_number().over(
        Window.partitionBy("event_type").orderBy("day")) - 1)

  /** An [[indexedDaily]] series as one array per type: (event_type, a),
    * `a` the (idx, c) structs in day order.
    */
  private def dailyArrays(dc: DataFrame): DataFrame =
    dc.groupBy("event_type").agg(sort_array(collect_list(struct(col("idx"), col("c")))).as("a"))

  /** The oracle side of [[indexedDaily]]: CTEs `dc(event_type, day, c)`
    * and `ix(event_type, day, c, idx)`.
    */
  private val indexedDailySql =
    s"""dc AS (SELECT event_type, $dayE AS day, count(*) AS c
                       FROM events GROUP BY 1, 2),
                ix AS (SELECT event_type, day, c,
                         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS idx
                       FROM dc)"""

  /** Per event type, the count and floor-4 mean of a forecast's floor-6
    * `abs_err` column (decimal-summed): (event_type, n_forecasts, mae).
    */
  private def forecastMae(errs: DataFrame): DataFrame =
    errs.groupBy("event_type").agg(
        count(lit(1)).as("n_forecasts"),
        (floor(sum(col("abs_err").cast("decimal(28,6)")).cast("double")
          / count(lit(1)).cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mae"))
      .orderBy("event_type")

  /** The least-squares moments of `xy`'s floor-6 (x, y) points, each a
    * decimal sum: n, sx, sy and, of the floor-6 products, sxy and sxx.
    */
  private def olsMoments(xy: DataFrame): DataFrame =
    xy.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(28,6)")).cast("double").as("sy"),
      sum(f6(col("x") * col("y")).cast("decimal(28,6)")).cast("double").as("sxy"),
      sum(f6(col("x") * col("x")).cast("decimal(28,6)")).cast("double").as("sxx"))

  /** The oracle side of [[olsMoments]] over CTE `xy`: CTE `st`. */
  private val olsMomentsSql =
    """st AS (SELECT count(*) AS n,
                          CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
                          CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
                          CAST(sum(CAST(floor(x * y * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
                          CAST(sum(CAST(floor(x * x * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sxx
                        FROM xy)"""

  def queries: Seq[Query] = Seq(
    // The CCNet/fastText quality-filter training loop as ONE query:
    // train the shared IRLS classifier to separate the first ten
    // sources from the rest using only the SURFACE quality score
    // (stopword/punct/length heuristics, bucketed ×20), then report the
    // fit and its threshold accuracy — the "cheap classifier gates the
    // corpus" pattern. The corpus contributes one histogram shuffle;
    // training traffic is five numbers per Newton step.
    Query("x_quality_classifier", (s, dir) => {
      val feats = t(s, dir, "documents").select(
        floor(TF.qualityScore(col("text")) * lit(20.0)).cast("int").as("x"),
        (regexp_extract(col("source"), "\\d+", 0).cast("int") < 10).cast("int").as("y"))
      val (hist, coef) = graft.ext.Stats.logisticIrls(feats, col("x"), col("y"), 3)
      val fD = col("f").cast("double")
      hist.crossJoin(broadcast(coef))
        .withColumn("p", graft.ext.Stats.logisticP(col("x")))
        .agg(sum(col("f")).as("n"), sum(col("f") * col("y")).as("n_pos"),
          max(col("b0")).as("b0"), max(col("b1")).as("b1"),
          sum(when((col("p") >= 0.5).cast("int") === col("y"), col("f"))
            .otherwise(lit(0L))).as("hits"))
        .select(col("n"), col("n_pos"), col("b0"), col("b1"),
          f6(col("hits").cast("double") / col("n").cast("double")).as("accuracy"))
    },
      // quality classifier: the x_quality_score quality expr bucketed
      // ×20, source-id label, the shared 3-stage logit chain
      s"""WITH feats AS (SELECT
                  CAST(floor($qualityE * 20.0) AS INTEGER) AS x,
                  CASE WHEN CAST(regexp_extract(source, '\\d+') AS INTEGER) < 10 THEN 1 ELSE 0 END AS y
                FROM documents),
                h AS (SELECT x, y, count(*) AS f FROM feats GROUP BY 1, 2),
                cf0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                $logitIters,
                ag AS (SELECT CAST(sum(h.f) AS BIGINT) AS n,
                         CAST(sum(h.f * h.y) AS BIGINT) AS n_pos,
                         max(c.b0) AS b0, max(c.b1) AS b1,
                         CAST(sum(CASE WHEN (CASE WHEN $logitP >= 0.5 THEN 1 ELSE 0 END) = h.y
                                  THEN h.f ELSE 0 END) AS BIGINT) AS hits
                       FROM h CROSS JOIN cf3 c)
           SELECT n, n_pos, b0, b1,
                  floor(CAST(hits AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS accuracy
           FROM ag"""),

    // Learning curve for the quality classifier: train the shared IRLS
    // fit on 25/50/75/100% deterministic doc slices (doc_id mod 4),
    // score the FULL corpus with each — "is more labeled data still
    // buying accuracy?", the budget question every annotation pipeline
    // asks. Four histogram-scale fits; evaluation is one shared
    // histogram × four broadcast coefficient rows.
    Query("x_learning_curve", (s, dir) => {
      val docsAll = t(s, dir, "documents")
      // ONE corpus pass where the per-slice form ran five (4 fit
      // histograms + the eval histogram): the joint histogram is built per
      // doc_id%4 SLICE BUCKET, collected once (value-grid × 4 cells —
      // metadata-scale), and each fit's histogram is the driver-side merge
      // of buckets < k; the eval histogram is the merge of all four. The
      // merged cells are exact integer counts, so every fit sees exactly
      // the frequencies the per-slice scan produced, and the Newton steps
      // ride Stats.irlsSolve (the logisticIrls driver loop — identical
      // algebra, oracle-pinned).
      val bucketed = docsAll.select(
          (col("doc_id") % 4).as("b"),
          floor(TF.qualityScore(col("text")) * lit(20.0)).cast("int").as("x"),
          (regexp_extract(col("source"), "\\d+", 0).cast("int") < 10).cast("int").as("y"))
        .groupBy("b", "x", "y").agg(count(lit(1)).as("f"))
        .collect()
      // a null bucket (null doc_id) is evaluated but in no fit
      def mergedCells(keep: org.apache.spark.sql.Row => Boolean)
          : Map[(Option[Int], Option[Int]), Long] =
        bucketed.iterator.filter(keep)
          .map(r => ((if (r.isNullAt(1)) None else Some(r.getInt(1)),
            if (r.isNullAt(2)) None else Some(r.getInt(2))), r.getLong(3)))
          .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val evalCells = mergedCells(_ => true)
      val evh = s.createDataFrame(
        java.util.Arrays.asList(evalCells.toSeq.map { case ((x, y), f) =>
          org.apache.spark.sql.Row(x.map(Int.box).orNull, y.map(Int.box).orNull, f)
        }: _*),
        org.apache.spark.sql.types.StructType.fromDDL("x INT, y INT, f BIGINT"))
      val frames = Seq(1, 2, 3, 4).map { k =>
        val fitCells = mergedCells(r => !r.isNullAt(0) && r.getLong(0) < k).toArray.map {
          case ((x, y), f) => (x.map(_.toDouble), y.map(_.toDouble), f.toDouble)
        }
        val (b0, b1) = graft.ext.Stats.irlsSolve(fitCells, 3)
        val coef = s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(b0, b1)),
          org.apache.spark.sql.types.StructType.fromDDL("b0 DOUBLE, b1 DOUBLE"))
        evh.crossJoin(broadcast(coef))
          .withColumn("p", graft.ext.Stats.logisticP(col("x")))
          .agg(sum(col("f")).as("n_eval"),
            max(col("b0")).as("b0"), max(col("b1")).as("b1"),
            sum(when((col("p") >= 0.5).cast("int") === col("y"), col("f"))
              .otherwise(lit(0L))).as("hits"))
          .select(lit(k * 25).as("train_pct"), col("n_eval"), col("b0"), col("b1"),
            f6(col("hits").cast("double") / col("n_eval").cast("double")).as("accuracy"))
      }
      frames.reduce(_.unionByName(_)).orderBy("train_pct")
    },
      // learning curve: four independent logitChain unrolls over the
      // mod-4 training slices, one shared eval histogram
      s"""WITH feats AS (SELECT
                  CAST(floor($qualityE * 20.0) AS INTEGER) AS x,
                  CASE WHEN CAST(regexp_extract(source, '\\d+') AS INTEGER) < 10 THEN 1 ELSE 0 END AS y,
                  CAST(doc_id % 4 AS INTEGER) AS m
                FROM documents),
                he AS (SELECT x, y, count(*) AS f FROM feats GROUP BY 1, 2),
                h1 AS (SELECT x, y, count(*) AS f FROM feats WHERE m < 1 GROUP BY 1, 2),
                h2 AS (SELECT x, y, count(*) AS f FROM feats WHERE m < 2 GROUP BY 1, 2),
                h3 AS (SELECT x, y, count(*) AS f FROM feats WHERE m < 3 GROUP BY 1, 2),
                h4 AS (SELECT x, y, count(*) AS f FROM feats GROUP BY 1, 2),
                ca0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                cb0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                cc0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                cd0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                ${logitChain("h1", "ca")},
                ${logitChain("h2", "cb")},
                ${logitChain("h3", "cc")},
                ${logitChain("h4", "cd")},
                ev AS (
                  SELECT 25 AS train_pct, CAST(sum(h.f) AS BIGINT) AS n_eval,
                         max(c.b0) AS b0, max(c.b1) AS b1,
                         CAST(sum(CASE WHEN (CASE WHEN $logitP >= 0.5 THEN 1 ELSE 0 END) = h.y THEN h.f ELSE 0 END) AS BIGINT) AS hits
                  FROM he h CROSS JOIN ca3 c
                  UNION ALL
                  SELECT 50, CAST(sum(h.f) AS BIGINT), max(c.b0), max(c.b1),
                         CAST(sum(CASE WHEN (CASE WHEN $logitP >= 0.5 THEN 1 ELSE 0 END) = h.y THEN h.f ELSE 0 END) AS BIGINT)
                  FROM he h CROSS JOIN cb3 c
                  UNION ALL
                  SELECT 75, CAST(sum(h.f) AS BIGINT), max(c.b0), max(c.b1),
                         CAST(sum(CASE WHEN (CASE WHEN $logitP >= 0.5 THEN 1 ELSE 0 END) = h.y THEN h.f ELSE 0 END) AS BIGINT)
                  FROM he h CROSS JOIN cc3 c
                  UNION ALL
                  SELECT 100, CAST(sum(h.f) AS BIGINT), max(c.b0), max(c.b1),
                         CAST(sum(CASE WHEN (CASE WHEN $logitP >= 0.5 THEN 1 ELSE 0 END) = h.y THEN h.f ELSE 0 END) AS BIGINT)
                  FROM he h CROSS JOIN cd3 c)
           SELECT train_pct, n_eval, b0, b1,
                  floor(CAST(hits AS DOUBLE) / CAST(n_eval AS DOUBLE) * 1e6 + 0.5) / 1e6 AS accuracy
           FROM ev ORDER BY train_pct"""),

    // Cochran's Q — the k-classifier extension of x_mcnemar (k = 3):
    // activity, day-span, and value-mass median-threshold proxies
    // against the purchase-share label. Per-user correct-count u_i and
    // per-classifier totals T_j are exact integers off one pass;
    // Q = (k−1)·(k·ΣT² − (ΣT)²)/(k·Σu − Σu²) is one floor-6 division.
    Query("x_cochran_q", (s, dir) => {
      val per = purchaseLabel(s, dir, "tot", Seq(countDistinct(col("day")).as("days"),
        sum(col("value").cast("decimal(18,4)")).as("vsum")))
      val mt = lowerMedian(per, "tot").select(col("med").as("med_tot"))
      val md = lowerMedian(per, "days").select(col("med").as("med_days"))
      val mv = lowerMedian(per, "vsum").select(col("med").as("med_vsum"))
      val lab = per.crossJoin(broadcast(mt)).crossJoin(broadcast(md)).crossJoin(broadcast(mv))
        .withColumn("ok_a", ((col("tot") >= col("med_tot")).cast("int") === col("y")).cast("long"))
        .withColumn("ok_b", ((col("days") >= col("med_days")).cast("int") === col("y")).cast("long"))
        .withColumn("ok_c", ((col("vsum") >= col("med_vsum")).cast("int") === col("y")).cast("long"))
        .withColumn("u", col("ok_a") + col("ok_b") + col("ok_c"))
      val ag = lab.agg(
        count(lit(1)).as("n_users"),
        sum(col("ok_a")).as("ta"), sum(col("ok_b")).as("tb"), sum(col("ok_c")).as("tc"),
        sum(col("u")).as("su"), sum(col("u") * col("u")).as("suu"))
      def sq(c: Column) = c.cast("double") * c.cast("double")
      val st = sq(col("ta")) + sq(col("tb")) + sq(col("tc")) // square AFTER the
      val tsum = (col("ta") + col("tb") + col("tc")).cast("double") // cast: T_j² wraps a long at 3e9 users
      ag.select(col("n_users"), col("ta"), col("tb"), col("tc"),
        f6(lit(2.0) * (lit(3.0) * st - tsum * tsum)
          / (lit(3.0) * col("su").cast("double") - col("suu").cast("double"))).as("q"))
    },
      // Cochran's Q: three median-threshold proxies, exact integer
      // T_j/u_i sums, one floor-6 division
      s"""WITH ${purchaseLabelSql("tot", Seq(s"count(DISTINCT $dayE) AS days",
                  "sum(CAST(value AS DECIMAL(18,4))) AS vsum"))},
                ${lowerMedianSql("t", "tot")},
                ${lowerMedianSql("d", "days")},
                ${lowerMedianSql("v", "vsum")},
                lab AS (SELECT
                          CASE WHEN (CASE WHEN tot >= med_tot THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END AS ok_a,
                          CASE WHEN (CASE WHEN days >= med_days THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END AS ok_b,
                          CASE WHEN (CASE WHEN vsum >= med_vsum THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END AS ok_c
                        FROM per CROSS JOIN mt CROSS JOIN md CROSS JOIN mv),
                ag AS (SELECT count(*) AS n_users,
                         CAST(sum(ok_a) AS BIGINT) AS ta, CAST(sum(ok_b) AS BIGINT) AS tb,
                         CAST(sum(ok_c) AS BIGINT) AS tc,
                         CAST(sum(ok_a + ok_b + ok_c) AS BIGINT) AS su,
                         CAST(sum((ok_a + ok_b + ok_c) * (ok_a + ok_b + ok_c)) AS BIGINT) AS suu
                       FROM lab)
           SELECT n_users, ta, tb, tc,
                  floor(2.0 * (3.0 * (CAST(ta AS DOUBLE) * CAST(ta AS DOUBLE)
                        + CAST(tb AS DOUBLE) * CAST(tb AS DOUBLE)
                        + CAST(tc AS DOUBLE) * CAST(tc AS DOUBLE))
                      - CAST(ta + tb + tc AS DOUBLE) * CAST(ta + tb + tc AS DOUBLE))
                    / (3.0 * CAST(su AS DOUBLE) - CAST(suu AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS q
           FROM ag"""),

    // Brier score + threshold accuracy of the fitted IRLS model — the
    // probabilistic-calibration eval (x_calibration bins observed rates;
    // this scores the model proper). Both metrics are decimal sums over
    // the SAME joint histogram the fit used, with the identical clamped
    // floor-6 sigmoid — per-cell (p−y)² and the 0.5-threshold hit flag.
    Query("x_brier", (s, dir) => {
      val per = purchaseLabel(s, dir)
      val (hist, coef) = graft.ext.Stats.logisticIrls(per, col("x"), col("y"), 3)
      val fD = col("f").cast("double"); val yD = col("y").cast("double")
      hist.crossJoin(broadcast(coef))
        .withColumn("p", graft.ext.Stats.logisticP(col("x")))
        .agg(sum(col("f")).as("n"),
          sum(f6d(fD * (col("p") - yD) * (col("p") - yD))).cast("double").as("sb"),
          sum(when((col("p") >= 0.5).cast("int") === col("y"), col("f"))
            .otherwise(lit(0L))).as("hits"))
        .select(col("n"),
          f6(col("sb") / col("n").cast("double")).as("brier"),
          f6(col("hits").cast("double") / col("n").cast("double")).as("accuracy"))
    },
      // Brier/accuracy: the same 3-stage logit chain, then per-cell
      // (p−y)² decimal sums and the 0.5-threshold hit count at cf3
      s"""WITH ${purchaseLabelSql()},
                h AS (SELECT x, y, count(*) AS f FROM per GROUP BY 1, 2),
                cf0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                $logitIters,
                ag AS (SELECT CAST(sum(h.f) AS BIGINT) AS n,
                         CAST(sum(CAST(floor(CAST(h.f AS DOUBLE)
                           * ($logitP - CAST(h.y AS DOUBLE)) * ($logitP - CAST(h.y AS DOUBLE))
                           * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sb,
                         CAST(sum(CASE WHEN (CASE WHEN $logitP >= 0.5 THEN 1 ELSE 0 END) = h.y
                                  THEN h.f ELSE 0 END) AS BIGINT) AS hits
                       FROM h CROSS JOIN cf3 c)
           SELECT n,
                  floor(sb / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS brier,
                  floor(CAST(hits AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS accuracy
           FROM ag"""),

    // Information-gain feature ranking for the purchase-share label —
    // the feature-selection pass before any model fit: for each bucketed
    // behavioral feature (activity 20-event bins, active-day span,
    // weekend-share decile), IG = H(Y) − H(Y|X) from exact (value,
    // label) counts; −p·ln p terms floor-9 + decimal sums, conditional
    // entropies weighted by value mass. One per-user pass; each
    // feature's grid is bounded by its bucket count at any corpus size.
    Query("x_info_gain", (s, dir) => {
      val per = purchaseLabel(s, dir, more = Seq(countDistinct(col("day")).as("days"),
        sum(dayofweek(to_date(col("day"))).isin(1, 7).cast("long")).as("w")))
        .withColumn("act_bucket", least(floor(col("x").cast("double") / lit(20.0)), lit(5.0)).cast("int"))
        .withColumn("day_bucket", least(col("days"), lit(10L)))
        .withColumn("wknd_bucket", floor(col("w").cast("double") * lit(10.0) / col("x").cast("double")).cast("int"))
        .localCheckpoint() // three feature grids + H(Y) read it
      val n0 = per.agg(count(lit(1)).as("n"))
      val hy = per.groupBy("y").agg(count(lit(1)).as("ny"))
        .crossJoin(broadcast(n0))
        .agg(sum(f9d(-(col("ny").cast("double") / col("n").cast("double"))
          * log(col("ny").cast("double") / col("n").cast("double")))).cast("double").as("h_y"))
      def ig(feature: String): DataFrame = {
        val vy = per.groupBy(col(feature).as("v"), col("y")).agg(count(lit(1)).as("nvy"))
        val v = vy.groupBy("v").agg(sum(col("nvy")).as("nv"))
        val hv = vy.join(v, "v")
          .groupBy("v").agg(max(col("nv")).as("nv"),
            sum(f9d(-(col("nvy").cast("double") / col("nv").cast("double"))
              * log(col("nvy").cast("double") / col("nv").cast("double")))).cast("double").as("hv"))
        val n = per.agg(count(lit(1)).as("n"))
        hv.crossJoin(broadcast(n))
          .agg(count(lit(1)).as("n_values"),
            sum(f9d(col("nv").cast("double") / col("n").cast("double") * col("hv")))
              .cast("double").as("h_cond"))
          .select(lit(feature).as("feature"), col("n_values"), col("h_cond"))
      }
      ig("act_bucket").unionByName(ig("day_bucket")).unionByName(ig("wknd_bucket"))
        .crossJoin(broadcast(hy))
        .select(col("feature"), col("n_values"),
          f6(col("h_y")).as("h_y"), f6(col("h_y") - col("h_cond")).as("info_gain"))
        .orderBy("feature")
    },
      // info gain: per-feature (value, label) grids, floor-9 −p·ln p
      // terms + decimal sums, three features unioned
      s"""WITH ${purchaseLabelSql(more = Seq(s"count(DISTINCT $dayE) AS days",
                  s"CAST(sum(CASE WHEN dayofweek(CAST($dayE AS DATE)) IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS w"))},
                fb AS (SELECT y,
                         CAST(least(floor(CAST(x AS DOUBLE) / 20.0), 5.0) AS INTEGER) AS act_bucket,
                         least(days, 10) AS day_bucket,
                         CAST(floor(CAST(w AS DOUBLE) * 10.0 / CAST(x AS DOUBLE)) AS INTEGER) AS wknd_bucket
                       FROM per),
                n0 AS (SELECT count(*) AS n FROM fb),
                hy AS (SELECT CAST(sum(CAST(floor(-(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
                           * ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS h_y
                       FROM (SELECT y, count(*) AS ny FROM fb GROUP BY 1) CROSS JOIN n0),
                gact AS (SELECT 'act_bucket' AS feature, act_bucket AS v, y, count(*) AS nvy FROM fb GROUP BY 2, 3),
                gday AS (SELECT 'day_bucket' AS feature, CAST(day_bucket AS INTEGER) AS v, y, count(*) AS nvy FROM fb GROUP BY 2, 3),
                gwk AS (SELECT 'wknd_bucket' AS feature, wknd_bucket AS v, y, count(*) AS nvy FROM fb GROUP BY 2, 3),
                g AS (SELECT * FROM gact UNION ALL SELECT * FROM gday UNION ALL SELECT * FROM gwk),
                vg AS (SELECT feature, v, CAST(sum(nvy) AS BIGINT) AS nv FROM g GROUP BY 1, 2),
                hv AS (SELECT g.feature, g.v, max(vg.nv) AS nv,
                         CAST(sum(CAST(floor(-(CAST(g.nvy AS DOUBLE) / CAST(vg.nv AS DOUBLE))
                           * ln(CAST(g.nvy AS DOUBLE) / CAST(vg.nv AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS hv
                       FROM g JOIN vg ON g.feature = vg.feature AND g.v = vg.v
                       GROUP BY 1, 2),
                cond AS (SELECT feature, count(*) AS n_values,
                           CAST(sum(CAST(floor(CAST(nv AS DOUBLE) / CAST(n AS DOUBLE) * hv * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS h_cond
                         FROM hv CROSS JOIN n0 GROUP BY 1)
           SELECT feature, n_values,
                  floor(h_y * 1e6 + 0.5) / 1e6 AS h_y,
                  floor((h_y - h_cond) * 1e6 + 0.5) / 1e6 AS info_gain
           FROM cond CROSS JOIN hy ORDER BY feature"""),

    // Active-learning uncertainty sampling: the 20 users the fitted
    // purchase-share model is LEAST sure about (|p − 0.5| smallest) —
    // the labeling-budget pick of a human-in-the-loop pipeline. Scoring
    // is a broadcast-coefficient map over the per-user pass; the top-20
    // is a TakeOrdered with (uncertainty, user_id) tiebreak.
    Query("x_uncertainty_sample", (s, dir) => {
      val per = purchaseLabel(s, dir)
      val (_, coef) = graft.ext.Stats.logisticIrls(per, col("x"), col("y"), 3)
      per.crossJoin(broadcast(coef))
        .withColumn("p", graft.ext.Stats.logisticP(col("x")))
        .withColumn("uncertainty", f6(abs(col("p") - lit(0.5))))
        .orderBy(col("uncertainty"), col("user_id")).limit(20)
        .select("user_id", "x", "y", "p", "uncertainty")
    },
      // uncertainty sampling: the logit chain, per-user p via per aliased
      // as h against cf3, |p−0.5| ascending top-20
      s"""WITH ${purchaseLabelSql()},
                h AS (SELECT x, y, count(*) AS f FROM per GROUP BY 1, 2),
                cf0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                $logitIters,
                sc AS (SELECT h.user_id, h.x, h.y, $logitP AS p
                       FROM per h CROSS JOIN cf3 c)
           SELECT user_id, x, y, p,
                  floor(abs(p - 0.5) * 1e6 + 0.5) / 1e6 AS uncertainty
           FROM sc ORDER BY uncertainty, user_id LIMIT 20"""),

    // Propensity-score ATT, two estimators in one pass — the
    // observational-causal completion of the CEM/CUPED/DiD family:
    // treatment = day-span ≥ median (the x_mcnemar B proxy), outcome =
    // per-user value mass, propensity fit by the shared IRLS core on the
    // activity histogram. (a) stratified: 5 propensity strata, per-
    // stratum treated−control mean gap weighted by treated mass
    // (strata lacking controls drop out — deterministic, both engines);
    // (b) IPW: controls weighted by the floor-6 odds p/(1−p). Every mean
    // rides decimal sums; the propensity is the SAME clamped floor-6
    // sigmoid the fit used, so the whole estimate replays exactly.
    Query("x_psm_att", (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(
        count(lit(1)).as("x"),
        countDistinct(col("day")).as("days"),
        sum(col("value").cast("decimal(18,4)")).as("yv"))
      val med = lowerMedian(per, "days").select(col("med").as("med_days"))
      val pt = per.crossJoin(broadcast(med))
        .withColumn("treat", (col("days") >= col("med_days")).cast("int"))
      val (_, coef) = graft.ext.Stats.logisticIrls(pt, col("x"), col("treat"), 3)
      val scored = pt.crossJoin(broadcast(coef))
        .withColumn("p", graft.ext.Stats.logisticP(col("x")))
        .withColumn("s", least(floor(col("p") * lit(5.0)), lit(4.0)).cast("int"))
        .withColumn("w", f6(col("p") / (lit(1.0) - col("p"))))
      val strat = scored.groupBy("s").agg(
        sum(col("treat")).as("nt"), sum(lit(1) - col("treat")).as("nc"),
        sum(when(col("treat") === 1, col("yv"))).as("yt"),
        sum(when(col("treat") === 0, col("yv"))).as("yc"))
        .filter(col("nt") > 0 && col("nc") > 0)
      val satt = strat
        .withColumn("gap", f6(col("yt").cast("double") / col("nt").cast("double")
          - col("yc").cast("double") / col("nc").cast("double")))
        .agg(sum(col("nt")).as("n_treated_used"),
          sum(f6d(col("gap") * col("nt").cast("double"))).cast("double").as("gsum"))
        .select(col("n_treated_used"),
          f6(col("gsum") / col("n_treated_used").cast("double")).as("att_strat"))
      val ipw = scored.agg(
        sum(col("treat")).as("n_treated"),
        sum(when(col("treat") === 1, col("yv"))).as("yt"),
        sum(when(col("treat") === 0, f6d(col("w") * col("yv").cast("double"))))
          .cast("double").as("wy"),
        sum(when(col("treat") === 0, col("w").cast("decimal(28,6)")))
          .cast("double").as("ws"))
        .select(col("n_treated"),
          f6(col("yt").cast("double") / col("n_treated").cast("double")
            - col("wy") / col("ws")).as("att_ipw"))
      satt.crossJoin(ipw)
    },
      // PSM ATT: median-days treatment, the shared logit chain fit on
      // (x, treat), per-user propensity via pt aliased as h against cf3,
      // stratified + IPW estimators off decimal sums
      s"""WITH per AS (SELECT user_id, count(*) AS x,
                         count(DISTINCT $dayE) AS days,
                         sum(CAST(value AS DECIMAL(18,4))) AS yv
                       FROM events GROUP BY 1),
                ${lowerMedianSql("d", "days")},
                pt AS (SELECT per.*, CASE WHEN days >= med_days THEN 1 ELSE 0 END AS treat
                       FROM per CROSS JOIN md),
                h AS (SELECT x, treat AS y, count(*) AS f FROM pt GROUP BY 1, 2),
                cf0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                $logitIters,
                scored AS (SELECT h.x, h.treat, h.yv, $logitP AS p
                           FROM pt h CROSS JOIN cf3 c),
                sc2 AS (SELECT *, CAST(least(floor(p * 5.0), CAST(4.0 AS DOUBLE)) AS INTEGER) AS s,
                          floor(p / (1.0 - p) * 1e6 + 0.5) / 1e6 AS w
                        FROM scored),
                strat AS (SELECT s, CAST(sum(treat) AS BIGINT) AS nt,
                            CAST(sum(1 - treat) AS BIGINT) AS nc,
                            sum(CASE WHEN treat = 1 THEN yv END) AS yt,
                            sum(CASE WHEN treat = 0 THEN yv END) AS yc
                          FROM sc2 GROUP BY 1
                          HAVING sum(treat) > 0 AND sum(1 - treat) > 0),
                gaps AS (SELECT nt,
                           floor((CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE)
                             - CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS gap
                         FROM strat),
                satt AS (SELECT CAST(sum(nt) AS BIGINT) AS n_treated_used,
                           CAST(sum(CAST(floor(gap * CAST(nt AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS gsum
                         FROM gaps),
                ipw AS (SELECT CAST(sum(treat) AS BIGINT) AS n_treated,
                          sum(CASE WHEN treat = 1 THEN yv END) AS yt,
                          CAST(sum(CASE WHEN treat = 0 THEN
                            CAST(floor(w * CAST(yv AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) END) AS DOUBLE) AS wy,
                          CAST(sum(CASE WHEN treat = 0 THEN CAST(w AS DECIMAL(28,6)) END) AS DOUBLE) AS ws
                        FROM sc2)
           SELECT satt.n_treated_used,
                  floor(gsum / CAST(n_treated_used AS DOUBLE) * 1e6 + 0.5) / 1e6 AS att_strat,
                  ipw.n_treated,
                  floor((CAST(ipw.yt AS DOUBLE) / CAST(ipw.n_treated AS DOUBLE) - wy / ws) * 1e6 + 0.5) / 1e6 AS att_ipw
           FROM satt CROSS JOIN ipw"""),

    // Benjamini–Hochberg FDR over the per-type weekend-shift z battery —
    // the multiple-testing control every per-type test family in this
    // engine implicitly needs. One pass gives exact (n, weekend) counts;
    // z is one double tree floor-9; the two-sided p comes from the
    // Abramowitz–Stegun 7.1.26 erf polynomial (|ε| ≤ 1.5e-7 — the SAME
    // closed form evaluated in both engines, then floor-9, the x_logit
    // exp precedent). The BH step-up (reject all i ≤ max{i : p_i ≤
    // iα/k}) and the adjusted p (running min of k·p/i from the tail)
    // run as windows over the |types| grid, partitioned by a constant —
    // bounded input at any corpus scale.
    Query("x_bh_fdr", (s, dir) => {
      val e = events(s, dir).withColumn("wknd",
        dayofweek(to_date(col("day"))).isin(1, 7).cast("long"))
      val per = e.groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("wknd")).as("w"))
      val g = per.agg(sum(col("n")).as("nn"), sum(col("w")).as("ww"))
      val p0 = col("ww").cast("double") / col("nn").cast("double")
      val zraw = (col("w").cast("double") / col("n").cast("double") - p0) /
        sqrt(p0 * (lit(1.0) - p0) / col("n").cast("double"))
      val x = abs(col("z")) / sqrt(lit(2.0))
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = lit(0.254829592) * tt + lit(-0.284496736) * tt * tt +
        lit(1.421413741) * tt * tt * tt + lit(-1.453152027) * tt * tt * tt * tt +
        lit(1.061405429) * tt * tt * tt * tt * tt
      val wp = per.crossJoin(broadcast(g))
        .withColumn("z", f9(zraw))
        .withColumn("p", f9(poly * exp(-x * x)))
      val wk = Window.partitionBy(constKey(col("p")))
      val wr = Window.partitionBy(constKey(col("p"))).orderBy(col("p"), col("event_type"))
      val ranked = wp
        .withColumn("i", row_number().over(wr))
        .withColumn("k", count(lit(1)).over(wk))
        .withColumn("rstar", max(when(col("p") <=
          col("i").cast("double") * lit(0.05) / col("k").cast("double"), col("i"))
          .otherwise(lit(0))).over(wk))
        .withColumn("padj_term",
          f9(col("k").cast("double") * col("p") / col("i").cast("double")))
      val wmin = Window.partitionBy(constKey(col("i"))).orderBy(col("i").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      ranked
        .withColumn("p_adj", least(lit(1.0), min(col("padj_term")).over(wmin)))
        .withColumn("rejected", col("i") <= col("rstar"))
        .select("event_type", "n", "z", "p", "p_adj", "rejected")
        .orderBy("event_type")
    },
      // BH-FDR: weekend-share z battery (DuckDB dayofweek is 0=Sunday),
      // A&S 7.1.26 erf tail, step-up + running-min adjust over the
      // constant-partitioned type grid
      s"""WITH e AS (SELECT event_type,
                        CASE WHEN dayofweek(CAST($dayE AS DATE)) IN (0, 6) THEN 1 ELSE 0 END AS wknd
                      FROM events),
                per AS (SELECT event_type, count(*) AS n, CAST(sum(wknd) AS BIGINT) AS w
                        FROM e GROUP BY 1),
                g AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(w) AS BIGINT) AS ww FROM per),
                wz AS (SELECT event_type, n, w,
                         floor((CAST(w AS DOUBLE) / CAST(n AS DOUBLE) - CAST(ww AS DOUBLE) / CAST(nn AS DOUBLE))
                           / sqrt(CAST(ww AS DOUBLE) / CAST(nn AS DOUBLE)
                               * (1.0 - CAST(ww AS DOUBLE) / CAST(nn AS DOUBLE))
                               / CAST(n AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS z
                       FROM per CROSS JOIN g),
                xt AS (SELECT event_type, n, z, abs(z) / sqrt(2.0) AS x,
                         1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
                       FROM wz),
                wpv AS (SELECT event_type, n, z,
                          floor((0.254829592 * t + -0.284496736 * t * t
                              + 1.421413741 * t * t * t + -1.453152027 * t * t * t * t
                              + 1.061405429 * t * t * t * t * t)
                            * exp(-x * x) * 1e9 + 0.5) / 1e9 AS p
                        FROM xt),
                rk AS (SELECT *, row_number() OVER (PARTITION BY 0 ORDER BY p, event_type) AS i,
                         count(*) OVER (PARTITION BY 0) AS k FROM wpv),
                rs AS (SELECT *,
                         max(CASE WHEN p <= CAST(i AS DOUBLE) * 0.05 / CAST(k AS DOUBLE)
                             THEN i ELSE 0 END) OVER (PARTITION BY 0) AS rstar,
                         floor(CAST(k AS DOUBLE) * p / CAST(i AS DOUBLE) * 1e9 + 0.5) / 1e9 AS padj_term
                       FROM rk),
                fin AS (SELECT *, least(CAST(1.0 AS DOUBLE), min(padj_term)
                          OVER (PARTITION BY 0 ORDER BY i DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_adj
                        FROM rs)
           SELECT event_type, n, z, p, p_adj, i <= rstar AS rejected
           FROM fin ORDER BY event_type"""),

    // deterministic stratified sample: ≤100 rows per event type, selected
    // by a per-row LCG hash so the sample is stable across engines and runs
    // (the distributed replacement for driver-side random sampling; at
    // scale the window is per-group and the hash keeps it skew-free)
    Query("x_stratified_sample", (s, dir) => {
      val h = (col("event_id") * lit(1103515245L) + lit(12345L)) % lit(1000000007L)
      val w = Window.partitionBy(col("event_type")).orderBy(h, col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 100)
        .orderBy("event_type", "rnk")
    },
      """WITH r AS (SELECT event_id, event_type,
                        row_number() OVER (PARTITION BY event_type
                          ORDER BY (event_id * 1103515245 + 12345) % 1000000007, event_id) AS rnk
                      FROM events)
           SELECT event_id, event_type, CAST(rnk AS INTEGER) AS rnk
           FROM r WHERE rnk <= 100 ORDER BY event_type, rnk"""),

    // k-anonymity full-domain generalization ladder (graft.ext.Anonymize):
    // quasi-identifiers (nation, segment, balance bucket) generalized
    // most-identifying-first until each row's equivalence class reaches
    // k=10 — per-level class sizes are domain-bounded aggregates broadcast
    // back onto the scan, the data itself never shuffles
    Query("x_k_anonymity", (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("bal_bucket", floor(col("c_acctbal") / 1000).cast("int"))
      graft.ext.Anonymize
        .fullDomainLadder(c, Seq("c_nationkey", "c_mktsegment", "bal_bucket"), k = 10)
        .select(col("c_custkey"), col("anon_level"),
          col("gen_c_nationkey"), col("gen_c_mktsegment"), col("gen_bal_bucket"))
        .orderBy("c_custkey")
    },
      """WITH b AS (SELECT c_custkey, c_nationkey, c_mktsegment,
                        CAST(floor(c_acctbal / 1000) AS INTEGER) AS bal_bucket
                      FROM customer),
                w AS (SELECT *,
                        count(*) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_bucket) AS cnt0,
                        count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS cnt1,
                        count(*) OVER (PARTITION BY c_nationkey) AS cnt2
                      FROM b),
                lv AS (SELECT *,
                        CASE WHEN cnt0 >= 10 THEN 0 WHEN cnt1 >= 10 THEN 1
                             WHEN cnt2 >= 10 THEN 2 ELSE 3 END AS anon_level
                      FROM w)
           SELECT c_custkey, CAST(anon_level AS INTEGER) AS anon_level,
                  CASE WHEN anon_level <= 2 THEN CAST(c_nationkey AS VARCHAR) ELSE '*' END AS gen_c_nationkey,
                  CASE WHEN anon_level <= 1 THEN c_mktsegment ELSE '*' END AS gen_c_mktsegment,
                  CASE WHEN anon_level <= 0 THEN CAST(bal_bucket AS VARCHAR) ELSE '*' END AS gen_bal_bucket
           FROM lv ORDER BY c_custkey"""),

    // l-diversity audit (k-anonymity's companion: a k-anonymous group
    // whose members all share one sensitive value still leaks it): per
    // quasi-identifier group, the count of DISTINCT sensitive values and
    // the l >= 3 verdict. One group-by; output is quasi-domain-bounded.
    Query("x_l_diversity", (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("bal_bucket", floor(col("c_acctbal") / 1000).cast("int"))
      c.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("group_size"),
          count_distinct(col("bal_bucket")).as("n_sensitive"))
        .withColumn("is_l_diverse", col("n_sensitive") >= 3)
        .orderBy("c_nationkey", "c_mktsegment")
    },
      // l-diversity: distinct sensitive values per quasi-identifier group
      """SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
                  count(DISTINCT CAST(floor(c_acctbal / 1000) AS INTEGER)) AS n_sensitive,
                  count(DISTINCT CAST(floor(c_acctbal / 1000) AS INTEGER)) >= 3 AS is_l_diverse
           FROM customer GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment"""),

    // class rebalancing: every class downsampled DETERMINISTICALLY to the
    // minority class size (per-class LCG-hash ranking — the stratified-
    // sample discipline; the min size is a broadcast 1-row aggregate).
    // id_sum pins the exact kept SET, not just its size
    Query("x_label_balance", (s, dir) => {
      val h = (col("event_id") * lit(1103515245L) + lit(12345L)) % lit(1000000007L)
      val w = Window.partitionBy(col("event_type")).orderBy(h, col("event_id"))
      val ranked = t(s, dir, "events").select(col("event_id"), col("event_type"))
        .withColumn("rnk", row_number().over(w))
      val mn = ranked.groupBy("event_type").agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("mn"))
      ranked.crossJoin(broadcast(mn))
        .filter(col("rnk") <= col("mn"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"), sum(col("event_id")).as("id_sum"))
        .orderBy("event_type")
    },
      """WITH r AS (SELECT event_id, event_type,
                        row_number() OVER (PARTITION BY event_type
                          ORDER BY (event_id * 1103515245 + 12345) % 1000000007, event_id) AS rnk
                      FROM events),
                m AS (SELECT min(n) AS mn FROM (SELECT count(*) AS n FROM events GROUP BY event_type))
           SELECT event_type, count(*) AS n_kept, CAST(sum(event_id) AS BIGINT) AS id_sum
           FROM r, m WHERE rnk <= mn GROUP BY event_type ORDER BY event_type"""),

    // winsorized statistics: per-type clip at the [p01, p99] bounds taken
    // as EXPLICIT order statistics — ranks ceil(n/100) and ceil(99n/100)
    // in integer arithmetic under a deterministic (value, id) order (same
    // interpolation-divergence rationale as a19) — with the |types|-row
    // bounds table broadcast back; DECIMAL-summed clipped mean + clip
    // counts — the outlier-robust mean to a19's outlier REPORT
    Query("x_winsorize", (s, dir) => {
      val e = events(s, dir).select("event_type", "event_id", "value")
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      val cnt = e.groupBy("event_type").agg(count(lit(1)).as("nn"))
      val p = e.withColumn("rnk", row_number().over(w))
        .join(broadcast(cnt), "event_type")
        .filter(col("rnk") === expr("(nn + 99) div 100") ||
          col("rnk") === expr("(99 * nn + 99) div 100"))
        .groupBy("event_type").agg(
          max(when(col("rnk") === expr("(nn + 99) div 100"), col("value"))).as("p01"),
          max(when(col("rnk") === expr("(99 * nn + 99) div 100"), col("value"))).as("p99"))
      e.join(broadcast(p), "event_type")
        .withColumn("clipped", least(greatest(col("value"), col("p01")), col("p99")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("clipped").cast("decimal(18,6)")).cast("double") / count(lit(1)), 4)
            .as("wins_mean"),
          sum(when(col("value") < col("p01") || col("value") > col("p99"), 1L)
            .otherwise(0L)).as("n_clipped"))
        .orderBy("event_type")
    },
      """WITH c AS (SELECT event_type, count(*) AS nn FROM events GROUP BY 1),
                r AS (SELECT e.event_type, e.value, c.nn,
                        row_number() OVER (PARTITION BY e.event_type ORDER BY e.value, e.event_id) AS rnk
                      FROM events e JOIN c USING (event_type)),
                p AS (SELECT event_type,
                        max(CASE WHEN rnk = (nn + 99) // 100 THEN value END) AS p01,
                        max(CASE WHEN rnk = (99 * nn + 99) // 100 THEN value END) AS p99
                      FROM r
                      WHERE rnk = (nn + 99) // 100 OR rnk = (99 * nn + 99) // 100
                      GROUP BY 1)
           SELECT e.event_type, count(*) AS n,
                  round(CAST(sum(CAST(least(greatest(e.value, p.p01), p.p99) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS wins_mean,
                  CAST(sum(CASE WHEN e.value < p.p01 OR e.value > p.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
           FROM events e JOIN p USING (event_type) GROUP BY e.event_type ORDER BY e.event_type"""),

    // Neyman-optimal sample allocation — the survey-sampling answer to
    // "how many docs should each source contribute to a fixed labeling /
    // eval budget": n_h ∝ N_h·σ_h (minimizes the stratified estimator's
    // variance), with σ_h = population sd of per-doc token counts. ONE
    // map-side-combined aggregate computes (N, Σx, Σx²) per source —
    // exact integer sums — and the allocation math runs on the
    // |sources|-row grid. σ floor-rounds to 6 dp, the N·σ products stay
    // DECIMAL-exact, so the shares are deterministic in both engines.
    Query("x_neyman_allocation", (s, dir) => {
      val toks = t(s, dir, "documents").select(col("source"),
        size(TF.tokens(col("text"))).cast("long").as("x"))
      val st = toks.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sq"))
      val sig = st.withColumn("sigma",
        floor(sqrt(col("sq").cast("double") / col("n_docs").cast("double")
          - (col("sx").cast("double") / col("n_docs").cast("double"))
            * (col("sx").cast("double") / col("n_docs").cast("double"))) * lit(1e6) + lit(0.5)) / lit(1e6))
        .withColumn("nsig",
          col("n_docs").cast("decimal(12,0)") * col("sigma").cast("decimal(12,6)"))
      val tot = sig.agg(sum(col("nsig")).as("den"))
      sig.crossJoin(tot)
        .select(col("source"), col("n_docs"), col("sigma"),
          (floor(col("nsig").cast("double") / col("den").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("alloc_frac"),
          floor(lit(1000.0) * col("nsig").cast("double") / col("den").cast("double") + lit(0.5))
            .cast("long").as("n_alloc"))
        .orderBy("source")
    },
      // Neyman: exact integer moments, decimal N·σ products
      s"""WITH x AS (SELECT source, CAST(len($toksE) AS BIGINT) AS x FROM documents),
                st AS (SELECT source, count(*) AS n_docs, CAST(sum(x) AS BIGINT) AS sx,
                              CAST(sum(x * x) AS BIGINT) AS sq
                       FROM x GROUP BY 1),
                sg AS (SELECT source, n_docs, floor(sqrt(CAST(sq AS DOUBLE) / n_docs
                           - (CAST(sx AS DOUBLE) / n_docs) * (CAST(sx AS DOUBLE) / n_docs))
                           * 1e6 + 0.5) / 1e6 AS sigma
                       FROM st),
                ns AS (SELECT source, n_docs, sigma,
                              CAST(n_docs AS DECIMAL(12,0)) * CAST(sigma AS DECIMAL(12,6)) AS nsig
                       FROM sg),
                tot AS (SELECT sum(nsig) AS den FROM ns)
           SELECT source, n_docs, sigma,
                  floor(CAST(nsig AS DOUBLE) / CAST(den AS DOUBLE) * 1e6 + 0.5) / 1e6 AS alloc_frac,
                  CAST(floor(1000.0 * CAST(nsig AS DOUBLE) / CAST(den AS DOUBLE) + 0.5) AS BIGINT) AS n_alloc
           FROM ns, tot ORDER BY source"""),

    // Welch two-sample t-test on event value between the parity A/B
    // groups — the parametric sibling of x_mannwhitney, entirely from
    // exact decimal sufficient sums (value has 2 dp; squares have 4 —
    // both exact in DECIMAL), then one deterministic double tree for
    // t and the Welch–Satterthwaite df.
    Query("x_welch_ttest", (s, dir) => {
      val e = events(s, dir)
        .withColumn("grp", pmod(col("user_id"), lit(2)))
        .withColumn("vd", col("value").cast("decimal(18,4)"))
      def side(g: Int, c: Column) = sum(when(col("grp") === g, c))
      val a = e.agg(
        side(0, lit(1L)).as("n0"), side(1, lit(1L)).as("n1"),
        side(0, col("vd")).cast("double").as("sv0"), side(1, col("vd")).cast("double").as("sv1"),
        side(0, col("vd") * col("vd")).cast("double").as("svv0"),
        side(1, col("vd") * col("vd")).cast("double").as("svv1"))
      val n0 = col("n0").cast("double"); val n1 = col("n1").cast("double")
      val m0 = col("sv0") / n0; val m1 = col("sv1") / n1
      val s20 = (col("svv0") - col("sv0") * col("sv0") / n0) / (n0 - lit(1.0))
      val s21 = (col("svv1") - col("sv1") * col("sv1") / n1) / (n1 - lit(1.0))
      val se2 = s20 / n0 + s21 / n1
      val tstat = (m0 - m1) / sqrt(se2)
      val dfW = se2 * se2 /
        (s20 / n0 * (s20 / n0) / (n0 - lit(1.0)) + s21 / n1 * (s21 / n1) / (n1 - lit(1.0)))
      a.select(col("n0"), col("n1"),
        (floor(m0 * lit(1e6) + lit(0.5)) / lit(1e6)).as("mean0"),
        (floor(m1 * lit(1e6) + lit(0.5)) / lit(1e6)).as("mean1"),
        (floor(tstat * lit(1e4) + lit(0.5)) / lit(1e4)).as("t_stat"),
        (floor(dfW * lit(1e2) + lit(0.5)) / lit(1e2)).as("df_welch"))
    },
      // Welch t: exact decimal sufficient sums, one double tree
      """WITH e AS (SELECT user_id % 2 AS grp, CAST(value AS DECIMAL(18,4)) AS vd FROM events),
                a AS (SELECT
                        CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                        CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                        CAST(sum(CASE WHEN grp = 0 THEN vd END) AS DOUBLE) AS sv0,
                        CAST(sum(CASE WHEN grp = 1 THEN vd END) AS DOUBLE) AS sv1,
                        CAST(sum(CASE WHEN grp = 0 THEN vd * vd END) AS DOUBLE) AS svv0,
                        CAST(sum(CASE WHEN grp = 1 THEN vd * vd END) AS DOUBLE) AS svv1
                      FROM e),
                d AS (SELECT n0, n1,
                        sv0 / CAST(n0 AS DOUBLE) AS m0, sv1 / CAST(n1 AS DOUBLE) AS m1,
                        (svv0 - sv0 * sv0 / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0) AS s20,
                        (svv1 - sv1 * sv1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS s21
                      FROM a),
                f AS (SELECT n0, n1, m0, m1, s20, s21,
                        s20 / CAST(n0 AS DOUBLE) + s21 / CAST(n1 AS DOUBLE) AS se2
                      FROM d)
           SELECT n0, n1,
                  floor(m0 * 1e6 + 0.5) / 1e6 AS mean0,
                  floor(m1 * 1e6 + 0.5) / 1e6 AS mean1,
                  floor((m0 - m1) / sqrt(se2) * 1e4 + 0.5) / 1e4 AS t_stat,
                  floor(se2 * se2 /
                    (s20 / CAST(n0 AS DOUBLE) * (s20 / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)
                     + s21 / CAST(n1 AS DOUBLE) * (s21 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) * 1e2 + 0.5) / 1e2 AS df_welch
           FROM f"""),

    // day-over-day distribution drift (feed monitoring): add-one-smoothed
    // event-type distributions per day on the (days × types) grid, then
    // KL(P_d ‖ P_{d-1}) and total-variation distance per day. Everything
    // after the one (day, type) count is grid-bounded (days × types
    // rows); per-term logs rounded 6 → DECIMAL sums, the LM discipline.
    Query("x_dist_drift", (s, dir) => {
      val c = events(s, dir).groupBy("day", "event_type")
        .agg(count(lit(1)).as("c"))
      val grid = c.select("day").distinct()
        .crossJoin(c.select("event_type").distinct())
      val full = grid.join(c, Seq("day", "event_type"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val n = full.groupBy("day").agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
      val p = full.join(n, Seq("day"))
        .withColumn("p", (col("c") + 1).cast("double")
          / (col("n") + col("k")).cast("double"))
      val prev = p.select(
        date_format(date_add(to_date(col("day")), 1), "yyyy-MM-dd").as("day"),
        col("event_type"), col("p").as("q"))
      p.join(prev, Seq("day", "event_type"))
        .withColumn("term", round(col("p") * log(col("p") / col("q")), 6)
          .cast("decimal(18,6)"))
        .withColumn("tvterm", round(abs(col("p") - col("q")) * 0.5, 6)
          .cast("decimal(18,6)"))
        .groupBy("day").agg(
          // decimal round THEN double cast: exact half-up on the decimal
          // sum (the Dsir.scoreWithLm knife-edge discipline)
          round(sum(col("term")), 4).cast("double").as("kl"),
          round(sum(col("tvterm")), 4).cast("double").as("tv"),
          count(lit(1)).as("k"))
        .orderBy("day")
    },
      // drift: identical grid + smoothing + per-term round-6 decimal sums
      s"""WITH $driftPairsSql
           SELECT day,
                  CAST(round(sum(CAST(round(p * ln(p / q), 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS kl,
                  CAST(round(sum(CAST(round(abs(p - q) * 0.5, 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS tv,
                  count(*) AS k
           FROM pq GROUP BY day ORDER BY day"""),

    // Wasserstein-1 (earth-mover) drift between consecutive days' VALUE
    // distributions — the continuous-distribution complement of
    // x_dist_drift's categorical KL/TV. Values bin to exact cents
    // (floor-round), so the support is a bounded VALUE GRID (the x_gini
    // discipline): per-pair window work is grid-sized at any corpus
    // scale, and the only data-scale job is the (day, cents) histogram
    // shuffle. Each histogram row feeds at most two day pairs (as
    // yesterday / as today) via a tagged union — never a self-join of
    // events. W1 = Σ|F1−F2|·Δv over the merged support via per-pair
    // prefix-sum windows; each term floor-rounds to 9 dp and
    // DECIMAL-sums (order-independent — the x_unigram_lm discipline).
    Query("x_wasserstein", (s, dir) => {
      val h = events(s, dir).filter(col("value").isNotNull)
        .select(col("day"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .groupBy("day", "cents").agg(count(lit(1)).as("c"))
      val tot = h.groupBy("day").agg(sum(col("c")).as("n"))
      def shifted(d: DataFrame) = date_format(date_add(to_date(d("day")), 1), "yyyy-MM-dd")
      val asPrev = h.select(shifted(h).as("pday"),
        col("cents"), col("c").as("c1"), lit(0L).as("c2"))
      val asCur = h.select(col("day").as("pday"), col("cents"),
        lit(0L).as("c1"), col("c").as("c2"))
      val g = asPrev.unionAll(asCur).groupBy("pday", "cents")
        .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
      val t1 = tot.select(shifted(tot).as("pday"), col("n").as("n1"))
      val t2 = tot.select(col("day").as("pday"), col("n").as("n2"))
      val w = Window.partitionBy("pday").orderBy("cents")
      g.join(t1, "pday").join(t2, "pday") // inner: boundary days drop out
        .withColumn("cum1", sum(col("c1")).over(w))
        .withColumn("cum2", sum(col("c2")).over(w))
        .withColumn("nxt", lead(col("cents"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("term",
          round(abs(col("cum1").cast("double") / col("n1").cast("double")
                  - col("cum2").cast("double") / col("n2").cast("double"))
            * ((col("nxt") - col("cents")).cast("double") / lit(100.0)), 9)
            .cast("decimal(28,9)"))
        .groupBy("pday").agg(round(sum(col("term")), 6).cast("double").as("w1"))
        .select(col("pday").as("day"), col("w1"))
        .orderBy("day")
    },
      // W1 via prefix-sum CDFs over the merged cents grid of each day pair
      s"""WITH h AS (SELECT $dayE AS day, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
                              count(*) AS c
                       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
                t AS (SELECT day, sum(c) AS n FROM h GROUP BY 1),
                u AS (SELECT strftime(CAST(day AS DATE) + 1, '%Y-%m-%d') AS pday, cents,
                             c AS c1, 0 AS c2 FROM h
                      UNION ALL
                      SELECT day AS pday, cents, 0 AS c1, c AS c2 FROM h),
                g AS (SELECT pday, cents, sum(c1) AS c1, sum(c2) AS c2 FROM u GROUP BY 1, 2),
                j AS (SELECT g.pday, g.cents, g.c1, g.c2, t1.n AS n1, t2.n AS n2
                      FROM g
                      JOIN (SELECT strftime(CAST(day AS DATE) + 1, '%Y-%m-%d') AS pday, n FROM t) t1
                        USING (pday)
                      JOIN (SELECT day AS pday, n FROM t) t2 USING (pday)),
                k AS (SELECT pday,
                             sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
                             lead(cents) OVER w AS nxt, cents, n1, n2
                      FROM j WINDOW w AS (PARTITION BY pday ORDER BY cents))
           SELECT pday AS day,
                  CAST(round(sum(CAST(round(abs(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2)
                    * ((nxt - cents) / 100.0), 9) AS DECIMAL(28,9))), 6) AS DOUBLE) AS w1
           FROM k WHERE nxt IS NOT NULL GROUP BY 1 ORDER BY 1"""),

    // deterministic weighted sampling WITHOUT replacement (Efraimidis–
    // Spirakis A-ES; graft.ext.Mixture.weightedSampleWithoutReplacement):
    // 5 length-weighted picks per source on the content-hash uniform —
    // WindowGroupLimit ships at most k rows per source per map task.
    Query("x_weighted_sample", (s, dir) =>
      graft.ext.Mixture.weightedSampleWithoutReplacement(
        t(s, dir, "documents"), "source", "doc_id", col("n_chars"), k = 5)
        .orderBy("source", "pick_rank"),
      // A-ES: same content-hash uniform, ln-key via the floor round-6 idiom
      """WITH w AS (SELECT source, doc_id,
                        greatest(CAST(n_chars AS DOUBLE), 1.0) AS weight,
                        floor(ln((CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE) + 1.0) / 16777217.0)
                              / greatest(CAST(n_chars AS DOUBLE), 1.0) * 1e6 + 0.5) / 1e6 AS key
                      FROM documents),
                r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS pick_rank FROM w)
           SELECT source, CAST(pick_rank AS INTEGER) AS pick_rank, doc_id, weight, key
           FROM r WHERE pick_rank <= 5 ORDER BY source, pick_rank"""),

    // distributed closed-form OLS + Pearson r per source (graft.ext.Stats
    // .groupedLinReg): does char count predict whitespace token count?
    // ONE map-side-combined groupBy carries five exact integer sufficient
    // statistics; the solve is a projection — the same one-pass shape at
    // any corpus scale.
    Query("x_linreg_tokens", (s, dir) =>
      graft.ext.Stats.groupedLinReg(
        t(s, dir, "documents"), Seq("source"),
        col("n_chars"), size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")))
        .orderBy("source"),
      // OLS/Pearson from exact integer sufficient statistics; every double
      // op mirrored in sequence, floor round-6 idiom on the outputs. The
      // n·Σxy − Σx·Σy numerators form in HUGEINT (int128), mirroring the
      // Spark side's DECIMAL(38,0) — exact whenever the sums fit in long.
      s"""WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
                              CAST(len($toksE) AS BIGINT) AS y FROM documents),
                 st AS (SELECT source, count(*) AS n,
                          CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
                          CAST(sum(x*y) AS HUGEINT) AS sxy,
                          CAST(sum(x*x) AS HUGEINT) AS sxx, CAST(sum(y*y) AS HUGEINT) AS syy
                        FROM d GROUP BY source)
            SELECT source, n,
                   floor(CAST(n*sxy - sx*sy AS DOUBLE) / nullif(CAST(n*sxx - sx*sx AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6 AS slope,
                   floor((CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE) / nullif(CAST(n*sxx - sx*sx AS DOUBLE), 0.0)) * CAST(sx AS DOUBLE))
                         / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS intercept,
                   floor(CAST(n*sxy - sx*sy AS DOUBLE) / nullif(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 0.0) * 1e6 + 0.5) / 1e6 AS r
            FROM st ORDER BY source"""),

    // Deequ-style data-quality expectation suite over lineitem: ONE pass
    // computes every check metric (completeness, key uniqueness, domain
    // bounds, cross-column compliance, volume), then a constant-size
    // unpivot emits (check, metric, passed) rows — validating 100 TB
    // costs one map-side-combined aggregate.
    Query("x_expectations", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val agg = li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_returnflag").isNotNull, 1L).otherwise(0L)).as("n_rf"),
        count_distinct(col("l_orderkey")).as("n_orders"),
        count_distinct(col("l_orderkey"), col("l_linenumber")).as("n_keys"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        max(col("l_discount")).as("max_disc"),
        sum(when(col("l_extendedprice") > 0.0, 1L).otherwise(0L)).as("n_price_ok"),
        max(year(col("l_shipdate"))).as("max_year"))
      def frac(a: Column, b: Column): Column =
        floor(a.cast("double") / b.cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)
      agg.select(
        struct(lit("completeness_returnflag").as("check"),
          frac(col("n_rf"), col("n_rows")).as("metric"),
          (col("n_rf") === col("n_rows")).as("passed")).as("c1"),
        struct(lit("uniqueness_orderkey").as("check"),
          frac(col("n_orders"), col("n_rows")).as("metric"),
          (col("n_orders") === col("n_rows")).as("passed")).as("c2"),
        struct(lit("uniqueness_orderkey_linenumber").as("check"),
          frac(col("n_keys"), col("n_rows")).as("metric"),
          (col("n_keys") === col("n_rows")).as("passed")).as("c3"),
        struct(lit("quantity_in_1_50").as("check"),
          col("max_qty").cast("double").as("metric"),
          (col("min_qty") >= 1.0 && col("max_qty") <= 50.0).as("passed")).as("c4"),
        struct(lit("discount_le_0_1").as("check"),
          col("max_disc").cast("double").as("metric"),
          (col("max_disc") <= 0.1).as("passed")).as("c5"),
        struct(lit("price_positive").as("check"),
          frac(col("n_price_ok"), col("n_rows")).as("metric"),
          (col("n_price_ok") === col("n_rows")).as("passed")).as("c6"),
        struct(lit("shipdate_year_le_1998").as("check"),
          col("max_year").cast("double").as("metric"),
          (col("max_year") <= 1998).as("passed")).as("c7"))
        .select(explode(array(col("c1"), col("c2"), col("c3"), col("c4"),
          col("c5"), col("c6"), col("c7"))).as("e"))
        .select(col("e.check").as("check"), col("e.metric").as("metric"),
          col("e.passed").as("passed"))
        .orderBy("check")
    },
      // expectation suite: one aggregate, constant-size report
      """WITH a AS (SELECT count(*) AS n_rows,
                        CAST(sum(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rf,
                        count(DISTINCT l_orderkey) AS n_orders,
                        count(DISTINCT (l_orderkey, l_linenumber)) AS n_keys,
                        min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                        max(l_discount) AS max_disc,
                        CAST(sum(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_price_ok,
                        max(year(l_shipdate)) AS max_year
                      FROM lineitem)
           SELECT * FROM (
             SELECT 'completeness_returnflag' AS "check",
                    floor(CAST(n_rf AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6 AS metric,
                    n_rf = n_rows AS passed FROM a
             UNION ALL
             SELECT 'uniqueness_orderkey',
                    floor(CAST(n_orders AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6,
                    n_orders = n_rows FROM a
             UNION ALL
             SELECT 'uniqueness_orderkey_linenumber',
                    floor(CAST(n_keys AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6,
                    n_keys = n_rows FROM a
             UNION ALL
             SELECT 'quantity_in_1_50', CAST(max_qty AS DOUBLE),
                    min_qty >= 1.0 AND max_qty <= 50.0 FROM a
             UNION ALL
             SELECT 'discount_le_0_1', CAST(max_disc AS DOUBLE), max_disc <= 0.1 FROM a
             UNION ALL
             SELECT 'price_positive',
                    floor(CAST(n_price_ok AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6,
                    n_price_ok = n_rows FROM a
             UNION ALL
             SELECT 'shipdate_year_le_1998', CAST(max_year AS DOUBLE), max_year <= 1998 FROM a)
           ORDER BY "check""""),

    // Wilson lower-bound conversion ranking: per-user click share
    // clicks / (views + clicks) with the z=2 Wilson score interval lower
    // bound — the small-sample-safe ranking statistic (a 1/1 user must
    // NOT outrank a 40/50 one). The share form keeps p in [0,1] (raw
    // clicks/views is unbounded on this corpus). z is pinned at 2.0
    // (exactly representable; a 1.96 literal parses to DIFFERENT doubles
    // in DuckDB-decimal vs Spark — the x_pagerank lesson), so every
    // intermediate is pure IEEE double with an identical operation tree
    // in both engines. One user-keyed aggregation; output is O(users).
    Query("x_wilson_ctr", (s, dir) => {
      val agg = events(s, dir).groupBy("user_id").agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"))
        .filter(col("n_view") + col("n_click") >= 5L)
      val n = (col("n_view") + col("n_click")).cast("double")
      val p = col("n_click").cast("double") / (col("n_view") + col("n_click")).cast("double")
      val lb = (p + lit(2.0) / n -
        lit(2.0) * sqrt(p * (lit(1.0) - p) / n + lit(1.0) / (n * n))) /
        (lit(1.0) + lit(4.0) / n)
      agg.select(
          col("user_id"),
          col("n_view"),
          col("n_click"),
          (floor(p * lit(1e4) + lit(0.5)) / lit(1e4)).as("ctr"),
          (floor(lb * lit(1e4) + lit(0.5)) / lit(1e4)).as("wilson_lb"))
        .orderBy("user_id")
    },
      // Wilson lower bound with z pinned at 2.0 (exactly representable;
      // identical IEEE operation tree both sides)
      """WITH a AS (SELECT user_id,
                        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click
                      FROM events GROUP BY 1 HAVING n_view + n_click >= 5),
                c AS (SELECT user_id, n_view, n_click,
                        CAST(n_view + n_click AS DOUBLE) AS n,
                        CAST(n_click AS DOUBLE) / CAST(n_view + n_click AS DOUBLE) AS p
                      FROM a)
           SELECT user_id, n_view, n_click,
                  floor(p * 1e4 + 0.5) / 1e4 AS ctr,
                  floor((p + 2.0 / n - 2.0 * sqrt(p * (1.0 - p) / n + 1.0 / (n * n)))
                    / (1.0 + 4.0 / n) * 1e4 + 0.5) / 1e4 AS wilson_lb
           FROM c ORDER BY user_id"""),

    // Pareto concentration of activity: what share of events comes from
    // the top-quintile users (by the exact interpolated 80th-percentile
    // activity threshold)? One user aggregation + a 1-row threshold
    // broadcast — the 80/20 check without a global user sort.
    Query("x_pareto_users", (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("c"))
      val th = per.agg(expr("percentile(c, 0.8)").as("p80"))
      per.crossJoin(broadcast(th))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(col("c").cast("double") > col("p80"), 1L).otherwise(0L)).as("n_top"),
          sum(col("c")).as("total_events"),
          sum(when(col("c").cast("double") > col("p80"), col("c")).otherwise(0L)).as("top_events"))
        .select(col("n_users"), col("n_top"), col("total_events"),
          (floor(col("top_events").cast("double") / col("total_events").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("top_share"))
    },
      // Pareto: exact interpolated p80 threshold, integer shares
      """WITH per AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
                th AS (SELECT quantile_cont(c, 0.8) AS p80 FROM per)
           SELECT count(*) AS n_users,
                  CAST(sum(CASE WHEN CAST(c AS DOUBLE) > p80 THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
                  CAST(sum(c) AS BIGINT) AS total_events,
                  floor(CAST(sum(CASE WHEN CAST(c AS DOUBLE) > p80 THEN c ELSE 0 END) AS DOUBLE)
                    / CAST(sum(c) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS top_share
           FROM per CROSS JOIN th"""),

    // cross-source quantile normalization: each document's quality score
    // is replaced by the GLOBAL score at the same within-source quantile —
    // removes per-source scoring bias before corpus-wide thresholding
    // (the reason one source's "0.6" must not mean another's "0.4").
    // Within-source percent_rank is a source-partitioned window
    // (distributed); the global reference CDF lives on the ROUND-4 SCORE
    // GRID (≤ 10⁴+1 rows at ANY corpus scale — its global window is
    // bounded metadata, whitelisted in SparkEntrySpec), broadcast to a
    // range-join + min-aggregate that realizes Q_global(p) = min{v :
    // CDF(v) ≥ p} without moving the corpus.
    Query("x_quantile_norm", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TF.qualityScore(col("text")).as("score"))
      val pr = d.withColumn("pr",
        percent_rank().over(Window.partitionBy("source").orderBy("score")))
      val grid = d.groupBy(col("score").as("gscore")).agg(count(lit(1)).as("cnt"))
      val n = d.agg(count(lit(1)).as("n_total"))
      val cume = grid
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(constKey(col("gscore"))).orderBy("gscore").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(n))
        .select(col("gscore"),
          (col("cum").cast("double") / col("n_total").cast("double")).as("cume_frac"))
      pr.join(broadcast(cume), col("cume_frac") >= col("pr"))
        .groupBy("doc_id", "source", "score", "pr")
        .agg(min(col("gscore")).as("norm_score"))
        .select(col("doc_id"), col("source"), col("score"),
          (floor(col("pr") * lit(1e6) + lit(0.5)) / lit(1e6)).as("p_src"),
          col("norm_score"))
        .orderBy("doc_id")
    },
      // quantile normalization: within-source percent_rank mapped through
      // the global round-4 score grid CDF; Q(p) = min{v : CDF(v) >= p}
      s"""WITH d AS (SELECT doc_id, source, $qualityE AS score FROM documents),
                 r AS (SELECT doc_id, source, score,
                         percent_rank() OVER (PARTITION BY source ORDER BY score) AS pr
                       FROM d),
                 g AS (SELECT score AS gscore, count(*) AS cnt FROM d GROUP BY 1),
                 nt AS (SELECT count(*) AS n_total FROM d),
                 c AS (SELECT gscore,
                         CAST(sum(cnt) OVER (ORDER BY gscore
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                           / CAST(n_total AS DOUBLE) AS cume_frac
                       FROM g CROSS JOIN nt)
            SELECT doc_id, source, score,
                   floor(pr * 1e6 + 0.5) / 1e6 AS p_src,
                   min(gscore) AS norm_score
            FROM r JOIN c ON c.cume_frac >= r.pr
            GROUP BY doc_id, source, score, pr ORDER BY doc_id"""),

    // multinomial naive Bayes source classifier, trained on EVEN docs,
    // scored on ODD: add-one token likelihoods + log priors, per-class
    // accuracy. Model is (classes × vocab) bounded metadata; test-side
    // cost is tokens × classes (the NB shape). Log terms round-6 into
    // DECIMAL(18,6); scores are cnt·loglik decimal products summed
    // exactly, so the argmax (score DESC, source) is engine-independent.
    Query("x_naive_bayes", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TF.tokens(col("text")).as("toks"))
      val train = docs.filter(col("doc_id") % 2 === 0)
      val test = docs.filter(col("doc_id") % 2 === 1)
      val nTrain = train.agg(count(lit(1)).as("nn"))
      val priors = train.groupBy(col("source").as("cls")).agg(count(lit(1)).as("nd"))
        .crossJoin(broadcast(nTrain))
        .select(col("cls"),
          round(log(col("nd").cast("double") / col("nn").cast("double")), 6)
            .cast("decimal(18,6)").as("logprior"))
      val tw = train.select(col("source").as("cls"), explode(col("toks")).as("w"))
      val cw = tw.groupBy("cls", "w").agg(count(lit(1)).as("c"))
      val tot = tw.groupBy("cls").agg(count(lit(1)).as("tc"))
      val vocabN = tw.select("w").distinct().agg(count(lit(1)).as("vn"))
      // class constants (tc, vn) ride every grid row; model completed
      // over vocab × classes via the unseen default at c = 0
      val testW = test.select(col("doc_id"), col("source"), explode(col("toks")).as("w"))
        .groupBy("doc_id", "source", "w").agg(count(lit(1)).as("cnt"))
      val grid = testW.crossJoin(broadcast(priors.select(col("cls"))))
        .join(broadcast(tot), "cls").crossJoin(broadcast(vocabN))
        .join(cw, Seq("cls", "w"), "left")
        .withColumn("loglik",
          round(log((coalesce(col("c"), lit(0L)).cast("double") + lit(1.0))
            / (col("tc").cast("double") + col("vn").cast("double"))), 6)
            .cast("decimal(18,6)"))
      val scores = grid.groupBy("doc_id", "source", "cls")
        .agg(sum(col("cnt") * col("loglik")).as("toksum"))
        .join(broadcast(priors), "cls")
        .withColumn("score", col("toksum") + col("logprior"))
      val pred = scores.withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls"))))
        .filter(col("rk") === 1)
      pred.groupBy(col("source"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("cls") === col("source"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          floor(col("n_correct").cast("double") / col("n_test").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .orderBy("source")
    },
      // naive Bayes: round-6 decimal log terms, exact decimal score
      // sums, (score DESC, cls) argmax
      s"""WITH d AS (SELECT doc_id, source, $toksE AS toks FROM documents),
                 tr AS (SELECT doc_id, source, toks FROM d WHERE doc_id % 2 = 0),
                 te AS (SELECT doc_id, source, toks FROM d WHERE doc_id % 2 = 1),
                 nt AS (SELECT count(*) AS nn FROM tr),
                 pri AS (SELECT source AS cls,
                           CAST(round(ln(CAST(count(*) AS DOUBLE) / nn), 6) AS DECIMAL(18,6)) AS logprior
                         FROM tr CROSS JOIN nt GROUP BY source, nn),
                 tw AS (SELECT source AS cls, unnest(toks) AS w FROM tr),
                 cw AS (SELECT cls, w, count(*) AS c FROM tw GROUP BY 1, 2),
                 tot AS (SELECT cls, count(*) AS tc FROM tw GROUP BY 1),
                 vn AS (SELECT count(DISTINCT w) AS vn FROM tw),
                 tstw AS (SELECT doc_id, source, w, count(*) AS cnt
                          FROM (SELECT doc_id, source, unnest(toks) AS w FROM te) GROUP BY 1, 2, 3),
                 g AS (SELECT t.doc_id, t.source, t.cnt, p.cls,
                         CAST(round(ln((CAST(coalesce(cw.c, 0) AS DOUBLE) + 1.0)
                           / (CAST(tot.tc AS DOUBLE) + CAST(vn.vn AS DOUBLE))), 6) AS DECIMAL(18,6)) AS loglik
                       FROM tstw t CROSS JOIN (SELECT cls FROM pri) p
                       JOIN tot ON p.cls = tot.cls CROSS JOIN vn
                       LEFT JOIN cw ON cw.cls = p.cls AND cw.w = t.w),
                 sc AS (SELECT doc_id, source, cls, sum(cnt * loglik) AS toksum FROM g GROUP BY 1, 2, 3),
                 sc2 AS (SELECT sc.doc_id, sc.source, sc.cls, toksum + logprior AS score
                         FROM sc JOIN pri ON sc.cls = pri.cls),
                 pr AS (SELECT doc_id, source, cls,
                          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rk
                        FROM sc2)
            SELECT source, count(*) AS n_test,
                   CAST(sum(CASE WHEN cls = source THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                   floor(CAST(sum(CASE WHEN cls = source THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*) * 1e4 + 0.5) / 1e4 AS accuracy
            FROM pr WHERE rk = 1 GROUP BY source ORDER BY source"""),

    // empirical-Bayes click-share shrinkage: a Beta prior fit by method
    // of moments on the population of per-user shares, then every user's
    // share shrunk toward it — the other small-sample fix beside
    // x_wilson_ctr (shrinkage vs confidence bound). Population moments
    // use floor-6 terms + DECIMAL sums (order-independent); α, β, and
    // every shrunk estimate are then one deterministic double tree.
    Query("x_shrunk_ctr", (s, dir) => {
      val agg = events(s, dir).groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"))
        .filter(col("c") + col("v") >= 1L)
        .withColumn("n", col("c") + col("v"))
        .withColumn("p", col("c").cast("double") / (col("c") + col("v")).cast("double"))
      val mom = agg.agg(
        count(lit(1)).as("nu"),
        sum((floor(col("p") * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)")).as("sp"),
        sum((floor(col("p") * col("p") * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)")).as("spp"))
      val m = col("sp").cast("double") / col("nu").cast("double")
      val v2 = col("spp").cast("double") / col("nu").cast("double") - m * m
      val k = m * (lit(1.0) - m) / v2 - lit(1.0)
      val pri = mom.select((m * k).as("alpha"), ((lit(1.0) - m) * k).as("beta"))
      agg.crossJoin(broadcast(pri))
        .select(col("user_id"), col("c"), col("n"),
          (floor(col("p") * lit(1e4) + lit(0.5)) / lit(1e4)).as("raw_share"),
          (floor((col("c").cast("double") + col("alpha"))
            / (col("n").cast("double") + col("alpha") + col("beta"))
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("shrunk_share"))
        .orderBy("user_id")
    },
      // shrinkage: floor-6 + decimal population moments, then the same
      // double tree for alpha/beta and the posterior means
      """WITH a AS (SELECT user_id,
                        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c,
                        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v
                      FROM events GROUP BY 1 HAVING c + v >= 1),
                b AS (SELECT user_id, c, c + v AS n,
                        CAST(c AS DOUBLE) / CAST(c + v AS DOUBLE) AS p FROM a),
                mom AS (SELECT count(*) AS nu,
                          sum(CAST(floor(p * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS sp,
                          sum(CAST(floor(p * p * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS spp
                        FROM b),
                pri AS (SELECT
                          (CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE))
                            * ((CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE)) * (1.0 - CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE))
                               / (CAST(spp AS DOUBLE) / CAST(nu AS DOUBLE)
                                  - (CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE)) * (CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE))) - 1.0) AS alpha,
                          (1.0 - CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE))
                            * ((CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE)) * (1.0 - CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE))
                               / (CAST(spp AS DOUBLE) / CAST(nu AS DOUBLE)
                                  - (CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE)) * (CAST(sp AS DOUBLE) / CAST(nu AS DOUBLE))) - 1.0) AS beta
                        FROM mom)
           SELECT user_id, c, n,
                  floor(p * 1e4 + 0.5) / 1e4 AS raw_share,
                  floor((CAST(c AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + alpha + beta) * 1e4 + 0.5) / 1e4 AS shrunk_share
           FROM b CROSS JOIN pri ORDER BY user_id"""),

    // mean imputation with a measurable mask: 10% of values (hash-picked,
    // deterministic) are treated as missing, imputed with the
    // type-group mean of the SURVIVING values (decimal-exact), and
    // scored against the held-back truth — the imputation-quality loop
    // as one plan. Group means are a broadcast |types|-row aggregate.
    Query("x_impute", (s, dir) => {
      val e = events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        .withColumn("masked", graft.ext.Mixture.hash24(col("event_id").cast("string")) % 10 === 0)
      val means = e.filter(!col("masked"))
        .groupBy("event_type")
        .agg((sum(col("value").cast("decimal(18,4)")).cast("double")
          / count(lit(1)).cast("double")).as("grp_mean"))
      e.filter(col("masked"))
        .join(broadcast(means), "event_type")
        .select(col("event_id"), col("event_type"), col("value").as("true_value"),
          (floor(col("grp_mean") * lit(1e6) + lit(0.5)) / lit(1e6)).as("imputed"),
          (floor(abs(col("value") - col("grp_mean")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("abs_err"))
        .orderBy("event_id")
    },
      // imputation: surviving-value group means (decimal), scored masks
      """WITH e AS (SELECT event_id, event_type, value,
                        CAST(CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 6)) AS BIGINT) AS INTEGER) % 10 = 0 AS masked
                      FROM events),
                m AS (SELECT event_type,
                        CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS grp_mean
                      FROM e WHERE NOT masked GROUP BY 1)
           SELECT event_id, e.event_type, value AS true_value,
                  floor(grp_mean * 1e6 + 0.5) / 1e6 AS imputed,
                  floor(abs(value - grp_mean) * 1e6 + 0.5) / 1e6 AS abs_err
           FROM e JOIN m ON e.event_type = m.event_type
           WHERE masked ORDER BY event_id"""),

    // Mann–Whitney U / AUC between the parity A/B user groups on
    // per-user event counts — the nonparametric "is B shifted vs A"
    // test. U is computed from the two COUNT HISTOGRAMS (bounded grids,
    // never a global rank over users): U = Σ_v fB(v)·(#A below v) +
    // fB(v)·fA(v)/2 — exact integers + an exact half, summed as
    // DECIMAL(28,1). AUC = U/(nA·nB).
    Query("x_mannwhitney", (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("x"))
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      val ha = per.filter(col("grp") === 0).groupBy(col("x")).agg(count(lit(1)).as("fa"))
      val hb = per.filter(col("grp") === 1).groupBy(col("x")).agg(count(lit(1)).as("fb"))
      // cumulative #A strictly below each grid value — windows over the
      // bounded count grid
      val grid = ha.select(col("x")).unionByName(hb.select(col("x"))).distinct()
      val j = grid.join(ha, Seq("x"), "left").join(hb, Seq("x"), "left")
        .select(col("x"), coalesce(col("fa"), lit(0L)).as("fa"), coalesce(col("fb"), lit(0L)).as("fb"))
      val wcum = Window.partitionBy(constKey(col("x"))).orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
      val cum = j.withColumn("below_a", coalesce(sum(col("fa")).over(wcum), lit(0L)))
      // 2U stays a pure integer (ties contribute halves); halve once in
      // double — division by 2 is exact
      val u = cum.agg(
        sum(col("fa")).as("n_a"), sum(col("fb")).as("n_b"),
        sum(lit(2L) * col("fb") * col("below_a") + col("fb") * col("fa")).as("u2"))
      u.select(col("n_a"), col("n_b"),
        (col("u2").cast("double") / lit(2.0)).as("u_stat"),
        (floor(col("u2").cast("double")
          / (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double"))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("auc"))
    },
      // Mann-Whitney: histogram-grid 2U (pure integers), halved once
      """WITH per AS (SELECT user_id, count(*) AS x, user_id % 2 AS grp FROM events GROUP BY 1),
                ha AS (SELECT x, count(*) AS fa FROM per WHERE grp = 0 GROUP BY 1),
                hb AS (SELECT x, count(*) AS fb FROM per WHERE grp = 1 GROUP BY 1),
                g AS (SELECT DISTINCT x FROM (SELECT x FROM ha UNION ALL SELECT x FROM hb)),
                j AS (SELECT g.x, coalesce(fa, 0) AS fa, coalesce(fb, 0) AS fb
                      FROM g LEFT JOIN ha ON g.x = ha.x LEFT JOIN hb ON g.x = hb.x),
                c AS (SELECT x, fa, fb,
                        coalesce(CAST(sum(fa) OVER (ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below_a
                      FROM j),
                u AS (SELECT CAST(sum(fa) AS BIGINT) AS n_a, CAST(sum(fb) AS BIGINT) AS n_b,
                        CAST(sum(2 * fb * below_a + fb * fa) AS BIGINT) AS u2
                      FROM c)
           SELECT n_a, n_b,
                  CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
                  floor(CAST(u2 AS DOUBLE) / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS auc
           FROM u"""),

    // Kruskal–Wallis H across the THREE parity user groups (the k-sample
    // extension of x_mannwhitney): rank sums come from the per-user COUNT
    // HISTOGRAM, never a global rank over users — 2·midrank(v) =
    // 2·(#below v) + f(v) + 1 is an exact integer off one cumulative
    // window over the bounded count grid. Per-group R_g²/n_g terms are
    // floor-6 + DECIMAL-summed (group count is bounded, but the fixed
    // order keeps both engines' sums identical); the tie correction
    // Σ(f³−f) rides DECIMAL(38,0) cubes so petabyte-scale tie masses
    // never wrap a long (the x_cuped overflow lesson).
    Query("x_kruskal_wallis", (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("x"))
        .withColumn("grp", pmod(col("user_id"), lit(3)))
      val h = per.groupBy("x", "grp").agg(count(lit(1)).as("f"))
      val fx = h.groupBy("x").agg(sum(col("f")).as("fx"))
      val wcum = Window.partitionBy(constKey(col("x"))).orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
      val mid = fx
        .withColumn("below", coalesce(sum(col("fx")).over(wcum), lit(0L)))
        .withColumn("r2", lit(2L) * col("below") + col("fx") + lit(1L))
      val rg = h.join(mid.select("x", "r2"), "x")
        .groupBy("grp").agg(sum(col("f") * col("r2")).as("r2g"), sum(col("f")).as("ng"))
      val terms = rg.select(
        col("ng"),
        (floor(col("r2g").cast("double") * col("r2g").cast("double")
          / (lit(4.0) * col("ng").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
          .cast("decimal(28,6)").as("term"))
      val tot = terms.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("term")).cast("double").as("ssq"))
      val tie = mid.agg(
        sum(col("fx").cast("decimal(38,0)") * col("fx") * col("fx") - col("fx"))
          .cast("double").as("ties"))
      val nD = col("n").cast("double")
      val hRaw = lit(12.0) * col("ssq") / (nD * (nD + lit(1.0))) - lit(3.0) * (nD + lit(1.0))
      val corr = lit(1.0) - col("ties") / (nD * nD * nD - nD)
      tot.crossJoin(tie).select(col("k"), col("n"),
        (floor(hRaw * lit(1e6) + lit(0.5)) / lit(1e6)).as("h"),
        (floor(hRaw / corr * lit(1e6) + lit(0.5)) / lit(1e6)).as("h_adj"))
    },
      // Kruskal–Wallis: histogram midranks (2·below + f + 1), floor-6
      // R²/n terms + decimal sums, decimal(38,0) tie cubes
      """WITH per AS (SELECT user_id, count(*) AS x, user_id % 3 AS grp FROM events GROUP BY 1),
                h AS (SELECT x, grp, count(*) AS f FROM per GROUP BY 1, 2),
                fx AS (SELECT x, CAST(sum(f) AS BIGINT) AS fx FROM h GROUP BY 1),
                mid AS (SELECT x, fx,
                          coalesce(CAST(sum(fx) OVER (ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below
                        FROM fx),
                m2 AS (SELECT x, 2 * below + fx + 1 AS r2 FROM mid),
                rg AS (SELECT grp, CAST(sum(f * r2) AS BIGINT) AS r2g, CAST(sum(f) AS BIGINT) AS ng
                       FROM h JOIN m2 USING (x) GROUP BY 1),
                tm AS (SELECT ng,
                         CAST(floor(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
                           / (4.0 * CAST(ng AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS term
                       FROM rg),
                tot AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                          CAST(sum(term) AS DOUBLE) AS ssq FROM tm),
                tie AS (SELECT CAST(sum(CAST(fx AS DECIMAL(38,0)) * fx * fx - fx) AS DOUBLE) AS ties
                        FROM mid)
           SELECT k, n,
                  floor((12.0 * ssq / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                    - 3.0 * (CAST(n AS DOUBLE) + 1.0)) * 1e6 + 0.5) / 1e6 AS h,
                  floor((12.0 * ssq / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                    - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                    / (1.0 - ties / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
                    * 1e6 + 0.5) / 1e6 AS h_adj
           FROM tot, tie"""),

    // Cliff's delta per event type between the parity A/B user groups on
    // per-user-per-type activity — the ordinal effect SIZE the U test's
    // p-value doesn't give. δ = (#(a>b) − #(a<b))/(n_a·n_b) from the two
    // per-type count histograms via type-PARTITIONED prefix sums (below/
    // above are exact integers; one floor-6 division at the end), with
    // the standard Romano magnitude bands on |δ|. Work is O(grid) per
    // type at any corpus scale.
    Query("x_cliffs_delta", (s, dir) => {
      val per = events(s, dir).groupBy("event_type", "user_id").agg(count(lit(1)).as("x"))
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      val g = per.groupBy("event_type", "x").agg(
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("fa"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("fb"))
      val wc = Window.partitionBy("event_type").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wt = Window.partitionBy("event_type")
      val cum = g
        .withColumn("below_b", coalesce(sum(col("fb")).over(wc), lit(0L)))
        .withColumn("nb", sum(col("fb")).over(wt))
        .withColumn("na", sum(col("fa")).over(wt))
        .withColumn("above_b", col("nb") - col("below_b") - col("fb"))
      val d = cum.groupBy("event_type").agg(
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("fa") * (col("below_b") - col("above_b"))).as("num"))
      val delta = floor(col("num").cast("double")
        / (col("n_a").cast("double") * col("n_b").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6)
      d.select(col("event_type"), col("n_a"), col("n_b"), delta.as("delta"),
          when(abs(delta) < 0.147, "negligible").when(abs(delta) < 0.33, "small")
            .when(abs(delta) < 0.474, "medium").otherwise("large").as("magnitude"))
        .orderBy("event_type")
    },
      // Cliff's delta: per-type histogram below/above prefix sums, one
      // floor-6 division, Romano magnitude bands on the FLOORED delta
      """WITH per AS (SELECT event_type, user_id, count(*) AS x, user_id % 2 AS grp
                      FROM events GROUP BY 1, 2),
                g AS (SELECT event_type, x,
                        CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fa,
                        CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fb
                      FROM per GROUP BY 1, 2),
                c AS (SELECT event_type, x, fa, fb,
                        coalesce(CAST(sum(fb) OVER (PARTITION BY event_type ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below_b,
                        CAST(sum(fb) OVER (PARTITION BY event_type) AS BIGINT) AS nb,
                        CAST(sum(fa) OVER (PARTITION BY event_type) AS BIGINT) AS na
                      FROM g),
                d AS (SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
                        CAST(sum(fa * (below_b - (nb - below_b - fb))) AS BIGINT) AS num
                      FROM c GROUP BY 1),
                dd AS (SELECT event_type, n_a, n_b,
                         floor(CAST(num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS delta
                       FROM d)
           SELECT event_type, n_a, n_b, delta,
                  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
                       WHEN abs(delta) < 0.33 THEN 'small'
                       WHEN abs(delta) < 0.474 THEN 'medium'
                       ELSE 'large' END AS magnitude
           FROM dd ORDER BY event_type"""),

    // Brown–Forsythe test (Levene with group MEDIANS) for equal spread of
    // per-user activity across event types — the variance-homogeneity
    // check Welch's t and the KW test both lean on. The per-type lower
    // median comes off the type-partitioned count histogram (min v with
    // 2·cum ≥ n — integer test, no percentile_cont divergence); absolute
    // deviations z = |x − med| are exact integers, so each group's
    // (Σz, Σz², n) is an exact-integer triple and the F statistic is one
    // shared double tree. Per-group between/within terms floor-6 +
    // DECIMAL-sum so the ≤|types| additions have a fixed order.
    Query("x_levene", (s, dir) => {
      val per = events(s, dir).groupBy("event_type", "user_id").agg(count(lit(1)).as("x"))
      val hist = per.groupBy("event_type", "x").agg(count(lit(1)).as("f"))
      val wc = Window.partitionBy("event_type").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wt = Window.partitionBy("event_type")
      val med = hist
        .withColumn("cum", sum(col("f")).over(wc))
        .withColumn("n", sum(col("f")).over(wt))
        .filter(lit(2L) * col("cum") >= col("n"))
        .groupBy("event_type").agg(min(col("x")).as("med"))
      val z = hist.join(broadcast(med), "event_type")
        .withColumn("z", abs(col("x") - col("med")))
      val g = z.groupBy("event_type").agg(
        sum(col("f")).as("ng"), sum(col("f") * col("z")).as("sz"),
        sum(col("f") * col("z") * col("z")).as("szz"))
      val szD = col("sz").cast("double"); val ngD = col("ng").cast("double")
      val tot = g.select(col("ng"), col("sz"),
          f6d(szD * szD / ngD).as("bterm"),
          f6d(col("szz").cast("double") - szD * szD / ngD).as("wterm"))
        .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"), sum(col("sz")).as("szt"),
          sum(col("bterm")).cast("double").as("bsum"),
          sum(col("wterm")).cast("double").as("wsum"))
      val nD = col("n").cast("double"); val kD = col("k").cast("double")
      val b = col("bsum") - col("szt").cast("double") * col("szt").cast("double") / nD
      tot.select(col("k"), col("n"), f6(b).as("b_ss"), f6(col("wsum")).as("w_ss"),
        f6((nD - kD) * b / ((kD - lit(1.0)) * col("wsum"))).as("f_bf"))
    },
      // Brown–Forsythe: histogram lower median (min v with 2·cum ≥ n),
      // integer |x−med| deviations, floor-6 between/within terms +
      // decimal sums, one shared double tree for F
      """WITH per AS (SELECT event_type, user_id, count(*) AS x FROM events GROUP BY 1, 2),
                h AS (SELECT event_type, x, count(*) AS f FROM per GROUP BY 1, 2),
                c AS (SELECT event_type, x, f,
                        CAST(sum(f) OVER (PARTITION BY event_type ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                        CAST(sum(f) OVER (PARTITION BY event_type) AS BIGINT) AS n
                      FROM h),
                med AS (SELECT event_type, min(x) AS med FROM c WHERE 2 * cum >= n GROUP BY 1),
                z AS (SELECT h.event_type, h.f, abs(h.x - med.med) AS z
                      FROM h JOIN med ON h.event_type = med.event_type),
                g AS (SELECT event_type, CAST(sum(f) AS BIGINT) AS ng,
                        CAST(sum(f * z) AS BIGINT) AS sz,
                        CAST(sum(f * z * z) AS BIGINT) AS szz
                      FROM z GROUP BY 1),
                tm AS (SELECT ng, sz,
                         CAST(floor(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS bterm,
                         CAST(floor((CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS wterm
                       FROM g),
                tot AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                          CAST(sum(sz) AS BIGINT) AS szt,
                          CAST(sum(bterm) AS DOUBLE) AS bsum,
                          CAST(sum(wterm) AS DOUBLE) AS wsum
                        FROM tm)
           SELECT k, n,
                  floor((bsum - CAST(szt AS DOUBLE) * CAST(szt AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS b_ss,
                  floor(wsum * 1e6 + 0.5) / 1e6 AS w_ss,
                  floor((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                    * (bsum - CAST(szt AS DOUBLE) * CAST(szt AS DOUBLE) / CAST(n AS DOUBLE))
                    / ((CAST(k AS DOUBLE) - 1.0) * wsum) * 1e6 + 0.5) / 1e6 AS f_bf
           FROM tot"""),

    // Logistic regression by distributed IRLS — P(purchase-heavy user |
    // total activity), the "ML at scale" pattern: THREE quantized Newton steps
    // where each iteration's gradient/Hessian are five DECIMAL sums over
    // the (activity, label) JOINT HISTOGRAM (bounded grid — the corpus
    // contributes one shuffle to build it, every Newton step is
    // grid-scale with the coefficients broadcast as a 1-row frame; at
    // 1000 executors the per-iteration traffic is five numbers). The
    // per-cell sigmoid is floor-6-quantized and clamped to
    // [1e-6, 1−1e-6] (so the log-likelihood never hits ln 0), the 2×2
    // Newton solve is one shared double tree, and coefficients are
    // floor-6 after every step — DuckDB replays the identical three
    // unrolled CTE stages bit-for-bit.
    Query("x_logit_newton", (s, dir) => {
      // label: the purchase-heavy user; feature: total events
      val per = purchaseLabel(s, dir)
      val (hist, coef) = graft.ext.Stats.logisticIrls(per, col("x"), col("y"), 3)
      val fD = col("f").cast("double")
      hist.crossJoin(broadcast(coef))
        .withColumn("p", graft.ext.Stats.logisticP(col("x")))
        .agg(sum(col("f")).as("n"), sum(col("f") * col("y")).as("n_pos"),
          max(col("b0")).as("b0"), max(col("b1")).as("b1"),
          sum(f6d(fD * when(col("y") === 1, log(col("p")))
            .otherwise(log(lit(1.0) - col("p"))))).cast("double").as("log_lik"))
    },
      // logistic IRLS: 3 unrolled Newton CTE stages (logitIters), final
      // clamped-sigmoid log-likelihood as a decimal sum
      s"""WITH ${purchaseLabelSql()},
                h AS (SELECT x, y, count(*) AS f FROM per GROUP BY 1, 2),
                cf0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                $logitIters
           SELECT CAST(sum(h.f) AS BIGINT) AS n,
                  CAST(sum(h.f * h.y) AS BIGINT) AS n_pos,
                  max(c.b0) AS b0, max(c.b1) AS b1,
                  CAST(sum(CAST(floor(CAST(h.f AS DOUBLE)
                    * (CASE WHEN h.y = 1 THEN ln($logitP) ELSE ln(1.0 - $logitP) END)
                    * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS log_lik
           FROM h CROSS JOIN cf3 c"""),

    // McNemar's paired test: do the two cheap proxy classifiers
    // (A: total activity ≥ population median; B: active-day span ≥
    // median) disagree asymmetrically about who is purchase-heavy
    // (share ≥ 1/5 — the x_logit_newton label)? Both medians
    // are histogram lower medians (the x_levene integer test), truth and
    // predictions land in one per-user pass, and the test consumes only
    // the 2×2 disagreement counts — b, c, and χ² with/without continuity
    // correction from exact integers.
    Query("x_mcnemar", (s, dir) => {
      val per = purchaseLabel(s, dir, "tot", Seq(countDistinct(col("day")).as("days")))
      val medTot = lowerMedian(per, "tot").select(col("med").as("med_tot"))
      val medDays = lowerMedian(per, "days").select(col("med").as("med_days"))
      val lab = per.crossJoin(broadcast(medTot)).crossJoin(broadcast(medDays))
        .withColumn("a_ok", ((col("tot") >= col("med_tot")).cast("int") === col("y")).cast("long"))
        .withColumn("b_ok", ((col("days") >= col("med_days")).cast("int") === col("y")).cast("long"))
      val ct = lab.agg(
        sum(when(col("a_ok") === 1 && col("b_ok") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("a_ok") === 0 && col("b_ok") === 1, 1L).otherwise(0L)).as("c"))
      val bD = col("b").cast("double"); val cD = col("c").cast("double")
      ct.select(col("b"), col("c"), (col("b") + col("c")).as("n_disagree"),
        f6((bD - cD) * (bD - cD) / (bD + cD)).as("chi2"),
        f6((abs(bD - cD) - lit(1.0)) * (abs(bD - cD) - lit(1.0)) / (bD + cD)).as("chi2_cc"))
    },
      // McNemar: histogram lower medians for both proxies, 2×2
      // disagreement counts, χ² with/without continuity from integers
      s"""WITH ${purchaseLabelSql("tot", Seq(s"count(DISTINCT $dayE) AS days"))},
                ${lowerMedianSql("t", "tot")},
                ${lowerMedianSql("d", "days")},
                lab AS (SELECT
                          CASE WHEN (CASE WHEN tot >= med_tot THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END AS a_ok,
                          CASE WHEN (CASE WHEN days >= med_days THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END AS b_ok
                        FROM per CROSS JOIN mt CROSS JOIN md),
                cts AS (SELECT
                          CAST(sum(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                          CAST(sum(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
                        FROM lab)
           SELECT b, c, b + c AS n_disagree,
                  floor((CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE))
                    / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS chi2,
                  floor((abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0) * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                    / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS chi2_cc
           FROM cts"""),

    // exponential-smoothing forecast (SES, α=1/2): the recurrence
    // s_t = αx_t + (1−α)s_{t−1} unrolled to its closed form over the
    // per-type day grid — every weight 0.5^k is DYADIC so each term
    // x_k·0.5^k is an EXACT double product (the x_decay_engagement
    // principle applied to a recurrence); grid² join is |days|² metadata
    // per type. Scored by next-day mean absolute error.
    Query("x_forecast_ses", (s, dir) => {
      val dc = indexedDaily(s, dir)
      val a = dc.select(col("event_type"), col("idx").as("t"), col("day"))
      val b = dc.select(col("event_type"), col("idx").as("k"), col("c").as("xk"))
      val terms = a.join(b, "event_type").filter(col("k") <= col("t"))
        .withColumn("coef",
          when(col("k") === 0, pow(lit(0.5), col("t").cast("double")))
            .otherwise(pow(lit(0.5), (col("t") - col("k") + lit(1)).cast("double"))))
        .withColumn("term",
          (floor(col("xk").cast("double") * col("coef") * lit(1e6) + lit(0.5)) / lit(1e6))
            .cast("decimal(28,6)"))
      val sm = terms.groupBy("event_type", "t", "day")
        .agg(sum(col("term")).cast("double").as("s"))
      val nxt = dc.select(col("event_type"), (col("idx") - 1).as("t"), col("c").as("x_next"))
      sm.join(nxt, Seq("event_type", "t"))
        .withColumn("abs_err",
          floor(abs(col("x_next").cast("double") - col("s")) * lit(1e6) + lit(0.5)) / lit(1e6))
        .transform(forecastMae)
    },
      // SES forecast: dyadic-weight closed form, floor-6 terms + decimal
      // sums, next-day MAE
      s"""WITH $indexedDailySql,
                 t AS (SELECT a.event_type, a.idx AS t, a.day, b.idx AS k, b.c AS xk
                       FROM ix a JOIN ix b ON a.event_type = b.event_type AND b.idx <= a.idx),
                 tm AS (SELECT event_type, t, day,
                          CAST(floor(CAST(xk AS DOUBLE)
                            * (CASE WHEN k = 0 THEN pow(0.5, CAST(t AS DOUBLE))
                                    ELSE pow(0.5, CAST(t - k + 1 AS DOUBLE)) END)
                            * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS term
                        FROM t),
                 sm AS (SELECT event_type, t, day, CAST(sum(term) AS DOUBLE) AS s
                        FROM tm GROUP BY 1, 2, 3),
                 er AS (SELECT sm.event_type,
                          floor(abs(CAST(nx.c AS DOUBLE) - sm.s) * 1e6 + 0.5) / 1e6 AS abs_err
                        FROM sm JOIN ix nx
                          ON sm.event_type = nx.event_type AND nx.idx = sm.t + 1)
            SELECT event_type, count(*) AS n_forecasts,
                   floor(CAST(sum(CAST(abs_err AS DECIMAL(28,6))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS mae
            FROM er GROUP BY event_type ORDER BY event_type"""),

    // Holt linear-trend forecast (double exponential smoothing,
    // α=β=1/2): the coupled recursions l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}),
    // b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} have NO dyadic closed form (the
    // x_forecast_ses trick doesn't extend), so instead the STATE is
    // floor-quantized to 6 dp at every step — a deterministic quantized
    // dynamical system that replays bit-identically in Spark's aggregate
    // HOF and DuckDB's recursive CTE. Per (type, t) the fold re-runs the
    // first t steps: O(days²) per type, bounded by the CALENDAR grid
    // (metadata at any corpus scale — the x_forecast_ses envelope); the
    // only data-scale work is the daily-count shuffle. Scored by
    // next-day MAE like SES, so the two models are directly comparable.
    Query("x_forecast_holt", (s, dir) => {
      val dc = indexedDaily(s, dir)
      val arr = dailyArrays(dc)
      val tgt = dc.filter(col("idx") >= 1)
        .select(col("event_type"), col("idx").as("t"), col("c").as("x"))
      tgt.join(arr, "event_type")
        .withColumn("st", expr(
          """aggregate(slice(a, 2, t - 1),
               named_struct('l', CAST(a[0].c AS DOUBLE), 'b', CAST(0.0 AS DOUBLE)),
               (st, e) -> named_struct(
                 'l', floor((0.5D * CAST(e.c AS DOUBLE) + 0.5D * (st.l + st.b)) * 1e6 + 0.5D) / 1e6,
                 'b', floor((0.5D * (floor((0.5D * CAST(e.c AS DOUBLE) + 0.5D * (st.l + st.b)) * 1e6 + 0.5D) / 1e6 - st.l) + 0.5D * st.b) * 1e6 + 0.5D) / 1e6))"""))
        .withColumn("abs_err",
          expr("floor(abs(CAST(x AS DOUBLE) - (st.l + st.b)) * 1e6 + 0.5) / 1e6"))
        .transform(forecastMae)
    },
      // Holt: the same quantized recursion replayed by a recursive CTE
      // (per-row joins are legal there — only aggregates are not)
      s"""WITH RECURSIVE $indexedDailySql,
                r AS (SELECT event_type, 0 AS t, CAST(c AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
                      FROM ix WHERE idx = 0
                      UNION ALL
                      SELECT ix.event_type, r.t + 1,
                        floor((0.5 * CAST(ix.c AS DOUBLE) + 0.5 * (r.l + r.b)) * 1e6 + 0.5) / 1e6,
                        floor((0.5 * (floor((0.5 * CAST(ix.c AS DOUBLE) + 0.5 * (r.l + r.b)) * 1e6 + 0.5) / 1e6 - r.l)
                               + 0.5 * r.b) * 1e6 + 0.5) / 1e6
                      FROM r JOIN ix ON ix.event_type = r.event_type AND ix.idx = r.t + 1),
                er AS (SELECT r.event_type,
                         floor(abs(CAST(nx.c AS DOUBLE) - (r.l + r.b)) * 1e6 + 0.5) / 1e6 AS abs_err
                       FROM r JOIN ix nx ON nx.event_type = r.event_type AND nx.idx = r.t + 1)
           SELECT event_type, count(*) AS n_forecasts,
                  floor(CAST(sum(CAST(abs_err AS DECIMAL(28,6))) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS mae
           FROM er GROUP BY 1 ORDER BY 1"""),

    // Holt–Winters additive-seasonal forecast (period 7, α=β=γ=1/2) —
    // completes the SES → Holt → HW ladder with the model that can see
    // the weekly cycle, scored by the same next-day MAE so all three are
    // directly comparable. Same determinism contract as x_forecast_holt:
    // every state update (level, trend, AND the rotating 7-slot seasonal
    // buffer) is floor-quantized to 6 dp, so the fold replays
    // bit-identically in Spark's aggregate HOF and DuckDB's recursive
    // CTE (which carries the seasonal buffer as a LIST column). Unlike
    // Holt's per-target refold this is ONE linear fold per type that
    // accumulates the error series in-state — O(days) per type, and the
    // only data-scale work is the daily-count shuffle.
    Query("x_holt_winters", (s, dir) => {
      val arr = dailyArrays(indexedDaily(s, dir))
        .filter(size(col("a")) >= 8)
        .withColumn("l0", expr(
          "floor(aggregate(slice(a, 1, 7), CAST(0.0 AS DOUBLE), (s, e) -> s + CAST(e.c AS DOUBLE)) / 7.0 * 1e6 + 0.5) / 1e6"))
      val folded = arr.withColumn("st", expr(
        """aggregate(slice(a, 8, size(a) - 7),
             named_struct(
               'l', l0,
               'b', CAST(0.0 AS DOUBLE),
               's7', transform(slice(a, 1, 7), e -> floor((CAST(e.c AS DOUBLE) - l0) * 1e6 + 0.5) / 1e6),
               'errs', CAST(array() AS ARRAY<DOUBLE>)),
             (st, e) -> named_struct(
               'l', floor((0.5D * (CAST(e.c AS DOUBLE) - st.s7[0]) + 0.5D * (st.l + st.b)) * 1e6 + 0.5D) / 1e6,
               'b', floor((0.5D * (floor((0.5D * (CAST(e.c AS DOUBLE) - st.s7[0]) + 0.5D * (st.l + st.b)) * 1e6 + 0.5D) / 1e6 - st.l) + 0.5D * st.b) * 1e6 + 0.5D) / 1e6,
               's7', concat(slice(st.s7, 2, 6), array(
                 floor((0.5D * (CAST(e.c AS DOUBLE) - floor((0.5D * (CAST(e.c AS DOUBLE) - st.s7[0]) + 0.5D * (st.l + st.b)) * 1e6 + 0.5D) / 1e6) + 0.5D * st.s7[0]) * 1e6 + 0.5D) / 1e6)),
               'errs', concat(st.errs, array(
                 floor(abs(CAST(e.c AS DOUBLE) - (st.l + st.b + st.s7[0])) * 1e6 + 0.5D) / 1e6))))"""))
      folded.select(col("event_type"), explode(col("st.errs")).as("abs_err"))
        .transform(forecastMae)
    },
      // Holt–Winters: the same 6-dp-quantized (level, trend, seasonal-7)
      // recursion replayed by a recursive CTE carrying the seasonal
      // buffer as a LIST (1-based: s7[1] = s_{t-7}; [2:7] + append
      // rotates)
      s"""WITH RECURSIVE $indexedDailySql,
                l0 AS (SELECT event_type,
                         floor(sum(CASE WHEN idx < 7 THEN CAST(c AS DOUBLE) ELSE 0.0 END) / 7.0 * 1e6 + 0.5) / 1e6 AS l0
                       FROM ix GROUP BY 1 HAVING count(*) >= 8),
                init AS (SELECT ix.event_type, 6 AS t, l0.l0 AS l, CAST(0.0 AS DOUBLE) AS b,
                           list(floor((CAST(ix.c AS DOUBLE) - l0.l0) * 1e6 + 0.5) / 1e6 ORDER BY ix.idx) AS s7,
                           CAST(NULL AS DOUBLE) AS err
                         FROM ix JOIN l0 USING (event_type) WHERE ix.idx < 7
                         GROUP BY ix.event_type, l0.l0),
                r AS (SELECT * FROM init
                      UNION ALL
                      SELECT r.event_type, r.t + 1,
                        floor((0.5 * (CAST(ix.c AS DOUBLE) - r.s7[1]) + 0.5 * (r.l + r.b)) * 1e6 + 0.5) / 1e6,
                        floor((0.5 * (floor((0.5 * (CAST(ix.c AS DOUBLE) - r.s7[1]) + 0.5 * (r.l + r.b)) * 1e6 + 0.5) / 1e6 - r.l) + 0.5 * r.b) * 1e6 + 0.5) / 1e6,
                        list_concat(r.s7[2:7], [floor((0.5 * (CAST(ix.c AS DOUBLE) - floor((0.5 * (CAST(ix.c AS DOUBLE) - r.s7[1]) + 0.5 * (r.l + r.b)) * 1e6 + 0.5) / 1e6) + 0.5 * r.s7[1]) * 1e6 + 0.5) / 1e6]),
                        floor(abs(CAST(ix.c AS DOUBLE) - (r.l + r.b + r.s7[1])) * 1e6 + 0.5) / 1e6
                      FROM r JOIN ix ON ix.event_type = r.event_type AND ix.idx = r.t + 1)
           SELECT event_type, count(err) AS n_forecasts,
                  floor(CAST(sum(CAST(err AS DECIMAL(28,6))) AS DOUBLE)
                    / CAST(count(err) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS mae
           FROM r WHERE err IS NOT NULL GROUP BY 1 ORDER BY 1"""),

    // seasonal decomposition of daily volumes (STL-lite): trend = 7-day
    // centered moving average, weekly seasonal = per-weekday mean of the
    // detrended series, residual = the rest. The windows are
    // type-partitioned over the bounded day grid; the moving SUM is over
    // INTEGER counts (exact under Spark's sliding add/remove and
    // DuckDB's segment trees alike — a double sum would diverge);
    // seasonal means use floor-6 terms + decimal sums.
    Query("x_seasonality", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
      val tr = dc
        .withColumn("trend", sum(col("c")).over(w7).cast("double") / count(col("c")).over(w7).cast("double"))
        .withColumn("det", col("c").cast("double") - col("trend"))
        .withColumn("dow", dayofweek(to_date(col("day"))))
      val seas = tr.groupBy("event_type", "dow").agg(
        (floor(sum((floor(col("det") * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)")).cast("double")
          / count(lit(1)).cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)).as("seasonal"))
      tr.join(broadcast(seas), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("c"),
          (floor(col("trend") * lit(1e6) + lit(0.5)) / lit(1e6)).as("trend"),
          col("seasonal"),
          (floor((col("det") - col("seasonal")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("residual"))
        .orderBy("event_type", "day")
    },
      // seasonality: integer moving sums, floor-6 + decimal seasonal
      // means, weekday via dayofweek+1 (DuckDB is 0=Sunday)
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                 tr AS (SELECT event_type, day, c,
                          CAST(sum(c) OVER w AS DOUBLE) / CAST(count(c) OVER w AS DOUBLE) AS trend,
                          dayofweek(CAST(day AS DATE)) + 1 AS dow
                        FROM dc
                        WINDOW w AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
                 det AS (SELECT *, CAST(c AS DOUBLE) - trend AS det FROM tr),
                 seas AS (SELECT event_type, dow,
                            floor(CAST(sum(CAST(floor(det * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS seasonal
                          FROM det GROUP BY 1, 2)
            SELECT d.event_type, d.day, d.c,
                   floor(trend * 1e6 + 0.5) / 1e6 AS trend,
                   seasonal,
                   floor((det - seasonal) * 1e6 + 0.5) / 1e6 AS residual
            FROM det d JOIN seas ON d.event_type = seas.event_type AND d.dow = seas.dow
            ORDER BY d.event_type, d.day"""),

    // Wald–Wolfowitz runs test on daily volume moves: is the up/down
    // sequence random, or trending/oscillating? Runs and sign counts are
    // exact integers off one type-partitioned lag; E[R] and σ are a
    // single double tree (z floor-4). Ties (equal consecutive counts)
    // count as "down" — fixed deterministic convention on both sides.
    Query("x_runs_test", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val mv = dc.withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("up", (col("c") > col("prev")).cast("long"))
      val runs = mv.withColumn("pu", lag(col("up"), 1).over(w))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("up")).as("n1"),
          (sum(when(col("pu").isNull || col("pu") =!= col("up"), 1L).otherwise(0L))).as("r"))
      val n = col("n").cast("double")
      val n1 = col("n1").cast("double")
      val n2 = (col("n") - col("n1")).cast("double")
      val er = lit(2.0) * n1 * n2 / n + lit(1.0)
      val s2 = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n) / (n * n * (n - lit(1.0)))
      runs.filter(col("n1") > 0 && col("n") - col("n1") > 0)
        .select(col("event_type"), col("n"), col("n1"), col("r"),
          (floor((col("r").cast("double") - er) / sqrt(s2) * lit(1e4) + lit(0.5)) / lit(1e4)).as("z"))
        .orderBy("event_type")
    },
      // runs test: integer runs off a double lag, one double tree for z
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                 mv AS (SELECT event_type, day, c,
                          lag(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
                        FROM dc),
                 up AS (SELECT event_type, day,
                          CAST(c > prev AS BIGINT) AS up
                        FROM mv WHERE prev IS NOT NULL),
                 rr AS (SELECT event_type, day, up,
                          lag(up) OVER (PARTITION BY event_type ORDER BY day) AS pu
                        FROM up),
                 st AS (SELECT event_type, count(*) AS n,
                          CAST(sum(up) AS BIGINT) AS n1,
                          CAST(sum(CASE WHEN pu IS NULL OR pu <> up THEN 1 ELSE 0 END) AS BIGINT) AS r
                        FROM rr GROUP BY 1)
            SELECT event_type, n, n1, r,
                   floor((CAST(r AS DOUBLE)
                     - (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE) + 1.0))
                     / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
                         * (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) - CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                     * 1e4 + 0.5) / 1e4 AS z
            FROM st WHERE n1 > 0 AND n - n1 > 0 ORDER BY event_type"""),

    // CUSUM changepoint detection on daily volumes: per type, the day
    // where the cumulative deviation from the overall mean peaks. The
    // cumulative statistic is kept INTEGER-EXACT (Σ(c·n − Σc) — scaled
    // by n so no division touches the running sum; any summation tree
    // gives the same integers), normalized only at the end.
    Query("x_changepoint", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val st = dc.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("c")).as("sx"), sum(col("c") * col("c")).as("sxx"))
      val wrun = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = dc.join(broadcast(st), "event_type")
        .withColumn("sdev", sum(col("c") * col("n") - col("sx")).over(wrun))
      val variance = (col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
        / col("n").cast("double")) / col("n").cast("double")
      val ranked = cs
        .withColumn("stat",
          abs(col("sdev").cast("double")) / (col("n").cast("double") * sqrt(variance)))
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(abs(col("sdev")).desc, col("day"))))
      ranked.filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          (floor(col("stat") * lit(1e4) + lit(0.5)) / lit(1e4)).as("max_cusum"))
        .orderBy("event_type")
    },
      // changepoint: integer-exact scaled cumulative deviations,
      // normalized once at the end; ties -> earliest day
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                 st AS (SELECT event_type, count(*) AS n,
                          CAST(sum(c) AS BIGINT) AS sx, CAST(sum(c * c) AS BIGINT) AS sxx
                        FROM dc GROUP BY 1),
                 cs AS (SELECT dc.event_type, dc.day, n, sx, sxx,
                          CAST(sum(dc.c * n - sx) OVER (PARTITION BY dc.event_type ORDER BY dc.day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sdev
                        FROM dc JOIN st ON dc.event_type = st.event_type),
                 r AS (SELECT event_type, day,
                         abs(CAST(sdev AS DOUBLE)) / (CAST(n AS DOUBLE)
                           * sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))) AS stat,
                         row_number() OVER (PARTITION BY event_type ORDER BY abs(sdev) DESC, day) AS rk
                       FROM cs)
            SELECT event_type, day AS cp_day,
                   floor(stat * 1e4 + 0.5) / 1e4 AS max_cusum
            FROM r WHERE rk = 1 ORDER BY event_type"""),

    // join-key skew profiler: the audit that tells you WHICH keys need
    // salting before a join ships — per key column: cardinality, top-key
    // share, and the p99/median frequency ratio. Key-frequency tables are
    // one map-side-combined count each; stats ride the a12 exact
    // percentiles. At 100 TB the frequency table is key-cardinality-
    // bounded, never row-bounded.
    Query("x_skew_profile", (s, dir) => {
      def prof(df: DataFrame, keyCol: String, label: String): DataFrame = {
        val freq = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("f"))
        freq.agg(
          lit(label).as("key_col"),
          count(lit(1)).as("n_keys"),
          sum(col("f")).as("n_rows"),
          max(col("f")).as("max_freq"),
          round(expr("percentile(f, 0.5)"), 4).as("p50_freq"),
          round(expr("percentile(f, 0.99)"), 4).as("p99_freq"))
      }
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val e = events(s, dir)
      prof(li, "l_orderkey", "lineitem.l_orderkey")
        .unionByName(prof(li, "l_partkey", "lineitem.l_partkey"))
        .unionByName(prof(o, "o_custkey", "orders.o_custkey"))
        .unionByName(prof(e, "user_id", "events.user_id"))
        .withColumn("top_share",
          floor(col("max_freq").cast("double") / col("n_rows").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
        .withColumn("p99_over_p50",
          floor(col("p99_freq") / col("p50_freq") * lit(1e4) + lit(0.5)) / lit(1e4))
        .orderBy("key_col")
    },
      // skew profile: per-key frequency tables, exact percentiles
      s"""WITH f1 AS (SELECT l_orderkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
                 f2 AS (SELECT l_partkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
                 f3 AS (SELECT o_custkey AS k, count(*) AS f FROM orders GROUP BY 1),
                 f4 AS (SELECT user_id AS k, count(*) AS f FROM events GROUP BY 1),
                 u AS (
                   SELECT 'lineitem.l_orderkey' AS key_col, count(*) AS n_keys,
                          CAST(sum(f) AS BIGINT) AS n_rows, max(f) AS max_freq,
                          round(quantile_cont(f, 0.5), 4) AS p50_freq,
                          round(quantile_cont(f, 0.99), 4) AS p99_freq FROM f1
                   UNION ALL
                   SELECT 'lineitem.l_partkey', count(*), CAST(sum(f) AS BIGINT), max(f),
                          round(quantile_cont(f, 0.5), 4), round(quantile_cont(f, 0.99), 4) FROM f2
                   UNION ALL
                   SELECT 'orders.o_custkey', count(*), CAST(sum(f) AS BIGINT), max(f),
                          round(quantile_cont(f, 0.5), 4), round(quantile_cont(f, 0.99), 4) FROM f3
                   UNION ALL
                   SELECT 'events.user_id', count(*), CAST(sum(f) AS BIGINT), max(f),
                          round(quantile_cont(f, 0.5), 4), round(quantile_cont(f, 0.99), 4) FROM f4)
            SELECT key_col, n_keys, n_rows, max_freq, p50_freq, p99_freq,
                   floor(CAST(max_freq AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6 AS top_share,
                   floor(p99_freq / p50_freq * 1e4 + 0.5) / 1e4 AS p99_over_p50
            FROM u ORDER BY key_col"""),

    // Poisson bootstrap 95% CI for mean event value — THE distributed
    // resampling scheme (Chamandy et al., Google 2012): resample b gives
    // each row weight ~ Poisson(1), derived from md5(id·B+b) against
    // INTEGER thresholds (cumulative pmf · 2²⁴ — integer compares, no
    // float-literal parse divergence). 32 resamples ride one explode →
    // one 32-group decimal aggregation; the CI is an exact percentile
    // over the 32 resample means. No global resample pass exists at any
    // scale.
    Query("x_bootstrap_ci", (s, dir) => {
      val e = events(s, dir).select(col("event_id"), col("value"))
      val b = e.withColumn("b", explode(sequence(lit(0), lit(31))))
        .withColumn("h", graft.ext.Mixture.hash24(
          (col("event_id") * lit(32L) + col("b")).cast("string")))
        .withColumn("w",
          when(col("h") < 6171993, 0L).when(col("h") < 12343986, 1L)
            .when(col("h") < 15429982, 2L).when(col("h") < 16458648, 3L)
            .when(col("h") < 16715814, 4L).when(col("h") < 16767247, 5L)
            .when(col("h") < 16775819, 6L).otherwise(7L))
      val means = b.groupBy("b").agg(
          (sum(col("w").cast("decimal(18,4)") * col("value").cast("decimal(18,4)")).cast("double")
            / sum(col("w")).cast("double")).as("mean_b"))
      means.agg(
        count(lit(1)).as("n_resamples"),
        round(expr("percentile(mean_b, 0.5)"), 6).as("mean_med"),
        round(expr("percentile(mean_b, 0.025)"), 6).as("ci_lo"),
        round(expr("percentile(mean_b, 0.975)"), 6).as("ci_hi"))
    },
      // Poisson bootstrap: integer pmf thresholds on the 24-bit hash,
      // decimal weighted sums, exact percentile CI over 32 means
      """WITH b AS (SELECT event_id, value, t.b AS b,
                        CAST(CAST(('0x' || substring(md5(CAST(event_id * 32 + t.b AS VARCHAR)), 1, 6)) AS BIGINT) AS INTEGER) AS h
                      FROM events, (SELECT unnest(range(0, 32)) AS b) t),
                w AS (SELECT b, value,
                        CASE WHEN h < 6171993 THEN 0 WHEN h < 12343986 THEN 1
                             WHEN h < 15429982 THEN 2 WHEN h < 16458648 THEN 3
                             WHEN h < 16715814 THEN 4 WHEN h < 16767247 THEN 5
                             WHEN h < 16775819 THEN 6 ELSE 7 END AS w
                      FROM b),
                m AS (SELECT b,
                        CAST(sum(CAST(w AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                          / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS mean_b
                      FROM w GROUP BY 1)
           SELECT count(*) AS n_resamples,
                  round(quantile_cont(mean_b, 0.5), 6) AS mean_med,
                  round(quantile_cont(mean_b, 0.025), 6) AS ci_lo,
                  round(quantile_cont(mean_b, 0.975), 6) AS ci_hi
           FROM m"""),

    // held-out next-event prediction: train the first-order Markov
    // argmax predictor on EVEN users, score it on ODD users — the
    // model-eval loop (train/test split, per-class accuracy) as one
    // plan. The transition matrix is |types|² bounded metadata; its
    // argmax window is partitioned by from_type; the test side joins the
    // broadcast predictor.
    Query("x_markov_eval", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      val pairs = e.withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      val train = pairs.filter(col("grp") === 0)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val pred = train.withColumn("rk", row_number().over(
          Window.partitionBy("from_type").orderBy(col("n").desc, col("to_type"))))
        .filter(col("rk") === 1)
        .select(col("from_type"), col("to_type").as("predicted"))
      pairs.filter(col("grp") === 1)
        .join(broadcast(pred), Seq("from_type"), "left")
        .groupBy("from_type")
        .agg(
          count(lit(1)).as("n_test"),
          sum(when(col("event_type") === col("predicted"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          floor(col("n_correct").cast("double") / col("n_test").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .orderBy("from_type")
    },
      // Markov eval: even-user argmax predictor (ties -> lexicographic
      // smallest to_type), odd-user per-class accuracy
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
                p AS (SELECT user_id, event_type,
                        lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS from_type,
                        user_id % 2 AS grp
                      FROM e),
                pairs AS (SELECT * FROM p WHERE from_type IS NOT NULL),
                tr AS (SELECT from_type, event_type AS to_type, count(*) AS n
                       FROM pairs WHERE grp = 0 GROUP BY 1, 2),
                pr AS (SELECT from_type, to_type AS predicted FROM
                         (SELECT *, row_number() OVER (PARTITION BY from_type ORDER BY n DESC, to_type) AS rk FROM tr)
                       WHERE rk = 1)
           SELECT pairs.from_type, count(*) AS n_test,
                  CAST(sum(CASE WHEN event_type = predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                  floor(CAST(sum(CASE WHEN event_type = predicted THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*) * 1e4 + 0.5) / 1e4 AS accuracy
           FROM pairs LEFT JOIN pr ON pairs.from_type = pr.from_type
           WHERE grp = 1 GROUP BY pairs.from_type ORDER BY pairs.from_type"""),

    // Zipf-law fit: regress ln(freq) on ln(rank) over the top-1000 word
    // grid (TakeOrdered — bounded at any corpus scale) — the corpus
    // health check that the frequency curve has the natural-language
    // slope (~−1). Log terms floor-6, products re-rounded, DECIMAL-
    // summed; the OLS solve is one double tree.
    Query("x_zipf_fit", (s, dir) => {
      val top = t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(1000)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(constKey(col("cnt"))).orderBy(col("cnt").desc, col("w"))))
      val xy = top
        .withColumn("x", f6(log(col("rnk").cast("double"))))
        .withColumn("y", f6(log(col("cnt").cast("double"))))
      val st = olsMoments(xy)
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))
      st.select(col("n").as("n_ranks"),
        (floor(-slope * lit(1e4) + lit(0.5)) / lit(1e4)).as("zipf_s"),
        (floor((col("sy") - slope * col("sx")) / nD * lit(1e4) + lit(0.5)) / lit(1e4)).as("intercept"))
    },
      // Zipf fit: floor-6 log terms over the deterministic rank grid
      s"""WITH v AS (SELECT w, count(*) AS cnt
                       FROM (SELECT unnest($toksE) AS w FROM documents) GROUP BY 1),
                 top AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
                         FROM v QUALIFY rnk <= 1000),
                 xy AS (SELECT floor(ln(CAST(rnk AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS x,
                               floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS y
                        FROM top),
                 $olsMomentsSql
            SELECT n AS n_ranks,
                   floor(-((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * 1e4 + 0.5) / 1e4 AS zipf_s,
                   floor((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                     / CAST(n AS DOUBLE) * 1e4 + 0.5) / 1e4 AS intercept
            FROM st"""),

    // Good–Turing frequency smoothing over the BIGRAM vocabulary (the
    // unigram vocab of this corpus has no rare tail — min count 26 — so
    // the estimator targets the sparse event space it was invented for):
    // frequency-of-frequencies N_r, the empirical Turing estimate
    // r* = (r+1)·N_{r+1}/N_r (exact integers + one floor-6 division;
    // null where N_{r+1} is empty, the honest gap SGT would
    // interpolate), Good's unseen-mass estimate p0 = N_1/N, and the
    // log-log decline rate of N_r (the x_zipf_fit floored-ln +
    // decimal-sum OLS) as the smoothing-curve diagnostic. Everything
    // downstream of the one bigram shuffle is grid-scale: N_r has at
    // most |distinct counts| rows at any corpus size.
    Query("x_good_turing", (s, dir) => {
      val v = t(s, dir, "documents").select(TF.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(graft.functions.WordNgrams.wordNgrams(col("tk"), 2)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val nr = v.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
      val xy = nr.withColumn("x", f6(log(col("r").cast("double"))))
        .withColumn("y", f6(log(col("n_r").cast("double"))))
      val st = olsMoments(xy)
      val nD = col("n").cast("double")
      val fit = st.select(
        (floor((nD * col("sxy") - col("sx") * col("sy"))
          / (nD * col("sxx") - col("sx") * col("sx")) * lit(1e4) + lit(0.5)) / lit(1e4)).as("b_loglog"))
      val tot = v.agg(sum(col("c")).as("n_tokens"))
      val n1 = nr.filter(col("r") === 1).select(col("n_r").as("n1"))
      val nxt = nr.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
      nr.filter(col("r") <= 10).join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(fit)).crossJoin(broadcast(tot)).crossJoin(broadcast(n1))
        .select(col("r"), col("n_r"),
          f6((col("r") + lit(1)).cast("double") * col("n_next").cast("double")
            / col("n_r").cast("double")).as("r_star"),
          col("b_loglog"),
          f6(col("n1").cast("double") / col("n_tokens").cast("double")).as("p0_unseen"))
        .orderBy("r")
    },
      // Good–Turing: bigram freq-of-freqs grid, empirical r* via the r+1
      // left join, zipf-style floored-ln OLS for the decline rate
      s"""WITH tkx AS (SELECT $toksE AS tk FROM documents),
                 bg AS (SELECT tk[i] || ' ' || tk[i + 1] AS w
                        FROM tkx, unnest(range(1, len(tk))) AS u(i)
                        WHERE len(tk) >= 2),
                 v AS (SELECT w, count(*) AS c FROM bg GROUP BY 1),
                 nr AS (SELECT c AS r, count(*) AS n_r FROM v GROUP BY 1),
                 xy AS (SELECT floor(ln(CAST(r AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS x,
                               floor(ln(CAST(n_r AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS y
                        FROM nr),
                 $olsMomentsSql,
                 fit AS (SELECT floor((CAST(n AS DOUBLE) * sxy - sx * sy)
                           / (CAST(n AS DOUBLE) * sxx - sx * sx) * 1e4 + 0.5) / 1e4 AS b_loglog
                         FROM st),
                 tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM v),
                 n1 AS (SELECT n_r AS n1 FROM nr WHERE r = 1)
            SELECT nr.r, nr.n_r,
                   floor(CAST(nr.r + 1 AS DOUBLE) * CAST(nx.n_r AS DOUBLE)
                     / CAST(nr.n_r AS DOUBLE) * 1e6 + 0.5) / 1e6 AS r_star,
                   fit.b_loglog,
                   floor(CAST(n1.n1 AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p0_unseen
            FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1
            CROSS JOIN fit CROSS JOIN tot CROSS JOIN n1
            WHERE nr.r <= 10 ORDER BY nr.r"""),

    // revenue concentration (Gini) over per-user monetary totals,
    // DOLLAR-BINNED so the statistic is computed on a value grid that is
    // range-bounded at any corpus scale (the x_mannwhitney discipline —
    // a user-ranked Lorenz sum would need a global sort over users).
    // Lorenz prefix-sum form over the SORTED dollar histogram:
    //   Σᵢⱼ fᵢfⱼ|mᵢ−mⱼ| = 2·Σᵢ fᵢ·(mᵢ·F₍<ᵢ₎ − S₍<ᵢ₎)
    // with F/S the running count/dollar prefix sums — O(|h| log |h|)
    // instead of the |h|² pair grid, every term still an exact integer.
    // The ORACLE keeps the pairwise Σfᵢfⱼ|mᵢ−mⱼ| form, so two
    // independently-derived formulas must agree to the integer.
    Query("x_gini", (s, dir) => {
      val per = events(s, dir).groupBy("user_id")
        .agg(floor(sum(col("value").cast("decimal(18,4)")).cast("double")).cast("long").as("m"))
      val h = per.groupBy("m").agg(count(lit(1)).as("f"))
      val w = Window.partitionBy(constKey(col("m"))).orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
      val sums = h
        .withColumn("fprev", coalesce(sum(col("f")).over(w), lit(0L)))
        .withColumn("sprev", coalesce(sum(col("f") * col("m")).over(w), lit(0L)))
        .agg((lit(2L) * sum(col("f") * (col("m") * col("fprev") - col("sprev")))).as("num"))
      val tot = per.agg(count(lit(1)).as("n"), sum(col("m")).as("sm"))
      sums.crossJoin(broadcast(tot))
        .select(col("n"), col("sm").as("total_dollars"),
          (floor(col("num").cast("double")
            / (lit(2.0) * col("n").cast("double") * col("sm").cast("double"))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("gini"))
    },
      // Gini: dollar-binned grid, exact integer pairwise numerator
      """WITH per AS (SELECT user_id,
                          CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)) AS BIGINT) AS m
                        FROM events GROUP BY 1),
                h AS (SELECT m, count(*) AS f FROM per GROUP BY 1),
                s AS (SELECT CAST(sum(a.f * b.f * abs(a.m - b.m)) AS BIGINT) AS num
                      FROM h a CROSS JOIN h b),
                t AS (SELECT count(*) AS n, CAST(sum(m) AS BIGINT) AS sm FROM per)
           SELECT n, sm AS total_dollars,
                  floor(CAST(num AS DOUBLE) / (2.0 * CAST(n AS DOUBLE) * CAST(sm AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS gini
           FROM s CROSS JOIN t"""),

    // sample-ratio-mismatch guard: is the A/B assignment actually 50/50?
    // One-df chi-square (n0−n1)²/(n0+n1) against the z=2 convention
    // threshold 4.0 (exactly representable — the 3.84-literal parse trap
    // avoided by design, x_wilson_ctr discipline). The first check any
    // experiment readout must pass; one integer aggregation.
    Query("x_srm", (s, dir) => {
      val g = events(s, dir).select(col("user_id")).distinct()
        .agg(
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n1"))
      val d = (col("n0") - col("n1")).cast("double")
      val chi2 = d * d / (col("n0") + col("n1")).cast("double")
      g.select(col("n0"), col("n1"),
        (floor(chi2 * lit(1e6) + lit(0.5)) / lit(1e6)).as("chi2"),
        (chi2 >= lit(4.0)).as("srm_detected"))
    },
      // SRM: integer counts, one double tree, threshold 4.0 exact
      """WITH u AS (SELECT DISTINCT user_id FROM events),
                g AS (SELECT
                        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                        CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
                      FROM u)
           SELECT n0, n1,
                  floor(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2,
                  CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) >= 4.0 AS srm_detected
           FROM g"""),

    // coarsened exact matching ATT (Iacus–King–Porro): users stratified
    // by their EXACT pre-period activity level, treated (odd) vs control
    // (even) outcomes compared only within strata containing both, ATT =
    // treated-weighted mean of stratum gaps. Everything is a stratum-keyed
    // aggregation — strata are value-bounded, so the match never pairs
    // individuals (the scale-safe form of matching). Outcome sums are
    // exact integers; the weighted combine is floor-6 + decimal.
    Query("x_cem_att", (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(
          sum(when(col("day") <= "2024-01-15", 1L).otherwise(0L)).as("x"),
          sum(when(col("day") > "2024-01-15", 1L).otherwise(0L)).as("y"))
        .withColumn("treated", pmod(col("user_id"), lit(2)) === 1)
      val strata = per.groupBy("x").agg(
          sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
          sum(when(col("treated"), col("y")).otherwise(0L)).as("syt"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("nc"),
          sum(when(!col("treated"), col("y")).otherwise(0L)).as("syc"))
        .filter(col("nt") > 0 && col("nc") > 0)
      val totT = strata.agg(sum(col("nt")).as("tt"))
      val att = strata.crossJoin(broadcast(totT))
        .withColumn("gap",
          col("syt").cast("double") / col("nt").cast("double")
            - col("syc").cast("double") / col("nc").cast("double"))
        .withColumn("wgap",
          (floor(col("gap") * (col("nt").cast("double") / col("tt").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
            .cast("decimal(28,6)"))
      att.agg(
        count(lit(1)).as("n_strata"),
        sum(col("nt")).as("n_treated_matched"),
        sum(col("nc")).as("n_control_matched"),
        round(sum(col("wgap")), 4).cast("double").as("att"))
    },
      // CEM ATT: integer stratum sums, floor-6 weighted gaps, decimal sum
      s"""WITH per AS (SELECT user_id,
                           CAST(sum(CASE WHEN $dayE <= '2024-01-15' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                           CAST(sum(CASE WHEN $dayE > '2024-01-15' THEN 1 ELSE 0 END) AS BIGINT) AS y,
                           user_id % 2 = 1 AS treated
                         FROM events GROUP BY 1),
                 s AS (SELECT x,
                         CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                         CAST(sum(CASE WHEN treated THEN y ELSE 0 END) AS BIGINT) AS syt,
                         CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                         CAST(sum(CASE WHEN NOT treated THEN y ELSE 0 END) AS BIGINT) AS syc
                       FROM per GROUP BY 1
                       HAVING nt > 0 AND nc > 0),
                 tt AS (SELECT CAST(sum(nt) AS BIGINT) AS tt FROM s),
                 w AS (SELECT nt, nc,
                         CAST(floor((CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
                           - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
                           * (CAST(nt AS DOUBLE) / CAST(tt AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS wgap
                       FROM s CROSS JOIN tt)
            SELECT count(*) AS n_strata,
                   CAST(sum(nt) AS BIGINT) AS n_treated_matched,
                   CAST(sum(nc) AS BIGINT) AS n_control_matched,
                   CAST(round(sum(wgap), 4) AS DOUBLE) AS att
            FROM w"""),

    // CUPED variance-reduced experiment readout: pre-period activity as
    // the covariate, post-period as the metric, θ = cov(x,y)/var(x) and
    // both group means derived ENTIRELY from exact integer sufficient
    // stats (Σx, Σy, Σxy, Σx² as longs — no per-user float pass), so the
    // whole readout is one deterministic double expression tree. The A/B
    // assignment is user-id parity.
    Query("x_cuped", (s, dir) => {
      val e = events(s, dir)
      val per = e.groupBy("user_id").agg(
          sum(when(col("day") <= "2024-01-15", 1L).otherwise(0L)).as("x"),
          sum(when(col("day") > "2024-01-15", 1L).otherwise(0L)).as("y"))
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      val g = per.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      val nD = col("n").cast("double")
      val theta = (col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double") / nD) /
        (col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / nD)
      val xbar = col("sx").cast("double") / nD
      val gl = g.select(theta.as("theta"), xbar.as("xbar"))
      per.groupBy("grp").agg(
          count(lit(1)).as("n_users"),
          sum(col("x")).as("gx"), sum(col("y")).as("gy"))
        .crossJoin(broadcast(gl))
        .select(col("grp"), col("n_users"),
          (floor(col("gy").cast("double") / col("n_users").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)).as("mean_y"),
          (floor((col("gy").cast("double") - col("theta")
            * (col("gx").cast("double") - col("n_users").cast("double") * col("xbar")))
            / col("n_users").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)).as("mean_y_adj"))
        .orderBy("grp")
    },
      // CUPED: θ and means from exact integer sufficient stats
      s"""WITH per AS (SELECT user_id,
                           CAST(sum(CASE WHEN $dayE <= '2024-01-15' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                           CAST(sum(CASE WHEN $dayE > '2024-01-15' THEN 1 ELSE 0 END) AS BIGINT) AS y,
                           user_id % 2 AS grp
                         FROM events GROUP BY 1),
                 g AS (SELECT count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
                       FROM per),
                 gl AS (SELECT
                          (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS theta,
                          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
                        FROM g),
                 gg AS (SELECT grp, count(*) AS n_users,
                          CAST(sum(x) AS BIGINT) AS gx, CAST(sum(y) AS BIGINT) AS gy
                        FROM per GROUP BY 1)
            SELECT grp, n_users,
                   floor(CAST(gy AS DOUBLE) / CAST(n_users AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_y,
                   floor((CAST(gy AS DOUBLE) - theta * (CAST(gx AS DOUBLE) - CAST(n_users AS DOUBLE) * xbar))
                     / CAST(n_users AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_y_adj
            FROM gg CROSS JOIN gl ORDER BY grp"""),

    // two-sample Kolmogorov–Smirnov distance, each source vs the global
    // quality-score distribution: D = max |CDF_s − CDF_g| evaluated on
    // the ROUND-4 SCORE GRID (every CDF jump happens at a grid point, so
    // the grid max IS the sup). All CDF values are exact-integer ratios;
    // the grid is ≤ 10⁴+1 rows at any corpus scale (x_quantile_norm's
    // bounded-metadata argument), sources × grid is a metadata join.
    Query("x_ks_test", (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        TF.qualityScore(col("text")).as("score"))
      val sg = d.groupBy("source", "score").agg(count(lit(1)).as("c"))
      val grid = d.groupBy(col("score").as("gscore")).agg(count(lit(1)).as("gc"))
        .withColumn("gcum", sum(col("gc")).over(
          Window.partitionBy(constKey(col("gscore"))).orderBy("gscore").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val nTot = d.agg(count(lit(1)).as("n_total"))
      val nSrc = d.groupBy("source").agg(count(lit(1)).as("n_src"))
      // a source has no row at grid points it never hits — fill by
      // cross-producting sources × grid (both bounded), then a windowed
      // cumsum per source
      val allSrc = d.select("source").distinct()
      val full = allSrc.crossJoin(grid.select("gscore", "gcum"))
        .join(sg.select(col("source"), col("score").as("gscore"), col("c")),
          Seq("source", "gscore"), "left")
        .withColumn("scum", sum(coalesce(col("c"), lit(0L))).over(
          Window.partitionBy("source").orderBy("gscore")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      full.join(broadcast(nSrc), "source").crossJoin(broadcast(nTot))
        .withColumn("diff",
          abs(col("scum").cast("double") / col("n_src").cast("double")
            - col("gcum").cast("double") / col("n_total").cast("double")))
        .groupBy("source")
        .agg((floor(max(col("diff")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("ks_d"))
        .orderBy("source")
    },
      // KS: sup over the round-4 score grid of |CDF_s − CDF_g|, all
      // ratios exact-integer-derived
      s"""WITH d AS (SELECT source, $qualityE AS score FROM documents),
                 sg AS (SELECT source, score, count(*) AS c FROM d GROUP BY 1, 2),
                 g AS (SELECT score AS gscore, count(*) AS gc FROM d GROUP BY 1),
                 gc AS (SELECT gscore, sum(gc) OVER (ORDER BY gscore
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum FROM g),
                 nt AS (SELECT count(*) AS n_total FROM d),
                 ns AS (SELECT source, count(*) AS n_src FROM d GROUP BY 1),
                 srcs AS (SELECT DISTINCT source FROM d),
                 fl AS (SELECT srcs.source, gc.gscore, gc.gcum,
                            sum(coalesce(sg.c, 0)) OVER (PARTITION BY srcs.source ORDER BY gc.gscore
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scum
                          FROM srcs CROSS JOIN gc
                          LEFT JOIN sg ON sg.source = srcs.source AND sg.score = gc.gscore)
            SELECT f.source,
                   floor(max(abs(CAST(scum AS DOUBLE) / n_src - CAST(gcum AS DOUBLE) / n_total)) * 1e6 + 0.5) / 1e6 AS ks_d
            FROM fl f JOIN ns ON f.source = ns.source CROSS JOIN nt
            GROUP BY f.source ORDER BY f.source"""),

    // mutual information between event type and weekday — the
    // dependence audit behind "is traffic mix day-of-week stable?".
    // I = Σ p·ln(p/(px·py)) over the |types|×7 grid; terms floor-round-6
    // and DECIMAL-sum (order-independent); marginals are exact integers.
    Query("x_mutual_info", (s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        dayofweek(to_date(col("day"))).as("dow"))
      val joint = e.groupBy("event_type", "dow").agg(count(lit(1)).as("c"))
      val mx = joint.groupBy("event_type").agg(sum(col("c")).as("cx"))
      val my = joint.groupBy("dow").agg(sum(col("c")).as("cy"))
      val n = joint.agg(sum(col("c")).as("n"))
      joint.join(broadcast(mx), "event_type").join(broadcast(my), "dow")
        .crossJoin(broadcast(n))
        .withColumn("term",
          (floor((col("c").cast("double") / col("n").cast("double"))
            * log((col("c").cast("double") * col("n").cast("double"))
              / (col("cx").cast("double") * col("cy").cast("double"))) * lit(1e6) + lit(0.5)) / lit(1e6))
            .cast("decimal(28,6)"))
        .agg(
          count(lit(1)).as("n_cells"),
          round(sum(col("term")), 4).cast("double").as("mi_nats"))
    },
      // MI: floor-6 terms over the bounded type×weekday grid, decimal
      // sum; Spark dayofweek is 1=Sunday, DuckDB is 0=Sunday
      s"""WITH e AS (SELECT event_type, dayofweek(CAST($dayE AS DATE)) + 1 AS dow FROM events),
                 j AS (SELECT event_type, dow, count(*) AS c FROM e GROUP BY 1, 2),
                 mx AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS cx FROM j GROUP BY 1),
                 my AS (SELECT dow, CAST(sum(c) AS BIGINT) AS cy FROM j GROUP BY 1),
                 n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
                 t AS (SELECT floor((CAST(c AS DOUBLE) / n)
                         * ln((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                         * 1e6 + 0.5) / 1e6 AS term
                       FROM j JOIN mx USING (event_type) JOIN my USING (dow) CROSS JOIN n)
            SELECT count(*) AS n_cells,
                   CAST(round(sum(CAST(term AS DECIMAL(28,6))), 4) AS DOUBLE) AS mi_nats
            FROM t"""),

    // Population Stability Index — the industry-standard two-window drift
    // score (complements x_dist_drift's day-over-day KL/TV): event-type
    // mix of the first half-month vs the second, Laplace-smoothed exactly
    // like x_dist_drift, PSI = Σ (q−p)·ln(q/p) with floor-6 terms and a
    // DECIMAL sum. Two grid aggregations; the 0.2 alert threshold is the
    // conventional "significant shift" bar (same parsed double in both
    // engines, compared against a round-4 value).
    Query("x_psi", (s, dir) => {
      val e = events(s, dir).withColumn("half",
        when(col("day") <= "2024-01-15", lit("base")).otherwise(lit("tgt")))
      val c = e.groupBy("half", "event_type").agg(count(lit(1)).as("c"))
      val grid = c.select("event_type").distinct().crossJoin(c.select("half").distinct())
      val full = grid.join(c, Seq("half", "event_type"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val n = full.groupBy("half").agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
      val p = full.join(n, Seq("half"))
        .withColumn("p", (col("c") + 1).cast("double") / (col("n") + col("k")).cast("double"))
      val base = p.filter(col("half") === "base").select(col("event_type"), col("p").as("pb"))
      val tgt = p.filter(col("half") === "tgt").select(col("event_type"), col("p").as("pt"))
      base.join(tgt, "event_type")
        .withColumn("term",
          (floor((col("pt") - col("pb")) * log(col("pt") / col("pb")) * lit(1e6) + lit(0.5)) / lit(1e6))
            .cast("decimal(28,6)"))
        .agg(count(lit(1)).as("n_types"), round(sum(col("term")), 4).cast("double").as("psi"))
        .withColumn("drifted", col("psi") >= lit(0.2))
    },
      // PSI: Laplace-smoothed half-month mixes, floor-6 terms, decimal sum
      s"""WITH e AS (SELECT CASE WHEN $dayE <= '2024-01-15' THEN 'base' ELSE 'tgt' END AS half,
                              event_type FROM events),
                 c AS (SELECT half, event_type, count(*) AS c FROM e GROUP BY 1, 2),
                 g AS (SELECT DISTINCT event_type FROM c),
                 h AS (SELECT DISTINCT half FROM c),
                 f AS (SELECT h.half, g.event_type, coalesce(c.c, 0) AS c
                       FROM g CROSS JOIN h LEFT JOIN c ON c.half = h.half AND c.event_type = g.event_type),
                 n AS (SELECT half, CAST(sum(c) AS BIGINT) AS n, count(*) AS k FROM f GROUP BY 1),
                 p AS (SELECT f.half, f.event_type,
                         CAST(c + 1 AS DOUBLE) / CAST(n.n + n.k AS DOUBLE) AS p
                       FROM f JOIN n ON f.half = n.half),
                 b AS (SELECT event_type, p AS pb FROM p WHERE half = 'base'),
                 t2 AS (SELECT event_type, p AS pt FROM p WHERE half = 'tgt'),
                 t AS (SELECT floor((pt - pb) * ln(pt / pb) * 1e6 + 0.5) / 1e6 AS term
                       FROM b JOIN t2 USING (event_type)),
                 s AS (SELECT count(*) AS n_types,
                         CAST(round(sum(CAST(term AS DECIMAL(28,6))), 4) AS DOUBLE) AS psi
                       FROM t)
            SELECT n_types, psi, psi >= 0.2 AS drifted FROM s"""),

    // chi-square test of independence, event_type × weekday — the classic
    // "is the traffic mix weekday-dependent?" screen next to
    // x_mutual_info's effect size. Grid COMPLETED with zero cells (a
    // missing cell contributes its full expectation); χ² terms floor-6 +
    // DECIMAL-sum; expectations are single double ops on exact integers.
    Query("x_chi2_independence", (s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        dayofweek(to_date(col("day"))).as("dow"))
      val joint = e.groupBy("event_type", "dow").agg(count(lit(1)).as("c"))
      val grid = joint.select("event_type").distinct().crossJoin(joint.select("dow").distinct())
      val full = grid.join(joint, Seq("event_type", "dow"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val mx = full.groupBy("event_type").agg(sum(col("c")).as("rt"))
      val my = full.groupBy("dow").agg(sum(col("c")).as("ct"))
      val n = full.agg(sum(col("c")).as("n"),
        count_distinct(col("event_type")).as("r"), count_distinct(col("dow")).as("cc"))
      val ex = col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double")
      full.join(broadcast(mx), "event_type").join(broadcast(my), "dow").crossJoin(broadcast(n))
        .withColumn("term",
          (floor((col("c").cast("double") - ex) * (col("c").cast("double") - ex) / ex
            * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)"))
        .groupBy(col("r"), col("cc"))
        .agg(count(lit(1)).as("n_cells"), round(sum(col("term")), 4).cast("double").as("chi2"))
        .select(col("n_cells"), col("chi2"), ((col("r") - 1) * (col("cc") - 1)).as("dof"))
    },
      // chi-square independence: zero-completed grid, floor-6 terms
      s"""WITH e AS (SELECT event_type, dayofweek(CAST($dayE AS DATE)) + 1 AS dow FROM events),
                 j AS (SELECT event_type, dow, count(*) AS c FROM e GROUP BY 1, 2),
                 gt AS (SELECT DISTINCT event_type FROM j),
                 gd AS (SELECT DISTINCT dow FROM j),
                 f AS (SELECT gt.event_type, gd.dow, coalesce(j.c, 0) AS c
                       FROM gt CROSS JOIN gd LEFT JOIN j ON j.event_type = gt.event_type AND j.dow = gd.dow),
                 mx AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS rt FROM f GROUP BY 1),
                 my AS (SELECT dow, CAST(sum(c) AS BIGINT) AS ct FROM f GROUP BY 1),
                 n AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                         count(DISTINCT event_type) AS r, count(DISTINCT dow) AS cc FROM f),
                 t AS (SELECT floor((CAST(c AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                                 * (CAST(c AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                                 / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                                 * 1e6 + 0.5) / 1e6 AS term, r, cc
                       FROM f JOIN mx USING (event_type) JOIN my USING (dow) CROSS JOIN n)
            SELECT count(*) AS n_cells,
                   CAST(round(sum(CAST(term AS DECIMAL(28,6))), 4) AS DOUBLE) AS chi2,
                   (r - 1) * (cc - 1) AS dof
            FROM t GROUP BY r, cc"""),

    // Cohen's kappa — inter-annotator agreement, the labeling-QA metric
    // of any human/model annotation pipeline: two deterministic rule
    // "annotators" bucket each doc into short/mid/long (A by chars, B by
    // tokens), kappa = (p_o − p_e)/(1 − p_e) from the 3×3 confusion
    // table. One grid-sized shuffle; every probability is a ratio of
    // exact integer sums.
    Query("x_cohen_kappa", (s, dir) => {
      val d = t(s, dir, "documents").select(
        when(col("n_chars") < 220, "short").when(col("n_chars") < 380, "mid")
          .otherwise("long").as("a"),
        when(size(TF.tokens(col("text"))) < 40, "short")
          .when(size(TF.tokens(col("text"))) < 70, "mid").otherwise("long").as("b"))
      val cell = d.groupBy("a", "b").agg(count(lit(1)).as("c"))
      val n = cell.agg(sum(col("c")).as("n"))
      val diag = cell.filter(col("a") === col("b")).agg(sum(col("c")).as("agree"))
      val ra = cell.groupBy("a").agg(sum(col("c")).as("ca"))
      val cb = cell.groupBy("b").agg(sum(col("c")).as("cb"))
      val cross = ra.join(cb, col("a") === col("b"))
        .agg(sum(col("ca") * col("cb")).as("cross"))
      val po = col("agree").cast("double") / col("n").cast("double")
      val pe = col("cross").cast("double") / (col("n") * col("n")).cast("double")
      n.crossJoin(diag).crossJoin(cross)
        .select(col("n"), f6(po).as("po"), f6(pe).as("pe"),
          f6((po - pe) / (lit(1.0) - pe)).as("kappa"))
    },
      // Cohen's kappa: 3×3 rule-annotator confusion table, all ratios of
      // integer sums
      s"""WITH d AS (SELECT CASE WHEN n_chars < 220 THEN 'short'
                                   WHEN n_chars < 380 THEN 'mid' ELSE 'long' END AS a,
                              CASE WHEN len($toksE) < 40 THEN 'short'
                                   WHEN len($toksE) < 70 THEN 'mid' ELSE 'long' END AS b
                       FROM documents),
                 cell AS (SELECT a, b, count(*) AS c FROM d GROUP BY 1, 2),
                 n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cell),
                 diag AS (SELECT CAST(sum(c) AS BIGINT) AS agree FROM cell WHERE a = b),
                 ra AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cell GROUP BY 1),
                 cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cell GROUP BY 1),
                 cr AS (SELECT CAST(sum(ca * cb.cb) AS BIGINT) AS crs
                        FROM ra JOIN cb ON ra.a = cb.b),
                 z AS (SELECT n, agree,
                         CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
                         CAST(crs AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe
                       FROM n CROSS JOIN diag CROSS JOIN cr)
            SELECT n, floor(po * 1e6 + 0.5) / 1e6 AS po,
                   floor(pe * 1e6 + 0.5) / 1e6 AS pe,
                   floor((po - pe) / (1.0 - pe) * 1e6 + 0.5) / 1e6 AS kappa
            FROM z"""),

    // Fleiss' kappa — multi-rater agreement (the m>2 generalization of
    // x_cohen_kappa, the labeling-QA metric for 3+ annotator pools):
    // three deterministic rule raters (chars / tokens / distinct tokens)
    // bucket each doc; κ = (P̄ − P̄e)/(1 − P̄e) where every moment is a
    // ratio of exact integer sums (Σ n_ik², category column sums) — one
    // (doc, cat) grid shuffle, three scalar aggregates.
    Query("x_fleiss_kappa", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          when(col("n_chars") < 220, "short").when(col("n_chars") < 380, "mid")
            .otherwise("long").as("ra"),
          when(size(col("toks")) < 40, "short").when(size(col("toks")) < 70, "mid")
            .otherwise("long").as("rb"),
          when(size(array_distinct(col("toks"))) < 22, "short")
            .when(size(array_distinct(col("toks"))) < 27, "mid").otherwise("long").as("rc"))
      val nik = d.select(col("doc_id"), explode(array(col("ra"), col("rb"), col("rc"))).as("cat"))
        .groupBy("doc_id", "cat").agg(count(lit(1)).as("c"))
      val nd = d.agg(count(lit(1)).as("nd"))
      val s2 = nik.agg(sum(col("c") * col("c")).as("s2"))
      val sc = nik.groupBy("cat").agg(sum(col("c")).as("ck"))
        .agg(sum(col("ck") * col("ck")).as("sc"))
      val ndd = col("nd").cast("double")
      val pbar = (col("s2").cast("double") - lit(3.0) * ndd) / (lit(6.0) * ndd)
      val pe = col("sc").cast("double") / (lit(9.0) * ndd * ndd)
      nd.crossJoin(s2).crossJoin(sc)
        .select(col("nd"), f6(pbar).as("pbar"), f6(pe).as("pe"),
          f6((pbar - pe) / (lit(1.0) - pe)).as("kappa"))
    },
      // Fleiss' kappa: three rule raters, κ from exact integer moments
      s"""WITH d AS (SELECT doc_id,
                         CASE WHEN n_chars < 220 THEN 'short'
                              WHEN n_chars < 380 THEN 'mid' ELSE 'long' END AS ra,
                         CASE WHEN len($toksE) < 40 THEN 'short'
                              WHEN len($toksE) < 70 THEN 'mid' ELSE 'long' END AS rb,
                         CASE WHEN len(list_distinct($toksE)) < 22 THEN 'short'
                              WHEN len(list_distinct($toksE)) < 27 THEN 'mid' ELSE 'long' END AS rc
                       FROM documents),
                 r AS (SELECT doc_id, unnest([ra, rb, rc]) AS cat FROM d),
                 nik AS (SELECT doc_id, cat, count(*) AS c FROM r GROUP BY 1, 2),
                 nd AS (SELECT count(*) AS nd FROM d),
                 s2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS s2 FROM nik),
                 sc AS (SELECT CAST(sum(ck * ck) AS BIGINT) AS sc FROM
                          (SELECT cat, CAST(sum(c) AS BIGINT) AS ck FROM nik GROUP BY 1)),
                 z AS (SELECT nd,
                         (CAST(s2 AS DOUBLE) - 3.0 * CAST(nd AS DOUBLE)) / (6.0 * CAST(nd AS DOUBLE)) AS pbar,
                         CAST(sc AS DOUBLE) / (9.0 * CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)) AS pe
                       FROM nd CROSS JOIN s2 CROSS JOIN sc)
            SELECT nd, floor(pbar * 1e6 + 0.5) / 1e6 AS pbar,
                   floor(pe * 1e6 + 0.5) / 1e6 AS pe,
                   floor((pbar - pe) / (1.0 - pe) * 1e6 + 0.5) / 1e6 AS kappa
            FROM z"""),

    // Calibration / reliability diagram — the model-eval companion to
    // x_shrunk_ctr: train per-(nation, segment) urgent-order rates on
    // even order keys, score odd keys, bin predicted probability into
    // deciles, per-bin confidence vs accuracy and |gap|. Train/test are
    // each one groupBy; the 125-cell rate table is broadcast. conf_b
    // follows the floor-6-term + decimal-sum discipline (a double mean
    // over rationals would be partition-order-dependent).
    Query("x_calibration", (s, dir) => {
      val test = urgentHoldout(s, dir)
        .select(col("y"), f6(urgentP).as("p"),
          least(floor(urgentP * lit(10.0)), lit(9.0)).cast("int").as("bin"))
      test.groupBy("bin").agg(
          count(lit(1)).as("n_b"),
          (sum(col("p").cast("decimal(28,6)")).cast("double") / count(lit(1))).as("conf_raw"),
          sum(col("y")).as("hits"))
        .select(col("bin"), col("n_b"), f6(col("conf_raw")).as("conf"),
          f6(col("hits").cast("double") / col("n_b").cast("double")).as("acc"),
          f6(abs(col("conf_raw") - col("hits").cast("double") / col("n_b").cast("double"))).as("gap"))
        .orderBy("bin")
    },
      // Calibration: per-(nation, segment) urgent rates trained on even
      // order keys, decile reliability diagram on odd keys; conf is the
      // floor-6-term decimal-sum mean
      s"""WITH $urgentHoldoutSql,
                test AS (SELECT y, floor(p * 1e6 + 0.5) / 1e6 AS p,
                           CAST(least(floor(p * 10.0), 9.0) AS INT) AS bin
                         FROM ho),
                b AS (SELECT bin, count(*) AS n_b,
                        CAST(sum(CAST(p AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS conf_raw,
                        CAST(sum(y) AS BIGINT) AS hits
                      FROM test GROUP BY 1)
           SELECT bin, n_b,
                  floor(conf_raw * 1e6 + 0.5) / 1e6 AS conf,
                  floor(CAST(hits AS DOUBLE) / CAST(n_b AS DOUBLE) * 1e6 + 0.5) / 1e6 AS acc,
                  floor(abs(conf_raw - CAST(hits AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS gap
           FROM b ORDER BY bin"""),

    // ROC AUC of the urgent-order rate predictor (x_calibration's model,
    // eval'd as a ranking) — AUC = tie-adjusted Mann–Whitney over the
    // PREDICTION-VALUE GRID (distinct p ≤ nation×segment cells, bounded
    // regardless of corpus size): 2·avgrank integers per p-group, AUC
    // from exact integer sums with one double division. The cumulative
    // window runs over that bounded grid, never over orders.
    Query("x_auc", (s, dir) => {
      val test = urgentHoldout(s, dir).select(col("y"), urgentP.as("p"))
      val g = test.groupBy("p").agg(count(lit(1)).as("np"), sum(col("y")).as("pos"))
      val cum = g.withColumn("cum", sum(col("np")).over(
          Window.partitionBy(constKey(col("p"))).orderBy("p").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("pos"), col("np"),
          (lit(2L) * (col("cum") - col("np")) + col("np") + lit(1L)).as("r2"))
      cum.agg(sum(col("pos")).as("n1"), sum(col("np") - col("pos")).as("n0"),
          sum(col("pos") * col("r2")).as("s2"))
        .select(col("n1"), col("n0"),
          f6((col("s2") - col("n1") * (col("n1") + 1)).cast("double")
            / (lit(2L) * col("n1") * col("n0")).cast("double")).as("auc"))
    },
      // AUC: tie-adjusted Mann–Whitney over the prediction-value grid
      s"""WITH $urgentHoldoutSql,
                g AS (SELECT p, count(*) AS np, CAST(sum(y) AS BIGINT) AS pos
                      FROM ho GROUP BY 1),
                r AS (SELECT pos, np,
                        2 * (sum(np) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - np)
                          + np + 1 AS r2
                      FROM g),
                agg AS (SELECT CAST(sum(pos) AS BIGINT) AS n1,
                               CAST(sum(np - pos) AS BIGINT) AS n0,
                               CAST(sum(pos * r2) AS BIGINT) AS s2
                        FROM r)
           SELECT n1, n0,
                  floor(CAST(s2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2 * n1 * n0 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS auc
           FROM agg"""),

    // Isotonic (weighted PAV) calibration of the reliability diagram —
    // the monotone recalibration step between a raw scorer and a
    // decision threshold, in the minimax closed form
    // fit_i = max_{j≤i} min_{k≥i} wavg(hits, n over bins j..k): the
    // whole computation lives on the ≤10-bin grid (segment averages via
    // a triangular grid join — metadata-sized at any corpus scale), so
    // no sequential pooling loop is needed and every average is a ratio
    // of exact integer sums.
    Query("x_isotonic", (s, dir) => {
      val bins = urgentHoldout(s, dir)
        .select(col("y"), least(floor(urgentP * lit(10.0)), lit(9.0)).cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("nb"), sum(col("y")).as("hits"))
        .localCheckpoint() // reused by 3 bounded grid joins
      val ids = bins.select(col("bin").as("j"))
        .crossJoin(bins.select(col("bin").as("k"))).filter(col("j") <= col("k"))
      val seg = ids.join(bins, col("bin") >= col("j") && col("bin") <= col("k"))
        .groupBy("j", "k").agg(
          (sum(col("hits")).cast("double") / sum(col("nb")).cast("double")).as("avgv"))
      val mn = bins.select(col("bin").as("i"))
        .join(seg, col("j") <= col("i") && col("k") >= col("i"))
        .groupBy("i", "j").agg(min(col("avgv")).as("mnv"))
      val fit = mn.groupBy("i").agg(max(col("mnv")).as("fit"))
      bins.join(fit, col("bin") === col("i"))
        .select(col("bin"), col("nb"),
          f6(col("hits").cast("double") / col("nb").cast("double")).as("acc"),
          f6(col("fit")).as("iso_fit"))
        .orderBy("bin")
    },
      // Isotonic PAV in minimax closed form on the bin grid
      s"""WITH $urgentHoldoutSql,
                bins AS (SELECT CAST(least(floor(p * 10.0), 9.0) AS INT) AS bin,
                                count(*) AS nb, CAST(sum(y) AS BIGINT) AS hits
                         FROM ho GROUP BY 1),
                ids AS (SELECT a.bin AS j, b.bin AS k FROM bins a CROSS JOIN bins b WHERE a.bin <= b.bin),
                seg AS (SELECT i.j, i.k,
                          CAST(sum(b.hits) AS DOUBLE) / CAST(sum(b.nb) AS DOUBLE) AS avgv
                        FROM ids i JOIN bins b ON b.bin >= i.j AND b.bin <= i.k
                        GROUP BY 1, 2),
                mn AS (SELECT b.bin AS i, s.j, min(s.avgv) AS mnv
                       FROM bins b JOIN seg s ON s.j <= b.bin AND s.k >= b.bin
                       GROUP BY 1, 2),
                fit AS (SELECT i, max(mnv) AS fit FROM mn GROUP BY 1)
           SELECT b.bin, b.nb,
                  floor(CAST(b.hits AS DOUBLE) / CAST(b.nb AS DOUBLE) * 1e6 + 0.5) / 1e6 AS acc,
                  floor(f.fit * 1e6 + 0.5) / 1e6 AS iso_fit
           FROM bins b JOIN fit f ON b.bin = f.i ORDER BY b.bin"""),

    // Split-conformal prediction interval — distribution-free coverage
    // for a per-type mean-value predictor (Vovk; the eval harness any
    // score-thresholding pipeline needs): calibration half (even users)
    // yields q̂ = the ⌈0.9(n+1)⌉-th smallest |value − pred|; test half
    // coverage is the fraction within q̂. The order statistic is one
    // per-type ranked window (k-bounded pick, never a global sort);
    // predictions are exact-decimal means cast to double once.
    Query("x_conformal", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("user_id"),
        col("event_id"), col("value"))
      val cal = ev.filter(col("user_id") % 2 === 0)
      val pred = cal.groupBy("event_type")
        .agg((dsum(col("value")) / count(lit(1))).as("pred"), count(lit(1)).as("n_cal"))
      val diffs = cal.join(broadcast(pred), "event_type")
        .select(col("event_type"), col("event_id"), col("n_cal"),
          abs(col("value") - col("pred")).as("d"))
      val k = least(ceil(lit(0.9) * (col("n_cal") + 1).cast("double")).cast("long"), col("n_cal"))
      val qhat = diffs
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("d"), col("event_id"))))
        .filter(col("rk") === k)
        .select(col("event_type"), col("n_cal"), col("d").as("qhat"))
      ev.filter(col("user_id") % 2 === 1).join(broadcast(qhat), "event_type")
        .join(broadcast(pred.select(col("event_type"), col("pred"))), "event_type")
        .groupBy(col("event_type"), col("n_cal"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum((abs(col("value") - col("pred")) <= col("qhat")).cast("long")).as("covered"))
        .select(col("event_type"), col("n_cal"), f6(col("qhat")).as("qhat"),
          col("n_test"), col("covered"),
          f6(col("covered").cast("double") / col("n_test").cast("double")).as("coverage"))
        .orderBy("event_type")
    },
      // Split conformal: q̂ = ⌈0.9(n+1)⌉-th order statistic of calibration
      // |value − pred|, coverage on the held-out half; comparisons use the
      // UNROUNDED q̂ exactly as the engine does
      """WITH ev AS (SELECT event_type, user_id, event_id, value FROM events),
                pred AS (SELECT event_type,
                           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS pred,
                           count(*) AS n_cal
                         FROM ev WHERE user_id % 2 = 0 GROUP BY 1),
                diffs AS (SELECT e.event_type, e.event_id, p.n_cal,
                            abs(e.value - p.pred) AS d,
                            row_number() OVER (PARTITION BY e.event_type ORDER BY abs(e.value - p.pred), e.event_id) AS rk
                          FROM ev e JOIN pred p USING (event_type)
                          WHERE e.user_id % 2 = 0),
                qh AS (SELECT event_type, n_cal, d AS qhat FROM diffs
                       WHERE rk = least(CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT), n_cal)),
                tst AS (SELECT q.event_type, q.n_cal, q.qhat,
                          count(*) AS n_test,
                          CAST(sum(CASE WHEN abs(e.value - p.pred) <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS covered
                        FROM ev e JOIN qh q USING (event_type) JOIN pred p USING (event_type)
                        WHERE e.user_id % 2 = 1
                        GROUP BY 1, 2, 3)
           SELECT event_type, n_cal,
                  floor(qhat * 1e6 + 0.5) / 1e6 AS qhat,
                  n_test, covered,
                  floor(CAST(covered AS DOUBLE) / CAST(n_test AS DOUBLE) * 1e6 + 0.5) / 1e6 AS coverage
           FROM tst ORDER BY event_type"""),

    // Tied-variance 2-component Gaussian-mixture EM over the VALUE
    // HISTOGRAM GRID (never per-row: value is 2-dp cents on a bounded
    // range, so the grid is ≤~20k points — the histogram-grid discipline
    // of x_mannwhitney/x_ks_test applied to an iterative fit). Driver
    // holds the 4 scalar params (k-means-centroid pattern); each of 4 EM
    // rounds is two grid aggregates. Responsibilities collapse to ONE exp
    // per grid point (tied σ²: r₁ = π₁/(π₁+π₂·e^{a₁−a₂})), floor-6 before
    // every decimal-weighted moment, so both engines replay the fit
    // bit-for-bit. Oracle = 4 unrolled (responsibility, moments, params)
    // CTE stages.
    Query("x_gmm_em", (s, dir) => {
      // operand precisions chosen so every decimal product stays within
      // precision 38 UN-CLAMPED: Spark silently reduces the result scale
      // (rounding!) when p1+p2+1 > 38, which would introduce sub-6-dp
      // drift the oracle cannot replay
      val g = events(s, dir).groupBy(col("value").as("x"))
        .agg(count(lit(1)).cast("decimal(14,0)").as("cnt")).localCheckpoint()
      val xd = col("x").cast("decimal(10,2)")
      val b = g.agg(sum(col("cnt")).cast("long").as("n"),
        sum(col("cnt") * xd).cast("double").as("sx"),
        sum(col("cnt") * xd * xd).cast("double").as("sxx"),
        min(col("x")).as("mn"), max(col("x")).as("mx")).collect()(0)
      val n = b.getLong(0); val nd = n.toDouble
      val sx = b.getDouble(1); val sxx = b.getDouble(2)
      val mn = b.getDouble(3); val mx = b.getDouble(4)
      val mu = sx / nd
      var p1 = 0.5
      var m1 = mn + (mx - mn) / 4.0
      var m2 = mn + 3.0 * (mx - mn) / 4.0
      var vv = sxx / nd - mu * mu
      for (_ <- 1 to 4) {
        val h = ((col("x") - lit(m1)) * (col("x") - lit(m1))
          - (col("x") - lit(m2)) * (col("x") - lit(m2))) / (lit(2.0) * lit(vv))
        val rr = f6(lit(p1) / (lit(p1) + (lit(1.0) - lit(p1)) * exp(h)))
        val ri = g.withColumn("rr", rr).localCheckpoint()
        val rd = col("rr").cast("decimal(10,6)")
        val cd = (lit(1.0) - col("rr")).cast("decimal(10,6)")
        val mrow = ri.agg(
          sum(col("cnt") * rd).cast("double").as("w1"),
          sum(col("cnt") * cd).cast("double").as("w2"),
          sum(col("cnt") * rd * xd).cast("double").as("s1"),
          sum(col("cnt") * cd * xd).cast("double").as("s2")).collect()(0)
        val w1 = mrow.getDouble(0); val w2 = mrow.getDouble(1)
        val s1 = mrow.getDouble(2); val s2 = mrow.getDouble(3)
        val p1n = w1 / nd; val m1n = s1 / w1; val m2n = s2 / w2
        val term = f6(col("rr") * (col("x") - lit(m1n)) * (col("x") - lit(m1n))
          + (lit(1.0) - col("rr")) * (col("x") - lit(m2n)) * (col("x") - lit(m2n)))
        val vrow = ri.agg(
          sum(col("cnt") * term.cast("decimal(16,6)")).cast("double").as("sv")).collect()(0)
        p1 = p1n; m1 = m1n; m2 = m2n; vv = vrow.getDouble(0) / nd
      }
      def d6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      import s.implicits._
      Seq((n, d6(p1), d6(m1), d6(m2), d6(vv)))
        .toDF("n", "pi1", "mu1", "mu2", "var_t")
    },
      // GMM EM: histogram-grid fit, 4 unrolled stages
      s"""WITH gmg AS MATERIALIZED (SELECT value AS x, count(*) AS cnt FROM events GROUP BY 1),
                 gmb AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                          CAST(sum(cnt) AS DOUBLE) AS nd,
                          CAST(sum(cnt * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                          CAST(sum(cnt * CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                          min(x) AS mn, max(x) AS mx FROM gmg),
                 gm0 AS (SELECT 0.5 AS p1, mn + (mx - mn) / 4.0 AS m1,
                           mn + 3.0 * (mx - mn) / 4.0 AS m2,
                           sxx / nd - (sx / nd) * (sx / nd) AS vv FROM gmb),
                 $gmIters
            SELECT b.n, floor(p.p1 * 1e6 + 0.5) / 1e6 AS pi1,
                   floor(p.m1 * 1e6 + 0.5) / 1e6 AS mu1,
                   floor(p.m2 * 1e6 + 0.5) / 1e6 AS mu2,
                   floor(p.vv * 1e6 + 0.5) / 1e6 AS var_t
            FROM gm4 p CROSS JOIN gmb b"""),

    // ε-differentially-private count release — the fourth rung of the
    // privacy ladder (x_k_anonymity, x_l_diversity, x_tclose): per-(day,
    // type) event counts + Laplace(1/ε) noise, ε=1, via the inverse CDF
    // over a portable md5-derived uniform (the x_bootstrap_ci technique —
    // u = (hash24+½)/2²⁴ is strictly inside (0,1), so ln never sees 0).
    // Deterministic seeding makes the release replayable by any engine;
    // one grid-sized aggregate, noise is a scan-fused projection.
    Query("x_dp_counts", (s, dir) => {
      val c = events(s, dir).groupBy("day", "event_type").agg(count(lit(1)).as("c"))
      val u = (graft.ext.Mixture.hash24(concat_ws("|", col("day"), col("event_type")))
        .cast("double") + lit(0.5)) / lit(16777216.0)
      val cu = u - lit(0.5)
      val noise = -signum(cu) * log(lit(1.0) - lit(2.0) * abs(cu))
      c.select(col("day"), col("event_type"), col("c"),
          f6(noise).as("noise"),
          f6(greatest(col("c") + noise, lit(0.0))).as("released"))
        .orderBy("day", "event_type")
    },
      // DP counts: md5-seeded Laplace inverse CDF, raw noise in the
      // released clamp, floor-6 display (t22 = the same release emitted
      // from sealed streaming windows — identical oracle)
      dpCountsSql),

    // DP median via the EXPONENTIAL MECHANISM — the privacy ladder's
    // second release mechanism next to x_dp_counts' Laplace: per type,
    // the released median is argmax over the cents-histogram grid of
    // ε·u/(2Δ) + Gumbel, with rank utility u = −|2·cum − n| (Δu = 2,
    // ε = 1) and the Gumbel drawn from the same md5-seeded portable
    // uniform as the Laplace release (−ln(−ln u)) — fully deterministic,
    // so the mechanism itself is exactly oracled, not just gated. All
    // windows run over the bounded VALUE grid (the x_gini envelope);
    // scores floor-round to 6 dp before the argmax for boundary-stable
    // cross-engine selection.
    Query("x_dp_quantile", (s, dir) => {
      val h = events(s, dir)
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("cents")
      val n = h.groupBy("event_type").agg(sum(col("c")).as("n"))
      val cum = h.withColumn("cum", sum(col("c")).over(w)).join(n, "event_type")
      val u01 = (graft.ext.Mixture.hash24(concat_ws("|", col("event_type"), col("cents")))
        .cast("double") + lit(0.5)) / lit(16777216.0)
      val scored = cum.withColumn("score",
        floor((-abs(lit(2) * col("cum") - col("n")).cast("double") / lit(4.0)
          - log(-log(u01))) * lit(1e6) + lit(0.5)) / lit(1e6))
      val sel = scored.withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("score").desc, col("cents"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), (col("cents").cast("double") / lit(100.0)).as("dp_median"))
      val tru = scored.filter(lit(2) * col("cum") >= col("n"))
        .groupBy("event_type").agg(min(col("cents")).as("tc"))
        .select(col("event_type"), (col("tc").cast("double") / lit(100.0)).as("true_median"))
      sel.join(tru, "event_type")
        .withColumn("abs_err",
          floor(abs(col("dp_median") - col("true_median")) * lit(1e4) + lit(0.5)) / lit(1e4))
        .orderBy("event_type")
    },
      // exponential-mechanism DP median: portable seeded Gumbel argmax
      """WITH h AS (SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
                             count(*) AS c
                      FROM events GROUP BY 1, 2),
                n AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
                cm AS (SELECT h.event_type, h.cents, n.n,
                         sum(c) OVER (PARTITION BY h.event_type ORDER BY h.cents) AS cum
                       FROM h JOIN n USING (event_type)),
                sc AS (SELECT event_type, cents, n, cum,
                         floor((-CAST(abs(2 * cum - n) AS DOUBLE) / 4.0
                           - ln(-ln((CAST(('0x' || substring(md5(event_type || '|' || CAST(cents AS VARCHAR)), 1, 6)) AS INTEGER) + 0.5)
                               / 16777216.0))) * 1e6 + 0.5) / 1e6 AS score
                       FROM cm),
                sel AS (SELECT event_type, cents / 100.0 AS dp_median
                        FROM (SELECT event_type, cents,
                                row_number() OVER (PARTITION BY event_type
                                  ORDER BY score DESC, cents) AS rk
                              FROM sc)
                        WHERE rk = 1),
                tru AS (SELECT event_type, min(cents) / 100.0 AS true_median
                        FROM sc WHERE 2 * cum >= n GROUP BY 1)
           SELECT event_type, dp_median, true_median,
                  floor(abs(dp_median - true_median) * 1e4 + 0.5) / 1e4 AS abs_err
           FROM sel JOIN tru USING (event_type) ORDER BY event_type"""),

    // Hill tail-index estimator — quantifies HOW heavy the per-user
    // activity tail is (x_pareto_users shows concentration, x_zipf_fit
    // fits token ranks; this is the order-statistics exponent):
    // α̂ = k / Σ_{i≤k} ln(x_(i) / x_(k+1)) over the top k+1 order
    // statistics of per-user event counts. The only corpus-scale work
    // is the per-user count; the order statistics ride a TakeOrdered
    // top-(k+1) (never a global sort), and the estimator runs on the
    // 51-row grid with floor-6 + DECIMAL-summed log terms.
    Query("x_hill_tail", (s, dir) => {
      val uc = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("x"))
      val top = uc.orderBy(col("x").desc, col("user_id")).limit(51)
        .withColumn("rk", row_number().over(
          Window.partitionBy(constKey(col("x"))).orderBy(col("x").desc, col("user_id"))))
      val mx = top.agg(max(col("rk")).as("m")) // k adapts: min(50, users−1)
      val xk1 = top.crossJoin(broadcast(mx)).filter(col("rk") === col("m"))
        .select(col("x").as("xk1"), (col("m") - 1).cast("long").as("k"))
      top.crossJoin(broadcast(mx)).filter(col("rk") < col("m")).drop("m")
        .crossJoin(broadcast(xk1))
        .withColumn("term",
          (floor(log(col("x").cast("double") / col("xk1").cast("double")) * lit(1e6) + lit(0.5))
            / lit(1e6)).cast("decimal(28,6)"))
        .groupBy("k", "xk1").agg(sum(col("term")).as("slog"))
        .select(col("k"), col("xk1").as("x_k_plus_1"),
          (floor(col("k").cast("double") / nullif(col("slog"), lit(0)).cast("double")
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("alpha"))
    },
      // Hill: top-(k+1) order stats, floor-6 log terms, decimal sum
      """WITH uc AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
                top AS (SELECT x, row_number() OVER (ORDER BY x DESC, user_id) AS rk
                        FROM uc ORDER BY x DESC, user_id LIMIT 51),
                mx AS (SELECT max(rk) AS m FROM top),
                xk1 AS (SELECT x AS xk1, CAST(m - 1 AS BIGINT) AS k
                        FROM top, mx WHERE rk = m),
                tm AS (SELECT k, xk1,
                         CAST(floor(ln(CAST(x AS DOUBLE) / xk1) * 1e6 + 0.5) / 1e6
                           AS DECIMAL(28,6)) AS term
                       FROM top, mx, xk1 WHERE rk < m)
           SELECT k, xk1 AS x_k_plus_1,
                  floor(CAST(k AS DOUBLE) / CAST(nullif(sum(term), 0) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS alpha
           FROM tm GROUP BY k, xk1"""),

    // Intraclass correlation ICC(1,1) — how much of the value variance
    // is BETWEEN users vs within (the reliability/clustering-effect
    // statistic behind design-effect corrections): one-way ANOVA with
    // the unequal-group-size k̄ correction. One exact-decimal moment
    // aggregate per user; per-group (Σx)²/n terms floor-6 and
    // DECIMAL-summed so SSB/SSW are order-independent doubles.
    Query("x_icc", (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), col("value").cast("decimal(18,2)").as("x"))
      val g = e.groupBy("user_id").agg(
        count(lit(1)).as("ng"),
        sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(28,4)")).as("sq"))
      val agg = g.agg(
        count(lit(1)).as("n_groups"),
        sum(col("ng")).as("n_total"),
        sum(col("sx")).as("sx_tot"),
        sum(f6d(col("sx").cast("double") * col("sx").cast("double") / col("ng").cast("double")))
          .as("sum_sx2n"),
        sum(col("sq")).as("sq_tot"),
        sum(col("ng") * col("ng")).as("sum_ng2"))
      agg.select(col("n_groups"), col("n_total"),
          (col("sum_sx2n").cast("double")
            - col("sx_tot").cast("double") * col("sx_tot").cast("double") / col("n_total").cast("double")).as("ssb"),
          (col("sq_tot").cast("double") - col("sum_sx2n").cast("double")).as("ssw"),
          col("sum_ng2"))
        .withColumn("msb", col("ssb") / (col("n_groups").cast("double") - lit(1.0)))
        .withColumn("msw", col("ssw") / (col("n_total").cast("double") - col("n_groups").cast("double")))
        .withColumn("kbar",
          (col("n_total").cast("double") - col("sum_ng2").cast("double") / col("n_total").cast("double"))
            / (col("n_groups").cast("double") - lit(1.0)))
        .select(col("n_groups"), col("n_total"),
          (floor(col("msb") * lit(1e6) + lit(0.5)) / lit(1e6)).as("msb"),
          (floor(col("msw") * lit(1e6) + lit(0.5)) / lit(1e6)).as("msw"),
          (floor((col("msb") - col("msw"))
            / (col("msb") + (col("kbar") - lit(1.0)) * col("msw"))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("icc"))
    },
      // ICC(1,1): exact moments, floor-6 per-group (Σx)²/n terms
      """WITH e AS (SELECT user_id, CAST(value AS DECIMAL(18,2)) AS x FROM events),
                g AS (SELECT user_id, count(*) AS ng, sum(x) AS sx,
                             sum(CAST(x * x AS DECIMAL(28,4))) AS sq
                      FROM e GROUP BY 1),
                a AS (SELECT count(*) AS n_groups, CAST(sum(ng) AS BIGINT) AS n_total,
                             sum(sx) AS sx_tot,
                             sum(CAST(floor(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / ng * 1e6 + 0.5) / 1e6
                               AS DECIMAL(28,6))) AS sum_sx2n,
                             sum(sq) AS sq_tot,
                             CAST(sum(ng * ng) AS BIGINT) AS sum_ng2
                      FROM g),
                b AS (SELECT n_groups, n_total,
                        CAST(sum_sx2n AS DOUBLE)
                          - CAST(sx_tot AS DOUBLE) * CAST(sx_tot AS DOUBLE) / n_total AS ssb,
                        CAST(sq_tot AS DOUBLE) - CAST(sum_sx2n AS DOUBLE) AS ssw,
                        sum_ng2
                      FROM a),
                c AS (SELECT n_groups, n_total,
                        ssb / (n_groups - 1.0) AS msb,
                        ssw / (CAST(n_total AS DOUBLE) - n_groups) AS msw,
                        (CAST(n_total AS DOUBLE) - CAST(sum_ng2 AS DOUBLE) / n_total)
                          / (n_groups - 1.0) AS kbar
                      FROM b)
           SELECT n_groups, n_total,
                  floor(msb * 1e6 + 0.5) / 1e6 AS msb,
                  floor(msw * 1e6 + 0.5) / 1e6 AS msw,
                  floor((msb - msw) / (msb + (kbar - 1.0) * msw) * 1e6 + 0.5) / 1e6 AS icc
           FROM c"""),

    // Power analysis / minimum-detectable-effect — the experiment
    // PLANNING side of the testing suite (Welch/MW/SPRT test, CUPED
    // reduces, this one sizes): per event type, the two-sample MDE at
    // α=.05 / power .8 (z-sum 2.8) for an equal-split experiment over
    // the observed population, mde = 2.8·√(2σ²/n). One exact-decimal
    // moment aggregate (the a15 discipline); every output is a
    // deterministic double of exact sums.
    Query("x_power_mde", (s, dir) => {
      val e = events(s, dir)
        .select(col("event_type"), col("value").cast("decimal(18,2)").as("x"))
      val st = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(28,4)")).as("sq"))
      st.withColumn("mean", col("sx").cast("double") / col("n").cast("double"))
        .withColumn("variance",
          (col("sq").cast("double")
            - col("sx").cast("double") * col("sx").cast("double") / col("n").cast("double"))
            / (col("n").cast("double") - lit(1.0)))
        .withColumn("mde_raw", lit(2.8) * sqrt(lit(2.0) * col("variance") / col("n").cast("double")))
        .select(col("event_type"), col("n"),
          f6(col("mean")).as("mean"),
          f6(sqrt(col("variance"))).as("sigma"),
          f6(col("mde_raw")).as("mde_abs"),
          f6(col("mde_raw") / col("mean")).as("mde_rel"))
        .orderBy("event_type")
    },
      // MDE: exact-decimal moments, closed-form 2.8·sqrt(2σ²/n)
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x FROM events),
                st AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
                              sum(CAST(x * x AS DECIMAL(28,4))) AS sq
                       FROM e GROUP BY 1),
                c AS (SELECT event_type, n,
                        CAST(sx AS DOUBLE) / n AS mean,
                        (CAST(sq AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                          / (n - 1.0) AS variance
                      FROM st),
                d AS (SELECT event_type, n, mean, variance,
                             2.8 * sqrt(2.0 * variance / n) AS mde_raw FROM c)
           SELECT event_type, n,
                  floor(mean * 1e6 + 0.5) / 1e6 AS mean,
                  floor(sqrt(variance) * 1e6 + 0.5) / 1e6 AS sigma,
                  floor(mde_raw * 1e6 + 0.5) / 1e6 AS mde_abs,
                  floor(mde_raw / mean * 1e6 + 0.5) / 1e6 AS mde_rel
           FROM d ORDER BY event_type"""),

    // Forecast BASELINES — persistence (t−1) and seasonal-naive (t−7)
    // MAE per type, the yardsticks x_forecast_ses / x_forecast_holt
    // must beat to claim skill (a model worse than carry-forward is
    // noise). Two lag windows over the type-partitioned day grid;
    // floor-6 terms, decimal sums, the SES scoring contract.
    Query("x_forecast_baselines", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagd = dc
        .withColumn("p1", lag(col("c"), 1).over(w))
        .withColumn("p7", lag(col("c"), 7).over(w))
      def mae(pred: String) = {
        val t = abs(col("c") - col(pred)).cast("double").cast("decimal(28,6)")
        (count(col(pred)).as(s"n_$pred"),
          (floor(sum(when(col(pred).isNotNull, t)).cast("double")
            / count(col(pred)).cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as(s"mae_$pred"))
      }
      val (n1, m1) = mae("p1")
      val (n7, m7) = mae("p7")
      lagd.groupBy("event_type")
        .agg(n1, m1, n7, m7)
        .select(col("event_type"), col("n_p1").as("n_persistence"), col("mae_p1").as("mae_persistence"),
          col("n_p7").as("n_seasonal"), col("mae_p7").as("mae_seasonal"))
        .orderBy("event_type")
    },
      // forecast baselines: lag-1 / lag-7 MAE over the per-type day grid
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                l AS (SELECT event_type, c,
                        lag(c, 1) OVER w AS p1, lag(c, 7) OVER w AS p7
                      FROM dc WINDOW w AS (PARTITION BY event_type ORDER BY day))
           SELECT event_type,
                  count(p1) AS n_persistence,
                  floor(CAST(sum(CASE WHEN p1 IS NOT NULL
                        THEN CAST(CAST(abs(c - p1) AS DOUBLE) AS DECIMAL(28,6)) END) AS DOUBLE)
                    / count(p1) * 1e4 + 0.5) / 1e4 AS mae_persistence,
                  count(p7) AS n_seasonal,
                  floor(CAST(sum(CASE WHEN p7 IS NOT NULL
                        THEN CAST(CAST(abs(c - p7) AS DOUBLE) AS DECIMAL(28,6)) END) AS DOUBLE)
                    / count(p7) * 1e4 + 0.5) / 1e4 AS mae_seasonal
           FROM l GROUP BY 1 ORDER BY 1"""),

    // Difference-in-differences — the third causal-inference rung beside
    // x_cuped (variance reduction) and x_cem_att (matching): treatment by
    // user parity, pre/post split at mid-month, DiD =
    // (ΔT) − (ΔC) from four exact-decimal group means. One grid-sized
    // aggregate; every mean is an exact decimal sum over a long count.
    Query("x_did", (s, dir) => {
      val e = events(s, dir).select(
        (col("user_id") % 2 === 0).cast("int").as("treat"),
        (col("day") >= "2024-01-16").cast("int").as("post"),
        col("value"))
      val g = e.groupBy("treat", "post")
        .agg(count(lit(1)).as("n"), (dsum(col("value")) / count(lit(1))).as("m"))
      val wide = g.agg(
        sum(when(col("treat") === 1 && col("post") === 1, col("m"))).as("m_t1"),
        sum(when(col("treat") === 1 && col("post") === 0, col("m"))).as("m_t0"),
        sum(when(col("treat") === 0 && col("post") === 1, col("m"))).as("m_c1"),
        sum(when(col("treat") === 0 && col("post") === 0, col("m"))).as("m_c0"),
        sum(col("n")).as("n_total"))
      wide.select(col("n_total"), f6(col("m_t0")).as("m_t_pre"), f6(col("m_t1")).as("m_t_post"),
        f6(col("m_c0")).as("m_c_pre"), f6(col("m_c1")).as("m_c_post"),
        f6((col("m_t1") - col("m_t0")) - (col("m_c1") - col("m_c0"))).as("did"))
    },
      // DiD: four exact-decimal group means, one double combination
      s"""WITH e AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treat,
                              CASE WHEN $dayE >= '2024-01-16' THEN 1 ELSE 0 END AS post, value
                       FROM events),
                 g AS (SELECT treat, post, count(*) AS n,
                         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS m
                       FROM e GROUP BY 1, 2),
                 w AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
                         sum(CASE WHEN treat = 1 AND post = 1 THEN m END) AS m_t1,
                         sum(CASE WHEN treat = 1 AND post = 0 THEN m END) AS m_t0,
                         sum(CASE WHEN treat = 0 AND post = 1 THEN m END) AS m_c1,
                         sum(CASE WHEN treat = 0 AND post = 0 THEN m END) AS m_c0
                       FROM g)
            SELECT n_total,
                   floor(m_t0 * 1e6 + 0.5) / 1e6 AS m_t_pre,
                   floor(m_t1 * 1e6 + 0.5) / 1e6 AS m_t_post,
                   floor(m_c0 * 1e6 + 0.5) / 1e6 AS m_c_pre,
                   floor(m_c1 * 1e6 + 0.5) / 1e6 AS m_c_post,
                   floor(((m_t1 - m_t0) - (m_c1 - m_c0)) * 1e6 + 0.5) / 1e6 AS did
            FROM w"""),

    // Inverse-propensity off-policy evaluation (IPS + SNIPS) — "what
    // would the uniform policy's reward be?" answered from logged data,
    // the off-policy eval loop of ranking/recsys and preference-data
    // pipelines: behavior propensities p(a|s) from even days (s =
    // user_id%10 segments), evaluated on odd days with target π uniform
    // over the action set. Weights are exact rationals; w·value terms
    // floor-6 decimal-summed. The propensity table is a broadcast
    // segment×action grid — one eval-side shuffle.
    Query("x_ips_eval", (s, dir) => {
      val e = events(s, dir).select((col("user_id") % 10).as("seg"),
        col("event_type"), col("value"),
        (dayofmonth(to_date(col("day"))) % 2).as("par"))
      val beh = e.filter(col("par") === 0)
      val prop = beh.groupBy("seg", "event_type").agg(count(lit(1)).as("na"))
      val segTot = beh.groupBy("seg").agg(count(lit(1)).as("ns"))
      val acts = beh.agg(count_distinct(col("event_type")).as("k"))
      // w = π(a)/p(a|s) = (1/k) / (na/ns) = ns/(k·na) — exact rational
      val w = col("ns").cast("double") / (col("k") * col("na")).cast("double")
      e.filter(col("par") === 1)
        .join(broadcast(prop), Seq("seg", "event_type"))
        .join(broadcast(segTot), Seq("seg")).crossJoin(broadcast(acts))
        .select(col("seg"),
          f6(w * col("value")).cast("decimal(28,6)").as("wv"),
          f6(w).cast("decimal(28,6)").as("wt"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_eval"),
          f6(sum(col("wv")).cast("double") / count(lit(1))).as("ips"),
          f6(sum(col("wv")).cast("double") / sum(col("wt")).cast("double")).as("snips"))
        .orderBy("seg")
    },
      // IPS/SNIPS: exact-rational weights ns/(k·na), floor-6 terms
      """WITH e AS (SELECT user_id % 10 AS seg, event_type, value, day(ts) % 2 AS par FROM events),
                beh AS (SELECT * FROM e WHERE par = 0),
                prop AS (SELECT seg, event_type, count(*) AS na FROM beh GROUP BY 1, 2),
                st AS (SELECT seg, count(*) AS ns FROM beh GROUP BY 1),
                ka AS (SELECT count(DISTINCT event_type) AS k FROM beh),
                t AS (SELECT e.seg,
                        CAST(floor((ns / CAST(k * na AS DOUBLE)) * value * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS wv,
                        CAST(floor((ns / CAST(k * na AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS wt
                      FROM e JOIN prop USING (seg, event_type) JOIN st USING (seg) CROSS JOIN ka
                      WHERE par = 1)
           SELECT seg, count(*) AS n_eval,
                  floor(CAST(sum(wv) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS ips,
                  floor(CAST(sum(wv) AS DOUBLE) / CAST(sum(wt) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS snips
           FROM t GROUP BY 1 ORDER BY 1"""),

    // Wald SPRT — sequential hypothesis testing of the daily purchase
    // share (H₀ p=0.19 vs H₁ p=0.21, α=β=0.05), the always-valid
    // companion to the fixed-horizon tests (x_welch_ttest, x_srm): the
    // cumulative log-likelihood-ratio walk over the day grid with the
    // ln(19) decision boundaries. Per-day terms are
    // x·ln(p₁/p₀) + (n−x)·ln(q₁/q₀) from exact integer counts with two
    // literal-derived ln constants; floor-6 terms decimal-sum through a
    // cumulative window over the calendar-bounded grid.
    Query("x_sprt", (s, dir) => {
      val d = events(s, dir).groupBy("day").agg(count(lit(1)).as("n"),
        sum((col("event_type") === "purchase").cast("long")).as("x"))
      val la = log(lit(0.21) / lit(0.19))
      val lb = log((lit(1.0) - lit(0.21)) / (lit(1.0) - lit(0.19)))
      val terms = d.select(col("day"), col("x"), col("n"),
        f6(col("x").cast("double") * la + (col("n") - col("x")).cast("double") * lb)
          .cast("decimal(28,6)").as("term"))
      terms.withColumn("llr", sum(col("term")).over(
          Window.partitionBy(constKey(col("day"))).orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
        .select(col("day"), col("x"), col("n"), f6(col("llr")).as("llr"),
          when(col("llr") >= log(lit(19.0)), "accept_h1")
            .when(col("llr") <= -log(lit(19.0)), "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("day")
    },
      // SPRT: literal-derived ln constants, floor-6 terms, decimal
      // cumulative walk over the day grid
      s"""WITH d AS (SELECT $dayE AS day, count(*) AS n,
                         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
                       FROM events GROUP BY 1),
                 t AS (SELECT day, x, n,
                         CAST(floor((CAST(x AS DOUBLE) * ln(0.21 / 0.19)
                             + CAST(n - x AS DOUBLE) * ln((1.0 - 0.21) / (1.0 - 0.19))) * 1e6 + 0.5) / 1e6
                           AS DECIMAL(28,6)) AS term
                       FROM d),
                 c AS (SELECT day, x, n,
                         CAST(sum(term) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS DOUBLE) AS llr
                       FROM t)
            SELECT day, x, n, floor(llr * 1e6 + 0.5) / 1e6 AS llr,
                   CASE WHEN llr >= ln(19.0) THEN 'accept_h1'
                        WHEN llr <= -ln(19.0) THEN 'accept_h0'
                        ELSE 'continue' END AS decision
            FROM c ORDER BY day"""),

    // Bradley–Terry pairwise-preference strengths (Hunter 2004 MM) — the
    // model behind preference-pair ranking (chat arenas, RLHF reward-data
    // QA): event types "compete" daily (higher count wins), 6 MM rounds of
    //   p_i ← W_i / Σ_j n_ij/(p_i+p_j),  then ‖p‖₁-normalize.
    // The item domain is bounded, so the wins matrix is one
    // (day, type)-grid shuffle and every MM round is metadata-sized;
    // per-term round-12 + DECIMAL sums keep both engines bit-identical
    // (the pagerank discipline). Oracle = 6 unrolled CTE stages.
    Query("x_bradley_terry", (s, dir) => {
      val dc = events(s, dir).groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // ONE corpus pass feeds the pair join AND the type inventory
      val wdf = dc.select(col("day"), col("event_type").as("i"), col("c").as("ci"))
        .join(dc.select(col("day"), col("event_type").as("j"), col("c").as("cj")), Seq("day"))
        .filter(col("i") =!= col("j"))
        .groupBy("i", "j").agg(sum((col("ci") > col("cj")).cast("long")).as("w"))
      val nm = wdf
        .join(wdf.select(col("j").as("i"), col("i").as("j"), col("w").as("wt")),
          Seq("i", "j"), "left")
        .select(col("i"), col("j"), col("w"),
          (col("w") + coalesce(col("wt"), lit(0L))).as("n"))
      // The pairwise win matrix is alphabet²-bounded — metadata-scale at
      // any corpus size — so it is collected once and the 6 minorization
      // rounds run as driver arithmetic (the kmeansCents discipline;
      // previously each round was 2 joins + 2 aggregates + a checkpoint
      // over ≤|types|-row frames, ~11 scheduler jobs of fixed overhead).
      // Driver ops replicate the Column chain exactly: round(x,12) =
      // BigDecimal.valueOf(x).setScale(12, HALF_UP).doubleValue (Spark's
      // round), decimal sums as BigDecimal(valueOf(rounded)).setScale(12)
      // summed exactly, then one .doubleValue per aggregate.
      def r12(v: Double): Double =
        if (v.isNaN || v.isInfinite) v // Spark's Round passes non-finite through
        else java.math.BigDecimal.valueOf(v).setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
      def dec12(v: Double): java.math.BigDecimal =
        java.math.BigDecimal.valueOf(v).setScale(12, java.math.RoundingMode.HALF_UP)
      val nmRows = nm.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val types = dc.select(col("event_type")).distinct().collect()
        .map(_.getString(0))
      val k = types.length
      val bigw = nmRows.groupBy(_._1).map { case (i, rows) => i -> rows.map(_._3).sum }
      var p: Map[String, Double] = types.map(_ -> r12(1.0 / k.toDouble)).toMap
      for (_ <- 1 to 6) {
        // inner joins on i and j: only pairs whose BOTH endpoints carry a
        // strength contribute, and only i's present in both bigw and the
        // denominator survive — exactly the previous join semantics
        val den = scala.collection.mutable.Map[String, java.math.BigDecimal]()
        nmRows.foreach { case (i, j, _, n) =>
          for (pi <- p.get(i); pj <- p.get(j)) {
            val term = r12(n.toDouble / (pi + pj))
            // non-finite casts to decimal as NULL in Spark: sum skips it
            if (!term.isNaN && !term.isInfinite)
              den(i) = den.getOrElse(i, java.math.BigDecimal.ZERO).add(dec12(term))
          }
        }
        val praw = den.toSeq.flatMap { case (i, d) =>
          bigw.get(i).map(tw => i -> r12(tw.toDouble / d.doubleValue))
        }
        val ssum = praw.collect { case (_, pr) if !pr.isNaN && !pr.isInfinite => dec12(pr) }
          .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
        p = praw.map { case (i, pr) => i -> r12(pr / ssum) }.toMap
      }
      val out = p.toSeq.flatMap { case (i, pr) =>
        bigw.get(i).map(tw => org.apache.spark.sql.Row(i, tw, pr))
      }
      s.createDataFrame(java.util.Arrays.asList(out: _*),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_type STRING, wins BIGINT, strength DOUBLE"))
        .orderBy("event_type")
    },
      // Bradley–Terry: daily-count duels, then the 6 unrolled MM stages
      s"""WITH dc AS (SELECT $dayE AS day, event_type, count(*) AS c FROM events GROUP BY 1, 2),
                 wm AS MATERIALIZED (SELECT a.event_type AS i, b.event_type AS j,
                          CAST(sum(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT) AS w
                        FROM dc a JOIN dc b ON a.day = b.day AND a.event_type <> b.event_type
                        GROUP BY 1, 2),
                 nm AS MATERIALIZED (SELECT wm.i, wm.j, wm.w, wm.w + coalesce(wt.w, 0) AS n
                        FROM wm LEFT JOIN wm wt ON wm.i = wt.j AND wm.j = wt.i),
                 bigw AS (SELECT i, CAST(sum(w) AS BIGINT) AS tw FROM nm GROUP BY 1),
                 kk AS (SELECT count(DISTINCT event_type) AS k FROM dc),
                 bp0 AS MATERIALIZED (SELECT DISTINCT event_type AS i,
                           round(1.0 / CAST(k AS DOUBLE), 12) AS pr
                         FROM dc CROSS JOIN kk),
                 $btIters
            SELECT p.i AS event_type, bw.tw AS wins, p.pr AS strength
            FROM bp6 p JOIN bigw bw ON p.i = bw.i ORDER BY p.i"""),

    // Exact Lloyd k-means over the embedding corpus (k=8, 3 update
    // rounds) — the clustering rung under the IVF/PQ quantizers, fully
    // engine-replayable: assignment is a shuffle-free projection over
    // driver-held centroid literals (argmin of round-6 d² via struct
    // array_min), updates are (cid, dim) partial-aggregated decimal
    // means. Output: per-cluster size, floor-6-term inertia, and the
    // first centroid coordinate. Oracle = 3 unrolled assign/update CTE
    // stage pairs replaying the identical algebra.
    Query("x_kmeans", (s, dir) => {
      import s.implicits._
      val cents = kmeansCents(s, dir)
      val asg = Similarity.lloydAssign(t(s, dir, "embeddings"), "vec_id", "embedding", cents)
      val c0 = cents.map { case (cid, cv) => (cid, cv.head) }.toDF("cid", "c0")
      asg.groupBy("cid")
        .agg(count(lit(1)).as("n"),
          round(sum((floor(col("d2") * lit(1e6) + lit(0.5)) / lit(1e6))
            .cast("decimal(28,6)")).cast("double"), 4).as("inertia"))
        .join(broadcast(c0), "cid")
        .select(col("cid"), col("n"), col("inertia"), col("c0"))
        .orderBy("cid")
    },
      // Lloyd k-means: init = 8 lowest-id vectors, 3 unrolled
      // assign/update pairs, stats from the 4th assignment
      s"""WITH $kmPrelude,
                 asg4 AS (SELECT vec_id, cid, d2 FROM (
                     SELECT e.vec_id, c.cid, ${kmD2("c")} AS d2,
                            row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(${kmD2("c")}, 6), c.cid) AS rn
                     FROM kev e CROSS JOIN kc3 c) WHERE rn = 1)
            SELECT a.cid, count(*) AS n,
                   round(CAST(sum(CAST(floor(a.d2 * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE), 4) AS inertia,
                   any_value(c.cv[1]) AS c0
            FROM asg4 a JOIN kc3 c ON a.cid = c.cid
            GROUP BY a.cid ORDER BY a.cid"""),

    // Centroid silhouette — cluster-quality audit over the shared k-means
    // fit: per vector, a = dist to own centroid, b = dist to the nearest
    // OTHER centroid (both picked by the assignment's (round-6 d², cid)
    // criterion), s = (b−a)/max(a,b). Still a pure projection (the whole
    // centroid table is literals); one k-row aggregation of floor-6
    // decimal terms. Oracle rides the shared kc3 prelude: a = rank-1,
    // b = rank-2 of the identical ordering.
    Query("x_silhouette", (s, dir) => {
      val cents = kmeansCents(s, dir)
      val ev = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val scored = cents.map { case (cid, cv) =>
        val c2 = cv.foldLeft(0.0)((acc, x) => acc + x * x)
        val d2 = graft.functions.VectorFunctions.dot(col("v"), col("v")) -
          lit(2.0) * graft.functions.VectorFunctions.dot(col("v"), typedLit(cv)) + lit(c2)
        struct(round(d2, 6).as("key"), lit(cid).as("cid"), d2.as("d2"))
      }
      val a = sqrt(greatest(col("own.d2"), lit(0.0)))
      val b = sqrt(greatest(col("nxt.d2"), lit(0.0)))
      val sil = when(greatest(a, b) === 0.0, lit(0.0)).otherwise((b - a) / greatest(a, b))
      ev.withColumn("st", array(scored: _*))
        .withColumn("own", array_min(col("st")))
        .withColumn("nxt", array_min(filter(col("st"), x => x("cid") =!= col("own.cid"))))
        .select(col("own.cid").as("cid"), f6(sil).as("sil"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          round(sum(col("sil").cast("decimal(28,6)")).cast("double") / count(lit(1)), 6).as("mean_sil"))
        .orderBy("cid")
    },
      // Centroid silhouette over the same fit: rank-1 = own cluster,
      // rank-2 = nearest other, identical (round-6 d2, cid) ordering
      s"""WITH $kmPrelude,
                 rk AS MATERIALIZED (SELECT vec_id, cid, d2,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY round(d2, 6), cid) AS rn
                      FROM (SELECT e.vec_id, c.cid, ${kmD2("c")} AS d2
                            FROM kev e CROSS JOIN kc3 c)),
                 ab AS (SELECT o.vec_id, o.cid,
                          sqrt(greatest(o.d2, 0.0)) AS a, sqrt(greatest(x.d2, 0.0)) AS b
                        FROM rk o JOIN rk x ON o.vec_id = x.vec_id AND o.rn = 1 AND x.rn = 2),
                 sil AS (SELECT cid,
                           floor(CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                                      ELSE (b - a) / greatest(a, b) END * 1e6 + 0.5) / 1e6 AS sil
                         FROM ab)
            SELECT cid, count(*) AS n,
                   round(CAST(sum(CAST(sil AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_sil
            FROM sil GROUP BY cid ORDER BY cid"""),

    // t-closeness — the third rung of the privacy ladder (x_k_anonymity,
    // x_l_diversity): per equivalence class, ordered earth-mover distance
    // between the class's sensitive-value (balance-bucket) distribution
    // and the global one. EMD over ordinal categories = Σ|prefix sums of
    // the per-bucket probability gaps|, kept EXACT by scaling to the
    // integer lattice (cv·n − gv·nc, DECIMAL(38,0) — n² would overflow a
    // long at corpus scale) with one double division at the end. Window
    // partitioned BY CLASS over the bounded bucket grid.
    Query("x_tclose", (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("bal_bucket", floor(col("c_acctbal") / 1000).cast("int"))
      val cls = c.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(count(lit(1)).as("cv"))
      val glob = c.groupBy("bal_bucket").agg(count(lit(1)).as("gv"))
      val nTot = c.agg(count(lit(1)).as("n"), count_distinct(col("bal_bucket")).as("m"))
      val nCls = cls.groupBy("c_nationkey", "c_mktsegment").agg(sum(col("cv")).as("nc"))
      val grid = nCls.crossJoin(broadcast(glob))
      val w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("bal_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(cls, Seq("c_nationkey", "c_mktsegment", "bal_bucket"), "left")
        .withColumn("cv", coalesce(col("cv"), lit(0L)))
        .crossJoin(broadcast(nTot))
        .withColumn("diff",
          col("cv").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")
            - col("gv").cast("decimal(38,0)") * col("nc").cast("decimal(38,0)"))
        .withColumn("cum", sum(col("diff")).over(w))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("nc").as("group_size"),
          col("n"), col("m"))
        .agg(sum(abs(col("cum"))).as("absCum"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
          (floor(col("absCum").cast("double")
            / (col("group_size").cast("double") * col("n").cast("double")
              * (col("m") - 1).cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("t_emd"))
        .withColumn("is_t_close", col("t_emd") <= lit(0.25))
        .orderBy("c_nationkey", "c_mktsegment")
    },
      // t-closeness: integer-lattice EMD (HUGEINT, mirroring the Spark
      // DECIMAL(38,0)), one double division per class
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
                        CAST(floor(c_acctbal / 1000) AS INTEGER) AS bal_bucket FROM customer),
                cls AS (SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS cv FROM c GROUP BY 1, 2, 3),
                gl AS (SELECT bal_bucket, count(*) AS gv FROM c GROUP BY 1),
                nt AS (SELECT count(*) AS n, count(DISTINCT bal_bucket) AS m FROM c),
                ncls AS (SELECT c_nationkey, c_mktsegment, CAST(sum(cv) AS BIGINT) AS nc FROM cls GROUP BY 1, 2),
                f AS (SELECT gr.c_nationkey, gr.c_mktsegment, gr.nc, gr.bal_bucket, gr.gv,
                        coalesce(cl.cv, 0) AS cv
                      FROM (SELECT x.c_nationkey, x.c_mktsegment, x.nc, g.bal_bucket, g.gv
                            FROM ncls x CROSS JOIN gl g) gr
                      LEFT JOIN cls cl ON gr.c_nationkey = cl.c_nationkey
                        AND gr.c_mktsegment = cl.c_mktsegment AND gr.bal_bucket = cl.bal_bucket),
                cum AS (SELECT c_nationkey, c_mktsegment, nc,
                          sum(CAST(cv AS HUGEINT) * n - CAST(gv AS HUGEINT) * nc)
                            OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY bal_bucket
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                        FROM f CROSS JOIN nt),
                agg AS (SELECT c_nationkey, c_mktsegment, nc AS group_size,
                          sum(abs(cum)) AS abscum
                        FROM cum GROUP BY 1, 2, 3),
                emd AS (SELECT c_nationkey, c_mktsegment, group_size,
                          floor(CAST(abscum AS DOUBLE)
                            / (CAST(group_size AS DOUBLE) * CAST(n AS DOUBLE) * CAST(m - 1 AS DOUBLE))
                            * 1e6 + 0.5) / 1e6 AS t_emd
                        FROM agg CROSS JOIN nt)
           SELECT c_nationkey, c_mktsegment, group_size, t_emd, t_emd <= 0.25 AS is_t_close
           FROM emd ORDER BY c_nationkey, c_mktsegment"""),

    // autocorrelation of the daily volume series at lags 1/2/3/7, per
    // event type — the seasonality fingerprint next to x_seasonality's
    // STL decomposition (a weekly cycle shows as a lag-7 peak). Series
    // completed over the type×day grid with zeros; deviations are single
    // double ops on exact integers; numerator/denominator terms floor-6 +
    // DECIMAL-sum; the lag join is a grid equi-join on (type, day+lag).
    Query("x_acf", (s, dir) => {
      val (x, den) = typeDayDevs(s, dir)
      lagNums(x, Seq(1, 2, 3, 7)).join(broadcast(den), "event_type")
        .select(col("event_type"), col("lag"),
          (floor(col("num").cast("double") / col("den").cast("double") * lit(1e4) + lit(0.5))
            / lit(1e4)).as("acf"))
        .orderBy("event_type", "lag")
    },
      // ACF: zero-completed type×day grid, floor-6 deviation products,
      // decimal sums, lag join on (type, day + lag)
      s"""WITH $typeDayDevsSql,
                 ${lagNumsSql(Seq(1, 2, 3, 7))}
            SELECT n.event_type, n.lag,
                   floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e4 + 0.5) / 1e4 AS acf
            FROM num n JOIN den USING (event_type) ORDER BY event_type, lag"""),

    // Lead–lag CROSS-correlation between every ordered pair of
    // event-type daily series at lags −3..+3 — the bivariate companion
    // of x_acf (does view volume lead purchase volume?). Identical grid
    // and deviation construction; the lagged match is an equi-join on
    // (pair, day+lag), never a filtered grid; numerator terms floor to
    // 6 dp and DECIMAL-sum; normalization by √(den_a·den_b) with the
    // per-type denominators broadcast. Day-grid bounded — metadata at
    // any corpus scale.
    Query("x_cross_corr", (s, dir) => {
      val (x, den) = typeDayDevs(s, dir)
      val b = x.select(col("event_type").as("tb"), col("d").as("db"), col("dev").as("devb"))
      x.withColumn("lag", explode(array((-3 to 3).map(lit): _*)))
        .join(b, col("db") === date_add(col("d"), col("lag")) && col("event_type") < col("tb"))
        .groupBy(col("event_type").as("ta"), col("tb"), col("lag"))
        .agg(sum(f6d(col("dev") * col("devb"))).as("num"), count(lit(1)).as("n_overlap"))
        .join(broadcast(den.select(col("event_type").as("ta"), col("den").as("dena"))), "ta")
        .join(broadcast(den.select(col("event_type").as("tb"), col("den").as("denb"))), "tb")
        .select(col("ta"), col("tb"), col("lag"), col("n_overlap"),
          (floor(col("num").cast("double")
            / sqrt(col("dena").cast("double") * col("denb").cast("double"))
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("ccf"))
        .orderBy("ta", "tb", "lag")
    },
      // cross-correlation: the ACF machinery on ordered type pairs
      s"""WITH $typeDayDevsSql,
                 num AS (SELECT a.event_type AS ta, b.event_type AS tb, l.lag,
                           sum(CAST(floor(a.dev * b.dev * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS num,
                           count(*) AS n_overlap
                         FROM x a CROSS JOIN (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) AS l(lag)
                         JOIN x b ON b.d = a.d + CAST(l.lag AS INTEGER) AND a.event_type < b.event_type
                         GROUP BY 1, 2, 3)
            SELECT n.ta, n.tb, n.lag, n.n_overlap,
                   floor(CAST(num AS DOUBLE)
                     / sqrt(CAST(da.den AS DOUBLE) * CAST(db.den AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS ccf
            FROM num n JOIN den da ON da.event_type = n.ta
            JOIN den db ON db.event_type = n.tb
            ORDER BY ta, tb, lag"""),

    // Partial autocorrelation (PACF, lags 1–3) per type — completes the
    // Box-Jenkins identification pair with x_acf: Durbin–Levinson in
    // closed form, φ11 = r1, φ22 = (r2−r1²)/(1−r1²),
    // φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2). The r_k are
    // the same decimal-summed numerators/denominator as x_acf divided
    // RAW (no intermediate rounding — the double-rounding trap), so the
    // closed-form algebra is the identical IEEE op chain in both
    // engines; only the outputs floor-round to 4 dp.
    Query("x_pacf", (s, dir) => {
      val (x, den) = typeDayDevs(s, dir)
      val piv = lagNums(x, Seq(1, 2, 3)).groupBy("event_type").agg(
        max(when(col("lag") === 1, col("num"))).as("n1"),
        max(when(col("lag") === 2, col("num"))).as("n2"),
        max(when(col("lag") === 3, col("num"))).as("n3"))
      piv.join(broadcast(den), "event_type")
        .withColumn("r1", col("n1").cast("double") / col("den").cast("double"))
        .withColumn("r2", col("n2").cast("double") / col("den").cast("double"))
        .withColumn("r3", col("n3").cast("double") / col("den").cast("double"))
        .withColumn("p22", (col("r2") - col("r1") * col("r1")) / (lit(1.0) - col("r1") * col("r1")))
        .withColumn("p21", col("r1") - col("p22") * col("r1"))
        .withColumn("p33",
          (col("r3") - col("p21") * col("r2") - col("p22") * col("r1"))
            / (lit(1.0) - col("p21") * col("r1") - col("p22") * col("r2")))
        .select(col("event_type"),
          f4(col("r1")).as("pacf1"), f4(col("p22")).as("pacf2"), f4(col("p33")).as("pacf3"))
        .orderBy("event_type")
    },
      // PACF: Durbin–Levinson closed forms over the raw ACF quotients
      s"""WITH $typeDayDevsSql,
                 ${lagNumsSql(Seq(1, 2, 3))},
                 piv AS (SELECT event_type,
                           max(CASE WHEN lag = 1 THEN num END) AS n1,
                           max(CASE WHEN lag = 2 THEN num END) AS n2,
                           max(CASE WHEN lag = 3 THEN num END) AS n3
                         FROM num GROUP BY 1),
                 rr AS (SELECT p.event_type,
                          CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
                          CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
                          CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3
                        FROM piv p JOIN den USING (event_type)),
                 p2 AS (SELECT event_type, r1, r2, r3,
                          (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
                        FROM rr),
                 p3 AS (SELECT event_type, r1, r2, r3, p22, r1 - p22 * r1 AS p21 FROM p2)
            SELECT event_type,
                   floor(r1 * 1e4 + 0.5) / 1e4 AS pacf1,
                   floor(p22 * 1e4 + 0.5) / 1e4 AS pacf2,
                   floor((r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2) * 1e4 + 0.5) / 1e4 AS pacf3
            FROM p3 ORDER BY event_type"""),

    // Mann–Kendall trend test per event type — the nonparametric "is
    // this daily series trending" companion to x_runs_test (randomness)
    // and x_theilsen (the matching slope estimator): S = Σ_{i<j}
    // sign(c_j − c_i) over the day-pair grid (calendar² metadata — the
    // x_theilsen envelope), tie-corrected Var(S) = [n(n−1)(2n+5) −
    // Σ_t t(t−1)(2t+5)]/18 with tie groups from one (type, count)
    // rollup, and z with the ±1 continuity correction. Everything up to
    // the final z is exact integer arithmetic.
    Query("x_mann_kendall", (s, dir) => {
      val d = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val b = d.select(col("event_type"), col("day").as("d2"), col("c").as("c2"))
      val sg = d.join(b, "event_type").filter(col("day") < col("d2"))
        .groupBy("event_type")
        .agg(sum(signum(col("c2") - col("c")).cast("long")).as("s_stat"))
      val tg = d.groupBy("event_type", "c").agg(count(lit(1)).as("t"))
        .groupBy("event_type").agg(
          sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"),
          sum(col("t")).as("n_days"))
      sg.join(tg, "event_type")
        .withColumn("var_num",
          col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5) - col("tie_term"))
        .withColumn("z", when(col("s_stat") === 0, lit(0.0)).otherwise(
          floor((col("s_stat").cast("double") - signum(col("s_stat")))
            / sqrt(col("var_num").cast("double") / lit(18.0)) * lit(1e4) + lit(0.5)) / lit(1e4)))
        .select("event_type", "n_days", "s_stat", "var_num", "z")
        .orderBy("event_type")
    },
      // Mann–Kendall: exact integer S and tie-corrected variance
      s"""WITH d AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                 sg AS (SELECT a.event_type,
                          CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
                        FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
                        GROUP BY 1),
                 tg AS (SELECT event_type,
                          CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
                          CAST(sum(t) AS BIGINT) AS n_days
                        FROM (SELECT event_type, c, count(*) AS t FROM d GROUP BY 1, 2)
                        GROUP BY 1)
            SELECT sg.event_type, n_days, s_stat,
                   n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var_num,
                   CASE WHEN s_stat = 0 THEN 0.0
                        ELSE floor((CAST(s_stat AS DOUBLE) - sign(s_stat))
                          / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0)
                          * 1e4 + 0.5) / 1e4 END AS z
            FROM sg JOIN tg USING (event_type) ORDER BY event_type"""),

    // Spearman rank correlation between every pair of event-type daily
    // series (completing the correlation family: Pearson/OLS, Theil-Sen,
    // ACF): tie-adjusted average ranks kept INTEGER as 2·avgrank =
    // 2·rank + tied − 1, so ρ is a ratio of exact integer sums with two
    // IEEE sqrts — no per-row float pass. Ranks are computed once per
    // type (they don't depend on the pairing); the day grid is
    // calendar-bounded metadata.
    // OLS with INFERENCE — the missing second half of the regression
    // story (Stats.groupedLinReg reports the fit; this reports whether
    // to believe it): daily purchase count on daily view count, with
    // SE(b)² = (varYN − b·covN)/((n−2)·varXN) in the N-scaled exact
    // sums, t = b/SE, and the ±1.96 normal-approximation CI
    // (documented — no t-table in either engine). The DECIMAL(38,0)
    // product discipline from groupedLinReg guards the n·sxy overflow.
    Query("x_linreg_inference", (s, dir) => {
      val d = events(s, dir).groupBy("day").agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val st = d.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val covN = (d38(col("n")) * d38(col("sxy")) - d38(col("sx")) * d38(col("sy"))).cast("double")
      val varXN = (d38(col("n")) * d38(col("sxx")) - d38(col("sx")) * d38(col("sx"))).cast("double")
      val varYN = (d38(col("n")) * d38(col("syy")) - d38(col("sy")) * d38(col("sy"))).cast("double")
      val b = covN / varXN
      val se = sqrt((varYN - b * covN) / ((col("n").cast("double") - lit(2.0)) * varXN))
      st.select(col("n"), f6(b).as("slope"), f6(se).as("se"),
        (floor(b / se * lit(1e4) + lit(0.5)) / lit(1e4)).as("t_stat"),
        f6(b - lit(1.96) * se).as("ci_lo"), f6(b + lit(1.96) * se).as("ci_hi"))
    },
      // Spearman: 2·avgrank integers, rho from exact sums
      // OLS inference: HUGEINT products mirror the DECIMAL(38,0) guard
      s"""WITH d AS (SELECT $dayE AS day,
                         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
                       FROM events GROUP BY 1),
                st AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                              CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
                              CAST(sum(y * y) AS BIGINT) AS syy
                       FROM d),
                c AS (SELECT n,
                        CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS covn,
                        CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS varxn,
                        CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS varyn
                      FROM st),
                f AS (SELECT n, covn / varxn AS b,
                        sqrt((varyn - (covn / varxn) * covn) / ((n - 2.0) * varxn)) AS se
                      FROM c)
           SELECT n,
                  floor(b * 1e6 + 0.5) / 1e6 AS slope,
                  floor(se * 1e6 + 0.5) / 1e6 AS se,
                  floor(b / se * 1e4 + 0.5) / 1e4 AS t_stat,
                  floor((b - 1.96 * se) * 1e6 + 0.5) / 1e6 AS ci_lo,
                  floor((b + 1.96 * se) * 1e6 + 0.5) / 1e6 AS ci_hi
           FROM f"""),

    // Decile Q–Q comparison of the view vs purchase VALUE
    // distributions — the graphical-statistics companion of
    // x_wasserstein's single-number distance: exact lower quantiles
    // q_p = min{v : F(v) ≥ p/10} read off the cents-histogram CDF with
    // integer thresholds ⌈p·n/10⌉ (no interpolation, no floats until
    // the final /100). Histogram windows per type; the threshold probe
    // is a 9-row grid join.
    Query("x_qq_plot", (s, dir) => {
      val h = events(s, dir).filter(col("event_type").isin("view", "purchase"))
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("cents")
      val cum = h.withColumn("cum", sum(col("c")).over(w))
      val n = h.groupBy("event_type").agg(sum(col("c")).as("n"))
      val ps = s.range(1, 10).select(col("id").cast("int").as("p"))
      val th = n.crossJoin(ps).withColumn("thr", expr("(p * n + 9) div 10"))
      val q = cum.join(th, "event_type").filter(col("cum") >= col("thr"))
        .groupBy("event_type", "p").agg(min(col("cents")).as("qc"))
      q.filter(col("event_type") === "view")
        .select(col("p"), (col("qc").cast("double") / lit(100.0)).as("q_view"))
        .join(q.filter(col("event_type") === "purchase")
          .select(col("p"), (col("qc").cast("double") / lit(100.0)).as("q_purchase")), "p")
        .orderBy("p")
    },
      // Q–Q: exact lower quantiles off the cents-histogram CDF
      """WITH h AS (SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
                             count(*) AS c
                      FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2),
                cm AS (SELECT event_type, cents,
                         sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum
                       FROM h),
                n AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
                th AS (SELECT event_type, p, (p * n + 9) // 10 AS thr
                       FROM n, (SELECT CAST(range AS INTEGER) AS p FROM range(1, 10)) ps),
                q AS (SELECT cm.event_type, th.p, min(cents) AS qc
                      FROM cm JOIN th ON cm.event_type = th.event_type AND cm.cum >= th.thr
                      GROUP BY 1, 2)
           SELECT v.p, v.qc / 100.0 AS q_view, u.qc / 100.0 AS q_purchase
           FROM (SELECT p, qc FROM q WHERE event_type = 'view') v
           JOIN (SELECT p, qc FROM q WHERE event_type = 'purchase') u USING (p)
           ORDER BY p"""),

    // Friedman test — the k-sample repeated-measures companion of
    // x_mannwhitney's two-sample U: blocks = days, treatments = event
    // types, within-day average ranks kept INTEGER as 2r = 2·rank +
    // tied − 1 (the x_spearman trick), χ²_F = 3·ΣR2_j²/(n·k·(k+1)) −
    // 3·n·(k+1) in the 2r scaling. Ranking windows run over the
    // day×type GRID (k rows per day); everything up to the final χ² is
    // exact integer arithmetic.
    Query("x_friedman", (s, dir) => {
      val full = typeDayCounts(s, dir)
      val rk = full
        .withColumn("rn", rank().over(Window.partitionBy("day").orderBy("c")))
        .withColumn("tied", count(lit(1)).over(Window.partitionBy("day", "c")))
        .select(col("event_type"), col("day"),
          (lit(2L) * col("rn") + col("tied") - lit(1L)).as("r2"))
      val sums = rk.groupBy("event_type").agg(sum(col("r2")).as("r2sum"), count(lit(1)).as("n"))
      val tot = sums.agg(
        count(lit(1)).as("k"), max(col("n")).as("n_blocks"),
        sum(col("r2sum") * col("r2sum")).as("ssq"))
      tot.select(col("k"), col("n_blocks"),
          (floor((lit(3.0) * col("ssq").cast("double")
            / (col("n_blocks").cast("double") * col("k").cast("double") * (col("k").cast("double") + lit(1.0)))
            - lit(3.0) * col("n_blocks").cast("double") * (col("k").cast("double") + lit(1.0)))
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("chi2_f"))
    },
      // Friedman: integer 2r ranks within day blocks, exact ΣR2²
      s"""WITH $typeDayCountsSql,
                 rk AS (SELECT event_type, day,
                          2 * rank() OVER (PARTITION BY day ORDER BY c)
                            + count(*) OVER (PARTITION BY day, c) - 1 AS r2
                        FROM f),
                 sums AS (SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2sum, count(*) AS n
                          FROM rk GROUP BY 1),
                 tot AS (SELECT count(*) AS k, max(n) AS n_blocks,
                                CAST(sum(r2sum * r2sum) AS BIGINT) AS ssq
                         FROM sums)
            SELECT k, n_blocks,
                   floor((3.0 * ssq / (CAST(n_blocks AS DOUBLE) * k * (k + 1.0))
                     - 3.0 * n_blocks * (k + 1.0)) * 1e4 + 0.5) / 1e4 AS chi2_f
            FROM tot"""),

    Query("x_spearman", (s, dir) => {
      val full = typeDayCounts(s, dir)
      val rk = full
        .withColumn("rn", rank().over(Window.partitionBy("event_type").orderBy("c")))
        .withColumn("tied", count(lit(1)).over(Window.partitionBy("event_type", "c")))
        .select(col("event_type"), col("day"),
          (lit(2L) * col("rn") + col("tied") - lit(1L)).as("r2"))
      val p = rk.select(col("event_type").as("type_a"), col("day"), col("r2").as("ra"))
        .join(rk.select(col("event_type").as("type_b"), col("day"), col("r2").as("rb")), Seq("day"))
        .filter(col("type_a") < col("type_b"))
      p.groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n"), sum(col("ra")).as("sx"), sum(col("rb")).as("sy"),
          sum(col("ra") * col("rb")).as("sxy"),
          sum(col("ra") * col("ra")).as("sxx"), sum(col("rb") * col("rb")).as("syy"))
        .select(col("type_a"), col("type_b"), col("n"),
          f6((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))).as("rho"))
        .orderBy("type_a", "type_b")
    },
      s"""WITH $typeDayCountsSql,
                 rk AS (SELECT event_type, day,
                          2 * rank() OVER (PARTITION BY event_type ORDER BY c)
                            + count(*) OVER (PARTITION BY event_type, c) - 1 AS r2
                        FROM f),
                 p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                              a.r2 AS ra, b.r2 AS rb
                       FROM rk a JOIN rk b ON a.day = b.day AND a.event_type < b.event_type),
                 agg AS (SELECT type_a, type_b, count(*) AS n,
                           CAST(sum(ra) AS BIGINT) AS sx, CAST(sum(rb) AS BIGINT) AS sy,
                           CAST(sum(ra * rb) AS BIGINT) AS sxy,
                           CAST(sum(ra * ra) AS BIGINT) AS sxx,
                           CAST(sum(rb * rb) AS BIGINT) AS syy
                         FROM p GROUP BY 1, 2)
            SELECT type_a, type_b, n,
                   floor(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 AS rho
            FROM agg ORDER BY type_a, type_b"""),

    // Kendall τ-b over the same paired daily series — the rank
    // correlation robust to non-linearity AND heavy ties (the zero-
    // completed grid has many tied zero days): concordant/discordant/tie
    // counts over day pairs, hash-joined on the (type_a, type_b) pair key
    // with the day<day2 filter as a post-condition (never a BNLJ over the
    // data); the day-pair grid is calendar-bounded metadata. τ-b from
    // exact integers with two IEEE sqrts.
    Query("x_kendall", (s, dir) => {
      val full = typeDayCounts(s, dir)
      val sab = full.select(col("event_type").as("type_a"), col("day"), col("c").as("ca"))
        .join(full.select(col("event_type").as("type_b"), col("day"), col("c").as("cb")), Seq("day"))
        .filter(col("type_a") < col("type_b"))
      val pp = sab.join(
        sab.select(col("type_a"), col("type_b"), col("day").as("day2"),
          col("ca").as("ca2"), col("cb").as("cb2")),
        Seq("type_a", "type_b"))
        .filter(col("day") < col("day2"))
      val sgn = (col("ca") - col("ca2")) * (col("cb") - col("cb2"))
      pp.groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n0"),
          sum((sgn > 0).cast("long")).as("conc"),
          sum((sgn < 0).cast("long")).as("disc"),
          sum((col("ca") === col("ca2")).cast("long")).as("tx"),
          sum((col("cb") === col("cb2")).cast("long")).as("ty"))
        .select(col("type_a"), col("type_b"), col("n0"), col("conc"), col("disc"),
          f6(when(col("n0") === col("tx") || col("n0") === col("ty"), lit(0.0))
            .otherwise((col("conc") - col("disc")).cast("double")
              / (sqrt((col("n0") - col("tx")).cast("double"))
                * sqrt((col("n0") - col("ty")).cast("double"))))).as("tau_b"))
        .orderBy("type_a", "type_b")
    },
      // Kendall tau-b: concordant/discordant/tie counts over the bounded
      // day-pair grid
      s"""WITH $typeDayCountsSql,
                 sab AS (SELECT a.event_type AS type_a, b.event_type AS type_b, a.day,
                                a.c AS ca, b.c AS cb
                         FROM f a JOIN f b ON a.day = b.day AND a.event_type < b.event_type),
                 pp AS (SELECT x.type_a, x.type_b, x.ca, x.cb, y.ca AS ca2, y.cb AS cb2
                        FROM sab x JOIN sab y ON x.type_a = y.type_a AND x.type_b = y.type_b
                          AND x.day < y.day),
                 agg AS (SELECT type_a, type_b, count(*) AS n0,
                           CAST(sum(CASE WHEN (ca - ca2) * (cb - cb2) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
                           CAST(sum(CASE WHEN (ca - ca2) * (cb - cb2) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
                           CAST(sum(CASE WHEN ca = ca2 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                           CAST(sum(CASE WHEN cb = cb2 THEN 1 ELSE 0 END) AS BIGINT) AS ty
                         FROM pp GROUP BY 1, 2)
            SELECT type_a, type_b, n0, conc, disc,
                   floor(CASE WHEN n0 = tx OR n0 = ty THEN 0.0
                              ELSE CAST(conc - disc AS DOUBLE)
                                / (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE))) END
                     * 1e6 + 0.5) / 1e6 AS tau_b
            FROM agg ORDER BY type_a, type_b"""),

    // Theil–Sen robust trend of daily volume — the outlier-proof slope
    // next to x_linreg_tokens' OLS: the (lower) median of all pairwise
    // day-slopes. The pair enumeration is the CALENDAR grid squared
    // (metadata at any corpus scale — the x_forecast_ses bound), the
    // median is a deterministic rank pick at (m+1)/2 with (slope, t1,
    // t2) tie order.
    Query("x_theilsen", (s, dir) => {
      val v = events(s, dir).groupBy("day").agg(count(lit(1)).as("c"))
      val minD = v.agg(min(to_date(col("day"))).as("d0"))
      val idx = v.crossJoin(broadcast(minD))
        .select(datediff(to_date(col("day")), col("d0")).as("t"), col("c"))
      val pairs = idx.select(col("t").as("t1"), col("c").as("c1"))
        .join(idx.select(col("t").as("t2"), col("c").as("c2")), col("t1") < col("t2"))
        .withColumn("slope",
          (col("c2") - col("c1")).cast("double") / (col("t2") - col("t1")).cast("double"))
      val m = pairs.agg(count(lit(1)).as("n_pairs"))
      pairs
        .withColumn("rk", row_number().over(Window.partitionBy(constKey(col("slope"))).orderBy(col("slope"), col("t1"), col("t2"))))
        .crossJoin(broadcast(m))
        .filter(col("rk").cast("long") === ((col("n_pairs") + 1) / lit(2)).cast("long"))
        .select(col("n_pairs"),
          (floor(col("slope") * lit(1e6) + lit(0.5)) / lit(1e6)).as("slope_per_day"),
          (col("slope") > lit(0.0)).as("rising"))
    },
      // Theil-Sen: day-pair slope grid, lower-median rank pick
      s"""WITH v AS (SELECT $dayE AS day, count(*) AS c FROM events GROUP BY 1),
                 d0 AS (SELECT min(CAST(day AS DATE)) AS d0 FROM v),
                 idx AS (SELECT datediff('day', d0.d0, CAST(day AS DATE)) AS t, c
                         FROM v CROSS JOIN d0),
                 p AS (SELECT a.t AS t1, b.t AS t2,
                         CAST(b.c - a.c AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
                       FROM idx a JOIN idx b ON a.t < b.t),
                 m AS (SELECT count(*) AS n_pairs FROM p),
                 r AS (SELECT slope, row_number() OVER (ORDER BY slope, t1, t2) AS rk FROM p)
            SELECT n_pairs, floor(slope * 1e6 + 0.5) / 1e6 AS slope_per_day, slope > 0.0 AS rising
            FROM r CROSS JOIN m WHERE rk = (n_pairs + 1) // 2"""),

    // Benford first-digit audit over order totals — the classic
    // fabricated-numbers screen: observed first-significant-digit
    // frequencies vs log10(1 + 1/d) expectation. Counts are exact
    // integers; the expectation is the same deterministic double
    // expression in both engines.
    Query("x_benford", (s, dir) => {
      // first significant digit via INTEGER cents — float-to-string
      // formatting differs across engines, but floor(x·100 + 0.5) is the
      // same double both sides and a BIGINT renders canonically
      val o = t(s, dir, "orders")
        .withColumn("d", substring(
          floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("bigint").cast("string"),
          1, 1).cast("int"))
        .filter(col("d").isNotNull)
      val tot = o.agg(count(lit(1)).as("n"))
      o.groupBy("d").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .withColumn("obs_frac",
          floor(col("cnt").cast("double") / col("n").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
        .withColumn("benford_frac",
          floor(log(lit(1.0) + lit(1.0) / col("d").cast("double")) / log(lit(10.0)) * lit(1e6) + lit(0.5)) / lit(1e6))
        .select("d", "cnt", "obs_frac", "benford_frac")
        .orderBy("d")
    },
      // Benford: integer-cents first digit, ln-ratio expectation
      """WITH o AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
                      FROM orders),
                t AS (SELECT count(*) AS n FROM o WHERE d IS NOT NULL)
           SELECT d, count(*) AS cnt,
                  floor(CAST(count(*) AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS obs_frac,
                  floor(ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * 1e6 + 0.5) / 1e6 AS benford_frac
           FROM o CROSS JOIN t WHERE d IS NOT NULL
           GROUP BY d, n ORDER BY d"""),

    // exact distributed PCA (graft.ext.Pca): top principal component by
    // power iteration — corpus contributes ONE decimal-exact d² stats
    // shuffle; the 16×16 iteration is bounded driver state (the PQ/IVF
    // shape); projection is a broadcast join + per-vector decimal sum.
    // Oracle replays the iteration as 8 unrolled materialized CTE stages.
    Query("x_pca_project", (s, dir) =>
      graft.ext.Pca.projectTopK(t(s, dir, "embeddings"), pcaFitted(s, dir))
        .orderBy("vec_id"),
      // PCA: decimal-exact second moments, 16 unrolled power-iteration
      // stages (MATERIALIZED — the x_unigram_tok CTE-inlining lesson),
      // every mat-vec partial on the 1e-12 grid summed as decimal
      pcaOracle(
        """SELECT vec_id, floor(p1 * 1e6 + 0.5) / 1e6 AS pc1,
                  floor(p2 * 1e6 + 0.5) / 1e6 AS pc2
           FROM proj ORDER BY vec_id""")),

    // PCA occupancy heatmap: the 8×8 density grid over (pc1, pc2) — the
    // embedding-space overview plot as a query. Shares ONE fit with
    // x_pca_project (pcaFitted memo — a production pipeline fits once);
    // extent is a 1-row broadcast aggregate, bucketing is the identical
    // double tree on the rounded projections in both engines.
    Query("x_pca_heatmap", (s, dir) => {
      val proj = graft.ext.Pca.projectTopK(t(s, dir, "embeddings"), pcaFitted(s, dir))
      val ext = proj.agg(
        min(col("pc1")).as("min1"), max(col("pc1")).as("max1"),
        min(col("pc2")).as("min2"), max(col("pc2")).as("max2"))
      proj.crossJoin(broadcast(ext))
        .withColumn("gx", least(
          floor((col("pc1") - col("min1")) / (col("max1") - col("min1")) * lit(8.0)),
          lit(7.0)).cast("int"))
        .withColumn("gy", least(
          floor((col("pc2") - col("min2")) / (col("max2") - col("min2")) * lit(8.0)),
          lit(7.0)).cast("int"))
        .groupBy("gx", "gy").agg(count(lit(1)).as("n"))
        .orderBy("gx", "gy")
    },
      // PCA heatmap: 8x8 occupancy grid over the rounded projections;
      // bucket math is the identical double tree on identical inputs
      pcaOracle(
        """, rp AS (SELECT vec_id, floor(p1 * 1e6 + 0.5) / 1e6 AS pc1,
                           floor(p2 * 1e6 + 0.5) / 1e6 AS pc2 FROM proj),
              ext AS (SELECT min(pc1) AS min1, max(pc1) AS max1,
                             min(pc2) AS min2, max(pc2) AS max2 FROM rp)
           SELECT CAST(least(floor((pc1 - min1) / (max1 - min1) * 8.0), 7.0) AS INTEGER) AS gx,
                  CAST(least(floor((pc2 - min2) / (max2 - min2) * 8.0), 7.0) AS INTEGER) AS gy,
                  count(*) AS n
           FROM rp CROSS JOIN ext GROUP BY 1, 2 ORDER BY gx, gy""")),

    // daily-volume anomaly detection: per event type, each day's count
    // z-scored against the type's own day distribution. Variance comes
    // from EXACT integer sufficient stats (Σc, Σc² as longs — the
    // x_linreg_tokens discipline), so the distributed agg is
    // order-independent and the double math is one deterministic
    // expression tree. Per-type stats are |types| rows, broadcast back
    // onto the |types|·|days| grid — metadata joins at any volume.
    Query("x_anomaly_days", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val st = dc.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("sxx"))
      val n = col("n_days").cast("double")
      val mean = col("sx").cast("double") / col("n_days").cast("double")
      val variance = (col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / n) / n
      dc.join(broadcast(st), "event_type")
        .filter(variance > lit(0.0))
        .withColumn("z",
          floor((col("c").cast("double") - mean) / sqrt(variance) * lit(1e4) + lit(0.5)) / lit(1e4))
        .select(col("event_type"), col("day"), col("c"),
          col("z"), (abs(col("z")) >= lit(2.0)).as("is_anomaly"))
        .orderBy("event_type", "day")
    },
      // anomaly days: variance from exact integer sufficient stats, one
      // deterministic double tree; the anomaly flag reads the ROUNDED z
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                 st AS (SELECT event_type, count(*) AS n_days,
                          CAST(sum(c) AS BIGINT) AS sx, CAST(sum(c * c) AS BIGINT) AS sxx
                        FROM dc GROUP BY 1),
                 j AS (SELECT dc.event_type, dc.day, dc.c,
                         CAST(n_days AS DOUBLE) AS n,
                         CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
                         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))
                           / CAST(n_days AS DOUBLE) AS variance
                       FROM dc JOIN st USING (event_type)),
                 z AS (SELECT event_type, day, c,
                         floor((CAST(c AS DOUBLE) - mean) / sqrt(variance) * 1e4 + 0.5) / 1e4 AS z
                       FROM j WHERE variance > 0.0)
            SELECT event_type, day, c, z, abs(z) >= 2.0 AS is_anomaly
            FROM z ORDER BY event_type, day"""),

    // user survival curve: S(k) = fraction of users still active k days
    // after their first activity (lifetime = last − first active day) —
    // the Kaplan–Meier view of churn (no censoring: the corpus window is
    // closed). The lifetime histogram is ≤ |days| rows; the k-grid
    // cumulation is a bounded grid×grid join, never a corpus-scale
    // window.
    Query("x_survival_curve", (s, dir) => {
      val lt = events(s, dir).groupBy("user_id")
        .agg(datediff(to_date(max(col("day"))), to_date(min(col("day")))).as("lifetime"))
      val hist = lt.groupBy("lifetime").agg(count(lit(1)).as("cnt"))
      val nu = lt.agg(count(lit(1)).as("n_users"))
      val ks = hist.select(col("lifetime").as("k")).distinct()
      ks.join(hist, col("lifetime") >= col("k"))
        .groupBy("k").agg(sum(col("cnt")).as("n_surviving"))
        .crossJoin(broadcast(nu))
        .withColumn("survival",
          floor(col("n_surviving").cast("double") / col("n_users").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .select("k", "n_surviving", "survival")
        .orderBy("k")
    },
      // survival curve: lifetime histogram (≤ |days| rows) cumulated over
      // the k grid
      s"""WITH lt AS (SELECT user_id,
                          CAST(max($dayE) AS DATE) - CAST(min($dayE) AS DATE) AS lifetime
                        FROM events GROUP BY 1),
                 h AS (SELECT lifetime, count(*) AS cnt FROM lt GROUP BY 1),
                 nu AS (SELECT count(*) AS n_users FROM lt),
                 ks AS (SELECT DISTINCT lifetime AS k FROM h)
            SELECT k, CAST(sum(cnt) AS BIGINT) AS n_surviving,
                   floor(CAST(sum(cnt) AS DOUBLE) / n_users * 1e4 + 0.5) / 1e4 AS survival
            FROM ks JOIN h ON h.lifetime >= ks.k CROSS JOIN nu
            GROUP BY k, n_users ORDER BY k"""),

    // One-way ANOVA over per-event value by event_type — the parametric
    // sibling of x_kruskal_wallis: F = (SSB/(k−1)) / (SSW/(n−k)) from
    // per-group exact decimal moments (Σv, Σv² through DECIMAL(18,4)
    // per-row casts — order-independent in both engines); the only
    // cross-group reduction is over the |event_type| grid, each group's
    // Σv²/n term floor-6-rounded before the decimal sum. One corpus
    // pass; everything after is metadata-sized at any scale.
    Query("x_anova_f", (s, dir) => {
      val e = events(s, dir).select(col("event_type"), col("value").cast("decimal(18,4)").as("v"))
      val g = e.groupBy("event_type").agg(
        count(lit(1)).as("n_g"),
        sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"))
      val term = floor(col("sv").cast("double") * col("sv").cast("double")
        / col("n_g").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)
      val ag = g.agg(
        count(lit(1)).cast("int").as("k"),
        sum(col("n_g")).as("n"),
        sum(col("sv")).as("s_all"),
        sum(col("svv")).as("svv_all"),
        sum(term.cast("decimal(28,6)")).as("sb"))
      val corr = col("s_all").cast("double") * col("s_all").cast("double") / col("n").cast("double")
      val ssb = col("sb").cast("double") - corr
      val ssw = col("svv_all").cast("double") - col("sb").cast("double")
      ag.select(col("k"), col("n"),
        f6(ssb).as("ss_between"), f6(ssw).as("ss_within"),
        f6((ssb / (col("k") - lit(1)).cast("double"))
          / (ssw / (col("n") - col("k")).cast("double"))).as("f_stat"))
    },
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v FROM events),
                g AS (SELECT event_type, count(*) AS n_g, sum(v) AS sv, sum(v * v) AS svv
                      FROM e GROUP BY 1),
                ag AS (SELECT CAST(count(*) AS INTEGER) AS k,
                         CAST(sum(n_g) AS BIGINT) AS n,
                         sum(sv) AS s_all, sum(svv) AS svv_all,
                         sum(CAST(floor(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                               / CAST(n_g AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS sb
                       FROM g)
           SELECT k, n,
                  floor((CAST(sb AS DOUBLE) - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ss_between,
                  floor((CAST(svv_all AS DOUBLE) - CAST(sb AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ss_within,
                  floor(((CAST(sb AS DOUBLE) - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                        / ((CAST(svv_all AS DOUBLE) - CAST(sb AS DOUBLE)) / CAST(n - k AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS f_stat
           FROM ag"""),

    // Depth-2 CART decision tree (exact greedy Gini splits) on the
    // per-user (activity, active-days) joint HISTOGRAM for the
    // purchase-share label — the interpretable-model sibling of
    // x_logit_newton/x_naive_bayes. Candidate thresholds are the node's
    // own distinct feature values, evaluated on grid×grid crossJoins
    // (value grids bounded by max activity / the calendar — never
    // corpus rows); splits chosen by floor-9 Gini with (gini, feat,
    // thr) total-order tie-breaks; a gini=2.0 sentinel keeps
    // unsplittable nodes relational (no driver branching). Output: the
    // 3 internal splits + up to 4 leaves with majority votes.
    Query("x_decision_tree", (s, dir) => {
      val per = purchaseLabel(s, dir, "x1", Seq(countDistinct(col("day")).as("x2")), "long")
      val h = per.groupBy("x1", "x2", "y").agg(count(lit(1)).as("f")).localCheckpoint()
      def xf(feat: Int) = if (feat == 1) col("x1") else col("x2")
      def bestSplit(hm: DataFrame): DataFrame = {
        val evals = Seq(1, 2).map { feat =>
          val ts = hm.select(xf(feat).as("thr")).distinct()
          hm.crossJoin(ts)
            .groupBy("thr").agg(
              sum(when(xf(feat) < col("thr"), col("f")).otherwise(lit(0L))).as("nl"),
              sum(when(xf(feat) < col("thr"), col("f") * col("y")).otherwise(lit(0L))).as("pl"),
              sum(when(xf(feat) >= col("thr"), col("f")).otherwise(lit(0L))).as("nr"),
              sum(when(xf(feat) >= col("thr"), col("f") * col("y")).otherwise(lit(0L))).as("pr"))
            .filter(col("nl") > 0 && col("nr") > 0)
            .select(lit(feat).as("feat"), col("thr"), col("nl"), col("pl"), col("nr"), col("pr"))
        }
        def g(nn: Column, p: Column): Column = {
          val nd = nn.cast("double"); val pd = p.cast("double"); val qd = (nn - p).cast("double")
          nd - (pd * pd + qd * qd) / nd
        }
        val scored = evals.reduce(_ unionAll _)
          .select(col("feat"), col("thr"),
            (floor((g(col("nl"), col("pl")) + g(col("nr"), col("pr")))
              / (col("nl") + col("nr")).cast("double") * lit(1e9) + lit(0.5)) / lit(1e9)).as("gini"))
        val sentinel = s.range(1).select(lit(0).as("feat"), lit(0L).as("thr"), lit(2.0).as("gini"))
        scored.unionAll(sentinel).orderBy(col("gini"), col("feat"), col("thr")).limit(1)
      }
      def isLeft(fc: Column, tc: Column): Column =
        when(fc === 1, col("x1") < tc).otherwise(col("x2") < tc)
      val s1 = bestSplit(h).select(col("feat").as("feat0"), col("thr").as("thr0"), col("gini").as("gini0"))
      val hx = h.crossJoin(broadcast(s1))
      val hL = hx.filter(isLeft(col("feat0"), col("thr0"))).select("x1", "x2", "y", "f").localCheckpoint()
      val hR = hx.filter(!isLeft(col("feat0"), col("thr0"))).select("x1", "x2", "y", "f").localCheckpoint()
      val s2 = bestSplit(hL).select(col("feat").as("featl"), col("thr").as("thrl"), col("gini").as("ginil"))
      val s3 = bestSplit(hR).select(col("feat").as("featr"), col("thr").as("thrr"), col("gini").as("ginir"))
      val lv = h.crossJoin(broadcast(s1)).crossJoin(broadcast(s2)).crossJoin(broadcast(s3))
        .withColumn("node",
          when(isLeft(col("feat0"), col("thr0")),
            when(isLeft(col("featl"), col("thrl")), lit("LL")).otherwise(lit("LR")))
            .otherwise(
              when(isLeft(col("featr"), col("thrr")), lit("RL")).otherwise(lit("RR"))))
        .groupBy("node").agg(sum(col("f")).as("n"), sum(col("f") * col("y")).as("pos"))
        .select(col("node"), lit(null).cast("int").as("feat"), lit(null).cast("long").as("thr"),
          lit(null).cast("double").as("gini"), col("n"), col("pos"),
          (col("pos") * 2 >= col("n")).cast("long").as("pred"))
      def nodeStats(hm: DataFrame, name: String, sp: DataFrame, f: String, t: String, gc: String) =
        hm.agg(sum(col("f")).as("n"), sum(col("f") * col("y")).as("pos"))
          .crossJoin(broadcast(sp))
          .select(lit(name).as("node"), col(f).as("feat"), col(t).as("thr"),
            col(gc).as("gini"), col("n"), col("pos"), lit(null).cast("long").as("pred"))
      nodeStats(h, "root", s1, "feat0", "thr0", "gini0")
        .unionAll(nodeStats(hL, "L", s2, "featl", "thrl", "ginil"))
        .unionAll(nodeStats(hR, "R", s3, "featr", "thrr", "ginir"))
        .unionAll(lv)
        .orderBy("node")
    },
      // decision tree: 3 unrolled greedy-split stages, each MATERIALIZED
      // (doubly-referenced CTEs — the Bradley–Terry inlining lesson);
      // the 2.0 sentinel mirrors the Spark no-split guard
      {
        def split(hm: String, out: String) = {
          def sideAgg(feat: Int, xcol: String) =
            s"""SELECT $feat AS feat, t.thr,
                   CAST(sum(CASE WHEN h.$xcol < t.thr THEN f ELSE 0 END) AS BIGINT) AS nl,
                   CAST(sum(CASE WHEN h.$xcol < t.thr THEN f * y ELSE 0 END) AS BIGINT) AS pl,
                   CAST(sum(CASE WHEN h.$xcol >= t.thr THEN f ELSE 0 END) AS BIGINT) AS nr,
                   CAST(sum(CASE WHEN h.$xcol >= t.thr THEN f * y ELSE 0 END) AS BIGINT) AS pr
                 FROM $hm h CROSS JOIN (SELECT DISTINCT $xcol AS thr FROM $hm) t
                 GROUP BY t.thr"""
          s"""$out AS MATERIALIZED (
                SELECT feat, thr, gini FROM (
                  SELECT CAST(feat AS INTEGER) AS feat, thr,
                         floor(((CAST(nl AS DOUBLE) - (CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
                                  + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE)) / CAST(nl AS DOUBLE))
                              + (CAST(nr AS DOUBLE) - (CAST(pr AS DOUBLE) * CAST(pr AS DOUBLE)
                                  + CAST(nr - pr AS DOUBLE) * CAST(nr - pr AS DOUBLE)) / CAST(nr AS DOUBLE)))
                             / CAST(nl + nr AS DOUBLE) * 1e9 + 0.5) / 1e9 AS gini
                  FROM (${sideAgg(1, "x1")} UNION ALL ${sideAgg(2, "x2")})
                  WHERE nl > 0 AND nr > 0
                  UNION ALL SELECT CAST(0 AS INTEGER), CAST(0 AS BIGINT), CAST(2.0 AS DOUBLE))
                ORDER BY gini, feat, thr LIMIT 1)"""
        }
        def left(sp: String) =
          s"CASE WHEN $sp.feat = 1 THEN h.x1 < $sp.thr ELSE h.x2 < $sp.thr END"
        s"""WITH ${purchaseLabelSql("x1", Seq(s"count(DISTINCT $dayE) AS x2"))},
                hist AS MATERIALIZED (SELECT x1, x2, y, count(*) AS f FROM per GROUP BY 1, 2, 3),
                ${split("hist", "s1")},
                hl AS MATERIALIZED (SELECT h.x1, h.x2, h.y, h.f FROM hist h CROSS JOIN s1
                                    WHERE ${left("s1")}),
                hr AS MATERIALIZED (SELECT h.x1, h.x2, h.y, h.f FROM hist h CROSS JOIN s1
                                    WHERE NOT (${left("s1")})),
                ${split("hl", "s2")},
                ${split("hr", "s3")},
                lv AS (SELECT CASE WHEN ${left("s1")}
                                THEN (CASE WHEN ${left("s2")} THEN 'LL' ELSE 'LR' END)
                                ELSE (CASE WHEN ${left("s3")} THEN 'RL' ELSE 'RR' END) END AS node,
                              f, y
                       FROM hist h CROSS JOIN s1 CROSS JOIN s2 CROSS JOIN s3),
                lva AS (SELECT node, CAST(sum(f) AS BIGINT) AS n,
                          CAST(sum(f * y) AS BIGINT) AS pos FROM lv GROUP BY 1)
           SELECT node, feat, thr, gini, n, pos, pred FROM (
             SELECT 'root' AS node, feat, thr, gini,
                    (SELECT CAST(sum(f) AS BIGINT) FROM hist) AS n,
                    (SELECT CAST(sum(f * y) AS BIGINT) FROM hist) AS pos,
                    CAST(NULL AS BIGINT) AS pred FROM s1
             UNION ALL
             SELECT 'L', feat, thr, gini,
                    (SELECT CAST(sum(f) AS BIGINT) FROM hl),
                    (SELECT CAST(sum(f * y) AS BIGINT) FROM hl), NULL FROM s2
             UNION ALL
             SELECT 'R', feat, thr, gini,
                    (SELECT CAST(sum(f) AS BIGINT) FROM hr),
                    (SELECT CAST(sum(f * y) AS BIGINT) FROM hr), NULL FROM s3
             UNION ALL
             SELECT node, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                    n, pos, CAST(CASE WHEN pos * 2 >= n THEN 1 ELSE 0 END AS BIGINT) FROM lva)
           ORDER BY node"""
      }),

    // Yule–Walker AR(2) fit + 7-day recursive forecast on the global
    // daily value series — the autoregressive member of the forecasting
    // family (x_forecast_ses/x_forecast_holt/x_holt_winters smooth;
    // this one models the lag structure x_acf only measures). One corpus
    // pass to the bounded day grid; autocovariances are (d, d+k)
    // equi-joins on that grid with floor-6 decimal-summed products;
    // φ₁, φ₂ from the closed-form 2×2 Yule–Walker solve on a 1-row
    // frame; the 7 forecast steps unroll as scalar expressions. Every
    // post-scan op is calendar-bounded metadata at any corpus scale.
    Query("x_ar_forecast", (s, dir) => {
      val daily = events(s, dir).groupBy(to_date(col("day")).as("d"))
        .agg(sum(col("value").cast("decimal(18,4)")).as("y"))
      val m = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
        .select((col("sy").cast("double") / col("n").cast("double")).as("mu"))
      val x = daily.crossJoin(broadcast(m))
        .select(col("d"), (col("y").cast("double") - col("mu")).as("dev"))
      val c0 = x.agg(sum(f6d(col("dev") * col("dev"))).as("c0"))
      val lagged = x.select(col("d").as("d2"), col("dev").as("dev2"))
      val nums = x.withColumn("lag", explode(array(lit(1), lit(2))))
        .join(lagged, col("d2") === date_add(col("d"), col("lag")))
        .groupBy("lag").agg(sum(f6d(col("dev") * col("dev2"))).as("num"))
      val c1 = nums.filter(col("lag") === 1).select(col("num").as("c1"))
      val c2 = nums.filter(col("lag") === 2).select(col("num").as("c2"))
      val ld = daily.agg(max(col("d")).as("last_d"))
      val yn = daily.crossJoin(broadcast(ld)).filter(col("d") === col("last_d"))
        .select(col("y").cast("double").as("yn"))
      val yn1 = daily.crossJoin(broadcast(ld)).filter(col("d") === date_sub(col("last_d"), 1))
        .select(col("y").cast("double").as("yn1"))
      val r1 = col("c1").cast("double") / col("c0").cast("double")
      val r2 = col("c2").cast("double") / col("c0").cast("double")
      val base = m.crossJoin(broadcast(c0)).crossJoin(broadcast(c1)).crossJoin(broadcast(c2))
        .crossJoin(broadcast(yn)).crossJoin(broadcast(yn1))
        .withColumn("phi1", r1 * (lit(1.0) - r2) / (lit(1.0) - r1 * r1))
        .withColumn("phi2", (r2 - r1 * r1) / (lit(1.0) - r1 * r1))
      val withF = (1 to 7).foldLeft(base) { (df, h) =>
        val p1 = if (h == 1) col("yn") else col(s"f${h - 1}")
        val p2 = if (h == 1) col("yn1") else if (h == 2) col("yn") else col(s"f${h - 2}")
        df.withColumn(s"f$h",
          col("mu") + col("phi1") * (p1 - col("mu")) + col("phi2") * (p2 - col("mu")))
      }
      withF.select(f6(col("phi1")).as("phi1"), f6(col("phi2")).as("phi2"),
          explode(array((1 to 7).map(h =>
            struct(lit(h).as("h"), f4(col(s"f$h")).as("forecast"))): _*)).as("fx"))
        .select(col("fx.h").as("h"), col("phi1"), col("phi2"), col("fx.forecast").as("forecast"))
        .orderBy("h")
    },
      {
        val fcast = (1 to 7).map { h =>
          val p1 = if (h == 1) "yn" else s"f${h - 1}"
          val p2 = if (h == 1) "yn1" else if (h == 2) "yn" else s"f${h - 2}"
          val prev = if (h == 1) "p" else s"s${h - 1}"
          s"s$h AS (SELECT *, mu + phi1 * ($p1 - mu) + phi2 * ($p2 - mu) AS f$h FROM $prev)"
        }.mkString(",\n")
        val rows = (1 to 7).map(h =>
          s"SELECT phi1, phi2, CAST($h AS INTEGER) AS h, f$h AS f FROM s7")
          .mkString(" UNION ALL ")
        s"""WITH daily AS (SELECT CAST($dayE AS DATE) AS d,
                             sum(CAST(value AS DECIMAL(18,4))) AS y FROM events GROUP BY 1),
                m AS (SELECT CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu FROM daily),
                x AS (SELECT d, CAST(y AS DOUBLE) - mu AS dev FROM daily CROSS JOIN m),
                c0 AS (SELECT CAST(sum(CAST(floor(dev * dev * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS c0 FROM x),
                c1 AS (SELECT CAST(sum(CAST(floor(a.dev * b.dev * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS c1
                       FROM x a JOIN x b ON b.d = a.d + 1),
                c2 AS (SELECT CAST(sum(CAST(floor(a.dev * b.dev * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS c2
                       FROM x a JOIN x b ON b.d = a.d + 2),
                ld AS (SELECT max(d) AS last_d FROM daily),
                yn AS (SELECT CAST(y AS DOUBLE) AS yn FROM daily, ld WHERE d = last_d),
                yn1 AS (SELECT CAST(y AS DOUBLE) AS yn1 FROM daily, ld WHERE d = last_d - 1),
                p AS (SELECT mu,
                        c1 / c0 * (1.0 - c2 / c0) / (1.0 - (c1 / c0) * (c1 / c0)) AS phi1,
                        (c2 / c0 - (c1 / c0) * (c1 / c0)) / (1.0 - (c1 / c0) * (c1 / c0)) AS phi2,
                        yn, yn1
                      FROM m CROSS JOIN c0 CROSS JOIN c1 CROSS JOIN c2 CROSS JOIN yn CROSS JOIN yn1),
                $fcast,
                r AS ($rows)
           SELECT h, floor(phi1 * 1e6 + 0.5) / 1e6 AS phi1, floor(phi2 * 1e6 + 0.5) / 1e6 AS phi2,
                  floor(f * 1e4 + 0.5) / 1e4 AS forecast
           FROM r ORDER BY h"""
      }),

    // G-test of independence over the event_type × weekend grid — the
    // likelihood-ratio companion of x_chi2_independence (G = 2·Σ O·ln(O/E)
    // is additive across disjoint slices of the table, which χ² is not —
    // corpus audits prefer it for exactly that drill-down). groupBy emits
    // only observed cells; absent cells contribute 0 by the 0·ln 0
    // convention. One corpus pass to the bounded |types|×2 grid; per-cell
    // ln terms floor-9 before the order-independent decimal sum.
    Query("x_gtest", (s, dir) => {
      val cell = events(s, dir)
        .groupBy(col("event_type"), dayofweek(to_date(col("day"))).isin(1, 7).as("weekend"))
        .agg(count(lit(1)).as("o"))
      val rt = cell.groupBy("event_type").agg(sum(col("o")).as("rt"))
      val ct = cell.groupBy("weekend").agg(sum(col("o")).as("ct"))
      val n = cell.agg(sum(col("o")).as("n"),
        count_distinct(col("event_type")).as("r"), count_distinct(col("weekend")).as("c"))
      val od = col("o").cast("double")
      val ex = col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double")
      cell.join(broadcast(rt), "event_type").join(broadcast(ct), "weekend").crossJoin(broadcast(n))
        .withColumn("term",
          (floor(od * log(od / ex) * lit(1e9) + lit(0.5)) / lit(1e9)).cast("decimal(28,9)"))
        .groupBy(col("r"), col("c"))
        .agg(count(lit(1)).as("n_cells"), sum(col("term")).as("t"))
        .select(col("n_cells"),
          f6(lit(2.0) * col("t").cast("double")).as("g_stat"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"))
    },
      s"""WITH e AS (SELECT event_type,
                         dayofweek(CAST($dayE AS DATE)) IN (0, 6) AS weekend FROM events),
                cell AS (SELECT event_type, weekend, count(*) AS o FROM e GROUP BY 1, 2),
                rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cell GROUP BY 1),
                ct AS (SELECT weekend, CAST(sum(o) AS BIGINT) AS ct FROM cell GROUP BY 1),
                n AS (SELECT CAST(sum(o) AS BIGINT) AS n, count(DISTINCT event_type) AS r,
                             count(DISTINCT weekend) AS c FROM cell),
                t AS (SELECT r, c,
                        CAST(floor(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE)
                            / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS term
                      FROM cell JOIN rt USING (event_type) JOIN ct USING (weekend) CROSS JOIN n)
           SELECT count(*) AS n_cells,
                  floor(2.0 * CAST(sum(term) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS g_stat,
                  (r - 1) * (c - 1) AS dof
           FROM t GROUP BY r, c"""),

    // Two-sample log-rank test (Mantel–Cox) on time-to-first-purchase,
    // even- vs odd-user_id arms — the inferential sibling of
    // x_survival_curve (which only draws the curve): is the purchase-
    // hazard the same in both arms? Non-purchasers are right-censored at
    // the global last observed day. Per-user lifetimes reduce to a
    // (t, arm) HISTOGRAM (t is calendar-bounded); at-risk counts come
    // from suffix sums over that grid via the x_survival_curve
    // bounded-theta-join pattern — never a per-user sort. O/E/V terms
    // are floor-9 per event time, decimal-summed; one corpus pass.
    Query("x_logrank", (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(
        to_date(min(col("day"))).as("d0"),
        to_date(min(when(col("event_type") === "purchase", col("day")))).as("dp"))
      val end = events(s, dir).agg(to_date(max(col("day"))).as("dend"))
      val lt = per.crossJoin(broadcast(end)).select(
        when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
          .otherwise(datediff(col("dend"), col("d0"))).cast("long").as("t"),
        col("dp").isNotNull.cast("long").as("e"),
        pmod(col("user_id"), lit(2)).as("g"))
      val h = lt.groupBy("t", "g")
        .agg(count(lit(1)).as("c"), sum(col("e")).as("d")).localCheckpoint()
      val grid = h.groupBy("t").agg(sum(col("d")).as("dt"))
        .filter(col("dt") > 0).select(col("t").as("tt"))
      val byArm = grid.join(h, col("t") >= col("tt"))
        .groupBy("tt", "g").agg(
          sum(col("c")).as("n_g"),
          sum(when(col("t") === col("tt"), col("d")).otherwise(lit(0L))).as("d_g"))
      val byT = byArm.groupBy("tt").agg(
        sum(col("n_g")).as("n"),
        sum(when(col("g") === 1, col("n_g")).otherwise(lit(0L))).as("n1"),
        sum(col("d_g")).as("d"),
        sum(when(col("g") === 1, col("d_g")).otherwise(lit(0L))).as("d1"))
      val nD = col("n").cast("double"); val n1D = col("n1").cast("double")
      val dD = col("d").cast("double")
      val e1 = dD * n1D / nD
      val v = when(col("n") > 1,
        dD * n1D * (nD - n1D) * (nD - dD) / (nD * nD * (nD - lit(1.0))))
        .otherwise(lit(0.0))
      val ag = byT.agg(
        count(lit(1)).as("n_times"),
        sum(col("d")).as("n_events"),
        sum(col("d1")).as("o1"),
        sum(f9d(e1)).as("e1"),
        sum(f9d(v)).as("v"))
      // v = 0 is possible on a degenerate corpus (every event time has
      // n <= 1): Spark non-ANSI-div would NULL while DuckDB returns Inf —
      // both sides guard explicitly so the engines agree on the edge
      ag.select(col("n_times"), col("n_events"), col("o1"),
        f6(col("e1").cast("double")).as("e1"),
        f6(col("v").cast("double")).as("v"),
        when(col("v").cast("double") > 0,
          f6((col("o1").cast("double") - col("e1").cast("double"))
            * (col("o1").cast("double") - col("e1").cast("double"))
            / col("v").cast("double")))
          .otherwise(lit(null).cast("double")).as("chi2"))
    },
      s"""WITH per AS (SELECT user_id,
                           min(CAST($dayE AS DATE)) AS d0,
                           min(CASE WHEN event_type = 'purchase' THEN CAST($dayE AS DATE) END) AS dp
                         FROM events GROUP BY 1),
                eend AS (SELECT max(CAST($dayE AS DATE)) AS dend FROM events),
                lt AS (SELECT CAST(CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE dend - d0 END AS BIGINT) AS t,
                         CAST(CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS e,
                         user_id % 2 AS g
                       FROM per CROSS JOIN eend),
                h AS MATERIALIZED (
                  SELECT t, g, count(*) AS c, CAST(sum(e) AS BIGINT) AS d FROM lt GROUP BY 1, 2),
                grid AS (SELECT t AS tt FROM h GROUP BY t HAVING sum(d) > 0),
                byarm AS (SELECT tt, g, CAST(sum(c) AS BIGINT) AS n_g,
                            CAST(sum(CASE WHEN t = tt THEN d ELSE 0 END) AS BIGINT) AS d_g
                          FROM grid JOIN h ON h.t >= grid.tt GROUP BY 1, 2),
                byt AS (SELECT tt,
                          CAST(sum(n_g) AS BIGINT) AS n,
                          CAST(sum(CASE WHEN g = 1 THEN n_g ELSE 0 END) AS BIGINT) AS n1,
                          CAST(sum(d_g) AS BIGINT) AS d,
                          CAST(sum(CASE WHEN g = 1 THEN d_g ELSE 0 END) AS BIGINT) AS d1
                        FROM byarm GROUP BY 1),
                ag AS (SELECT count(*) AS n_times,
                         CAST(sum(d) AS BIGINT) AS n_events,
                         CAST(sum(d1) AS BIGINT) AS o1,
                         sum(CAST(floor(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS e1,
                         sum(CAST(floor(CASE WHEN n > 1
                               THEN CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) * CAST(n - d AS DOUBLE)
                                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                               ELSE 0.0 END * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS v
                       FROM byt)
           SELECT n_times, n_events, o1,
                  floor(CAST(e1 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS e1,
                  floor(CAST(v AS DOUBLE) * 1e6 + 0.5) / 1e6 AS v,
                  CASE WHEN CAST(v AS DOUBLE) > 0 THEN
                  floor((CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE)) * (CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE))
                        / CAST(v AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS chi2
           FROM ag"""),

    // Depth-2 binary-segmentation changepoint detection on the daily
    // global event-count series — the multi-changepoint sibling of
    // x_changepoint's single CUSUM shift: greedily split where
    // SSE(left)+SSE(right) is minimal, then recurse once per side.
    // Segment costs come in O(1) from inclusive prefix sums over the
    // CALENDAR day grid (the x_sprt bounded-window pattern), so every
    // pick is an argmin over ≤|days| candidate rows — metadata at any
    // corpus scale. Costs are doubles of exact longs (identical IEEE
    // ops both engines), floor-6 only at output; (cost, index) ties
    // break on the earlier index.
    Query("x_binseg", (s, dir) => {
      val d = events(s, dir).groupBy("day").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(constKey(col("day"))).orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val p = d.select(col("day"),
          row_number().over(Window.partitionBy(constKey(col("day"))).orderBy("day")).as("i"),
          sum(col("c")).over(wc).as("s1"),
          sum(col("c") * col("c")).over(wc).as("s2")).localCheckpoint()
      val tot = p.orderBy(col("i").desc).limit(1)
        .select(col("i").as("n"), col("s1").as("t1"), col("s2").as("t2"))
      def sse(s2b: Column, s2a: Column, s1b: Column, s1a: Column, len: Column): Column =
        (s2b - s2a).cast("double") -
          (s1b - s1a).cast("double") * (s1b - s1a).cast("double") / len.cast("double")
      val z = lit(0L)
      val cand1 = p.crossJoin(broadcast(tot)).filter(col("i") < col("n"))
        .select(col("day"), col("i"), col("n"), col("t1"), col("t2"),
          (sse(col("s2"), z, col("s1"), z, col("i"))
            + sse(col("t2"), col("s2"), col("t1"), col("s1"), col("n") - col("i"))).as("cost"))
      val pick1 = cand1.orderBy(col("cost"), col("i")).limit(1).localCheckpoint()
      val at1 = p.select(col("i").as("i1"), col("s1").as("b1"), col("s2").as("b2"))
        .crossJoin(broadcast(pick1.select(col("i").as("pi"))))
        .filter(col("i1") === col("pi")).drop("pi")
      val left = p.crossJoin(broadcast(at1)).filter(col("i") < col("i1"))
        .select(lit("left").as("seg"), col("day"), col("i"),
          (sse(col("s2"), z, col("s1"), z, col("i"))
            + sse(col("b2"), col("s2"), col("b1"), col("s1"), col("i1") - col("i"))).as("cost"))
        .orderBy(col("cost"), col("i")).limit(1)
      val right = p.crossJoin(broadcast(at1)).crossJoin(broadcast(tot))
        .filter(col("i") > col("i1") && col("i") < col("n"))
        .select(lit("right").as("seg"), col("day"), col("i"),
          (sse(col("s2"), col("b2"), col("s1"), col("b1"), col("i") - col("i1"))
            + sse(col("t2"), col("s2"), col("t1"), col("s1"), col("n") - col("i"))).as("cost"))
        .orderBy(col("cost"), col("i")).limit(1)
      pick1.select(lit("root").as("seg"), col("day"), col("i"), col("cost"))
        .unionAll(left).unionAll(right)
        .select(col("seg"), col("day").as("split_day"),
          col("i").cast("long").as("split_idx"),
          f6(col("cost")).as("sse_after"))
        .orderBy("seg")
    },
      // binseg: picks are doubly-referenced → MATERIALIZED (the
      // Bradley–Terry inlining lesson); costs are doubles of exact
      // BIGINT prefix sums, identical IEEE ops to the Spark side
      s"""WITH d AS (SELECT $dayE AS day, count(*) AS c FROM events GROUP BY 1),
                p AS MATERIALIZED (
                  SELECT day,
                    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
                    CAST(sum(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
                    CAST(sum(c * c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s2
                  FROM d),
                tot AS MATERIALIZED (SELECT i AS n, s1 AS t1, s2 AS t2 FROM p ORDER BY i DESC LIMIT 1),
                cand1 AS (SELECT day, i,
                    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(i AS DOUBLE))
                    + (CAST(t2 - s2 AS DOUBLE) - CAST(t1 - s1 AS DOUBLE) * CAST(t1 - s1 AS DOUBLE) / CAST(n - i AS DOUBLE)) AS cost
                  FROM p CROSS JOIN tot WHERE i < n),
                pick1 AS MATERIALIZED (SELECT day, i, cost FROM cand1 ORDER BY cost, i LIMIT 1),
                at1 AS MATERIALIZED (
                  SELECT p.i AS i1, p.s1 AS b1, p.s2 AS b2 FROM p JOIN pick1 ON p.i = pick1.i),
                lpick AS (SELECT 'left' AS seg, day, i, cost FROM (
                    SELECT day, i,
                      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(i AS DOUBLE))
                      + (CAST(b2 - s2 AS DOUBLE) - CAST(b1 - s1 AS DOUBLE) * CAST(b1 - s1 AS DOUBLE) / CAST(i1 - i AS DOUBLE)) AS cost
                    FROM p CROSS JOIN at1 WHERE i < i1)
                  ORDER BY cost, i LIMIT 1),
                rpick AS (SELECT 'right' AS seg, day, i, cost FROM (
                    SELECT day, i,
                      (CAST(s2 - b2 AS DOUBLE) - CAST(s1 - b1 AS DOUBLE) * CAST(s1 - b1 AS DOUBLE) / CAST(i - i1 AS DOUBLE))
                      + (CAST(t2 - s2 AS DOUBLE) - CAST(t1 - s1 AS DOUBLE) * CAST(t1 - s1 AS DOUBLE) / CAST(n - i AS DOUBLE)) AS cost
                    FROM p CROSS JOIN at1 CROSS JOIN tot WHERE i > i1 AND i < n)
                  ORDER BY cost, i LIMIT 1),
                allp AS (SELECT 'root' AS seg, day, i, cost FROM pick1
                  UNION ALL SELECT * FROM lpick UNION ALL SELECT * FROM rpick)
           SELECT seg, day AS split_day, CAST(i AS BIGINT) AS split_idx,
                  floor(cost * 1e6 + 0.5) / 1e6 AS sse_after
           FROM allp ORDER BY seg"""),

    // Baron–Kenny mediation decomposition via exact two-regressor OLS
    // normal equations: does raw activity (X = total events) drive
    // purchasing (Y = purchase count) directly, or through engagement
    // breadth (M = distinct active days)? a = slope of M~X; (b, c')
    // are the partial slopes of Y~M+X from the 2×2 Cramer solve;
    // indirect = a·b, and c_total = c' + a·b holds algebraically —
    // the multi-regressor extension of x_linreg_inference. All
    // centered moments are exact decimal(38,0) integers (the d38
    // discipline) cast to double only for the final ratios; one
    // user-keyed corpus pass, 1-row output.
    Query("x_mediation", (s, dir) => {
      val per = events(s, dir).groupBy("user_id").agg(
        count(lit(1)).as("x"),
        countDistinct(col("day")).as("m"),
        sum((col("event_type") === "purchase").cast("long")).as("y"))
      val mo = per.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("m")).as("sm"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("m") * col("m")).as("smm"),
        sum(col("x") * col("m")).as("sxm"), sum(col("x") * col("y")).as("sxy"),
        sum(col("m") * col("y")).as("smy"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      def cen(spq: Column, sp: Column, sq: Column) =
        (d38(col("n")) * d38(spq) - d38(sp) * d38(sq)).cast("double")
      val cXX = cen(col("sxx"), col("sx"), col("sx"))
      val cMM = cen(col("smm"), col("sm"), col("sm"))
      val cXM = cen(col("sxm"), col("sx"), col("sm"))
      val cXY = cen(col("sxy"), col("sx"), col("sy"))
      val cMY = cen(col("smy"), col("sm"), col("sy"))
      val a = cXM / cXX
      val cTot = cXY / cXX
      val det = cXX * cMM - cXM * cXM
      // det = 0 iff X and M are perfectly collinear — the engines disagree
      // on 0-division (NULL vs Inf), so both sides guard to NULL explicitly
      def safeDet(c: Column) = when(det =!= lit(0.0), c).otherwise(lit(null).cast("double"))
      val b = safeDet((cXX * cMY - cXM * cXY) / det)
      val cPrime = safeDet((cMM * cXY - cXM * cMY) / det)
      mo.select(col("n"), f6(a).as("a"), f6(b).as("b"),
        f6(cTot).as("c_total"), f6(cPrime).as("c_prime"),
        f6(a * b).as("indirect"),
        when(cTot =!= lit(0.0), f6(a * b / cTot))
          .otherwise(lit(null).cast("double")).as("prop_mediated"))
    },
      s"""WITH per AS (SELECT user_id, count(*) AS x,
                           count(DISTINCT $dayE) AS m,
                           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
                         FROM events GROUP BY 1),
                mo AS (SELECT count(*) AS n,
                         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm, CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(m * m) AS BIGINT) AS smm,
                         CAST(sum(x * m) AS BIGINT) AS sxm, CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(m * y) AS BIGINT) AS smy
                       FROM per),
                c AS (SELECT n,
                        CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS cxx,
                        CAST(CAST(n AS HUGEINT) * smm - CAST(sm AS HUGEINT) * sm AS DOUBLE) AS cmm,
                        CAST(CAST(n AS HUGEINT) * sxm - CAST(sx AS HUGEINT) * sm AS DOUBLE) AS cxm,
                        CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS cxy,
                        CAST(CAST(n AS HUGEINT) * smy - CAST(sm AS HUGEINT) * sy AS DOUBLE) AS cmy
                      FROM mo),
                f AS (SELECT n, cxm / cxx AS a, cxy / cxx AS ctot,
                        CASE WHEN cxx * cmm - cxm * cxm <> 0
                          THEN (cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm) END AS b,
                        CASE WHEN cxx * cmm - cxm * cxm <> 0
                          THEN (cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm) END AS cprime
                      FROM c)
           SELECT n, floor(a * 1e6 + 0.5) / 1e6 AS a, floor(b * 1e6 + 0.5) / 1e6 AS b,
                  floor(ctot * 1e6 + 0.5) / 1e6 AS c_total,
                  floor(cprime * 1e6 + 0.5) / 1e6 AS c_prime,
                  floor(a * b * 1e6 + 0.5) / 1e6 AS indirect,
                  CASE WHEN ctot <> 0 THEN floor(a * b / ctot * 1e6 + 0.5) / 1e6 END AS prop_mediated
           FROM f"""),

    // 2-state HMM Viterbi decode of each type's daily-volume regime
    // (low/high vs the type's own mean, an integer-exact c·n > Σc
    // gate). The trick that keeps Viterbi EXACT in both engines: with
    // transitions (stay ¾, switch ¼) and emissions (match ¾, miss ¼),
    // every path probability is (¼)^(2T−1)·3^k — so argmax path ≡
    // argmax of the INTEGER count k of "good" factors, and the whole
    // DP runs in int arithmetic (ties: prefer previous state 0). Path
    // statistics (high-days, switches) ride the DP state, so no
    // backtrace pass is needed. ONE linear fold per type over the
    // collected day array (the x_holt_winters discipline) — the only
    // corpus-scale work is the daily-count shuffle.
    Query("x_hmm_decode", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val tt = dc.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum(col("c")).as("tot"))
      val obs = dc.join(broadcast(tt), "event_type")
        .withColumn("idx", row_number().over(
          Window.partitionBy("event_type").orderBy("day")) - 1)
        .select(col("event_type"), col("idx"),
          when(col("c") * col("nd") > col("tot"), 1).otherwise(0).as("o"))
      val arr = obs.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("idx"), col("o")))).as("a"))
      val folded = arr.withColumn("st", expr(
        """aggregate(
             slice(a, 2, size(a) - 1),
             named_struct(
               'v0', CASE WHEN a[0].o = 0 THEN 1 ELSE 0 END,
               'v1', CASE WHEN a[0].o = 1 THEN 1 ELSE 0 END,
               'h0', 0, 'h1', 1, 'sw0', 0, 'sw1', 0),
             (st, e) -> named_struct(
               'v0', greatest(st.v0 + 1, st.v1) + (CASE WHEN e.o = 0 THEN 1 ELSE 0 END),
               'v1', greatest(st.v0, st.v1 + 1) + (CASE WHEN e.o = 1 THEN 1 ELSE 0 END),
               'h0', CASE WHEN st.v1 > st.v0 + 1 THEN st.h1 ELSE st.h0 END,
               'h1', 1 + CASE WHEN st.v1 + 1 > st.v0 THEN st.h1 ELSE st.h0 END,
               'sw0', CASE WHEN st.v1 > st.v0 + 1 THEN st.sw1 + 1 ELSE st.sw0 END,
               'sw1', CASE WHEN st.v1 + 1 > st.v0 THEN st.sw1 ELSE st.sw0 + 1 END))"""))
      folded.select(col("event_type"),
          size(col("a")).cast("long").as("n_days"),
          when(col("st.v1") > col("st.v0"), col("st.v1")).otherwise(col("st.v0"))
            .cast("long").as("score"),
          when(col("st.v1") > col("st.v0"), col("st.h1")).otherwise(col("st.h0"))
            .cast("long").as("n_high"),
          when(col("st.v1") > col("st.v0"), col("st.sw1")).otherwise(col("st.sw0"))
            .cast("long").as("n_switches"))
        .orderBy("event_type")
    },
      // hmm decode: the integer-Viterbi recursion, one recursive-CTE
      // step per day per type (the x_holt_winters fold twin)
      s"""WITH RECURSIVE dc AS (SELECT event_type, $dayE AS day, count(*) AS c
                       FROM events GROUP BY 1, 2),
                tt AS (SELECT event_type, count(*) AS nd, CAST(sum(c) AS BIGINT) AS tot
                       FROM dc GROUP BY 1),
                obs AS MATERIALIZED (
                  SELECT dc.event_type,
                    row_number() OVER (PARTITION BY dc.event_type ORDER BY day) - 1 AS idx,
                    CASE WHEN c * nd > tot THEN 1 ELSE 0 END AS o
                  FROM dc JOIN tt USING (event_type)),
                nn AS (SELECT event_type, count(*) AS n_days FROM obs GROUP BY 1),
                r AS (SELECT event_type, 0 AS t,
                        CASE WHEN o = 0 THEN 1 ELSE 0 END AS v0,
                        CASE WHEN o = 1 THEN 1 ELSE 0 END AS v1,
                        0 AS h0, 1 AS h1, 0 AS sw0, 0 AS sw1
                      FROM obs WHERE idx = 0
                      UNION ALL
                      SELECT r.event_type, r.t + 1,
                        greatest(r.v0 + 1, r.v1) + (CASE WHEN o.o = 0 THEN 1 ELSE 0 END),
                        greatest(r.v0, r.v1 + 1) + (CASE WHEN o.o = 1 THEN 1 ELSE 0 END),
                        CASE WHEN r.v1 > r.v0 + 1 THEN r.h1 ELSE r.h0 END,
                        1 + CASE WHEN r.v1 + 1 > r.v0 THEN r.h1 ELSE r.h0 END,
                        CASE WHEN r.v1 > r.v0 + 1 THEN r.sw1 + 1 ELSE r.sw0 END,
                        CASE WHEN r.v1 + 1 > r.v0 THEN r.sw1 ELSE r.sw0 + 1 END
                      FROM r JOIN obs o ON o.event_type = r.event_type AND o.idx = r.t + 1)
           SELECT r.event_type, CAST(nn.n_days AS BIGINT) AS n_days,
                  CAST(CASE WHEN v1 > v0 THEN v1 ELSE v0 END AS BIGINT) AS score,
                  CAST(CASE WHEN v1 > v0 THEN h1 ELSE h0 END AS BIGINT) AS n_high,
                  CAST(CASE WHEN v1 > v0 THEN sw1 ELSE sw0 END AS BIGINT) AS n_switches
           FROM r JOIN nn USING (event_type) WHERE r.t = nn.n_days - 1
           ORDER BY event_type"""),

    // ε-greedy bandit OFFLINE REPLAY over the day sequence — arms are
    // event types, the day-t reward of an arm is the integer-exact
    // "above its own mean volume" gate (the x_hmm_decode observation).
    // Policy: pull each unpulled arm first; then with ε=¼ (an md5-
    // seeded day hash — deterministic and engine-portable, the
    // x_dp_counts technique) explore a hash-chosen arm, else exploit
    // the best empirical mean (double-precision compare, first-index
    // ties — IEEE-identical in both engines). The replay itself is ONE
    // linear fold over the |days|×|arms| METADATA grid (the
    // x_holt_winters discipline); the only corpus-scale work is the
    // daily-count shuffle. Output: per-arm pulls/wins/win-rate.
    Query("x_bandit_replay", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val tt = dc.groupBy("event_type").agg(sum(col("c")).as("tot"))
      val days = events(s, dir).select("day").distinct()
      val dcnt = days.agg(count(lit(1)).as("dd"))
      val types = tt.select("event_type")
      // lexicographic arm index without a global window: rank = number of
      // types strictly below, over the bounded |types|² grid
      val aidx = types.join(types.select(col("event_type").as("tb")),
          col("tb") < col("event_type"), "left")
        .groupBy("event_type").agg(count(col("tb")).cast("int").as("ai"))
      val grid = days.crossJoin(tt)
        .join(dc, Seq("event_type", "day"), "left")
        .select(col("day"), col("event_type"), coalesce(col("c"), lit(0L)).as("c"), col("tot"))
        .crossJoin(broadcast(dcnt))
        .join(broadcast(aidx), "event_type")
        .select(col("day"), col("ai"),
          when(col("c") * col("dd") > col("tot"), 1).otherwise(0).as("o"))
      val perDay = grid.groupBy("day")
        .agg(sort_array(collect_list(struct(col("ai"), col("o")))).as("oa"))
        .select(col("day"), expr("transform(oa, e -> e.o)").as("obs"),
          when(graft.ext.Mixture.hash24(concat(lit("bx|"), col("day"))) % 4 === 0, 1)
            .otherwise(0).as("ex"),
          graft.ext.Mixture.hash24(concat(lit("ba|"), col("day"))).as("eh"))
      // the pick index, 0-based; bound vars renamed j/b so the inlined
      // copies never shadow the surrounding transform's i
      val pick =
        """CASE WHEN size(filter(sequence(0, size(st.n) - 1), j -> st.n[j] = 0)) > 0
                THEN filter(sequence(0, size(st.n) - 1), j -> st.n[j] = 0)[0]
                WHEN e.ex = 1 THEN e.eh % size(st.n)
                ELSE aggregate(sequence(1, size(st.n) - 1), 0,
                  (b, j) -> IF(CAST(st.w[j] AS DOUBLE) / st.n[j] > CAST(st.w[b] AS DOUBLE) / st.n[b], j, b))
           END"""
      val folded = perDay.groupBy()
        .agg(sort_array(collect_list(struct(col("day"), col("obs"), col("ex"), col("eh")))).as("a"))
        .withColumn("st", expr(
          s"""aggregate(
                slice(a, 2, size(a) - 1),
                named_struct(
                  'n', transform(a[0].obs, (x, i) -> IF(i = 0, 1, 0)),
                  'w', transform(a[0].obs, (x, i) -> IF(i = 0, a[0].obs[0], 0))),
                (st, e) -> named_struct(
                  'n', transform(sequence(0, size(st.n) - 1), i -> st.n[i] + IF(i = ($pick), 1, 0)),
                  'w', transform(sequence(0, size(st.n) - 1), i -> st.w[i] + IF(i = ($pick), e.obs[i], 0))))"""))
      folded.select(col("st.w").as("w"), posexplode(col("st.n")).as(Seq("ai", "n_pulls")))
        .select(col("ai").cast("int").as("ai"), col("n_pulls").cast("long").as("n_pulls"),
          element_at(col("w"), col("ai") + 1).cast("long").as("wins"))
        .join(broadcast(aidx), "ai")
        .select(col("event_type").as("arm"), col("n_pulls"), col("wins"),
          (floor(col("wins").cast("double") / col("n_pulls").cast("double") * lit(1e4)
            + lit(0.5)) / lit(1e4)).as("win_rate"))
        .orderBy("arm")
    },
      // bandit replay: the ε-greedy recursion, one recursive-CTE step
      // per day; the pick expression is inlined at each use (1-based
      // list indices — the Spark side is 0-based over the same arm
      // order, so arm k there is list slot k+1 here)
      {
        val means = "list_transform(range(1, len(r.n) + 1), j -> CAST(r.w[j] AS DOUBLE) / r.n[j])"
        val pick =
          s"""CASE WHEN len(list_filter(range(1, len(r.n) + 1), j -> r.n[j] = 0)) > 0
                  THEN list_filter(range(1, len(r.n) + 1), j -> r.n[j] = 0)[1]
                  WHEN pd.ex = 1 THEN (pd.eh % len(r.n)) + 1
                  ELSE list_position($means, list_aggregate($means, 'max'))
             END"""
        s"""WITH RECURSIVE dc AS (SELECT event_type, $dayE AS day, count(*) AS c
                       FROM events GROUP BY 1, 2),
                tt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS tot FROM dc GROUP BY 1),
                days AS (SELECT DISTINCT $dayE AS day FROM events),
                dd AS (SELECT count(*) AS dd FROM days),
                arms AS MATERIALIZED (
                  SELECT event_type, CAST(row_number() OVER (ORDER BY event_type) AS INTEGER) AS ai, tot
                  FROM tt),
                g AS (SELECT d.day, a.ai,
                        CASE WHEN COALESCE(dc.c, 0) * dd.dd > a.tot THEN 1 ELSE 0 END AS o
                      FROM days d CROSS JOIN arms a CROSS JOIN dd
                      LEFT JOIN dc ON dc.event_type = a.event_type AND dc.day = d.day),
                pd AS MATERIALIZED (
                  SELECT day, list(o ORDER BY ai) AS obs,
                    CASE WHEN CAST(('0x' || substring(md5('bx|' || day), 1, 6)) AS INTEGER) % 4 = 0
                         THEN 1 ELSE 0 END AS ex,
                    CAST(('0x' || substring(md5('ba|' || day), 1, 6)) AS INTEGER) AS eh,
                    row_number() OVER (ORDER BY day) AS t
                  FROM g GROUP BY day),
                r AS (SELECT t,
                        list_transform(range(1, len(obs) + 1), i -> CASE WHEN i = 1 THEN 1 ELSE 0 END) AS n,
                        list_transform(range(1, len(obs) + 1), i -> CASE WHEN i = 1 THEN obs[1] ELSE 0 END) AS w
                      FROM pd WHERE t = 1
                      UNION ALL
                      SELECT pd.t,
                        list_transform(range(1, len(r.n) + 1), i -> r.n[i] + CASE WHEN i = ($pick) THEN 1 ELSE 0 END),
                        list_transform(range(1, len(r.n) + 1), i -> r.w[i] + CASE WHEN i = ($pick) THEN pd.obs[i] ELSE 0 END)
                      FROM r JOIN pd ON pd.t = r.t + 1),
                fin AS (SELECT n, w FROM r, (SELECT max(t) AS mt FROM pd) m WHERE r.t = m.mt)
           SELECT a.event_type AS arm,
                  CAST(f.n[a.ai] AS BIGINT) AS n_pulls,
                  CAST(f.w[a.ai] AS BIGINT) AS wins,
                  floor(CAST(f.w[a.ai] AS DOUBLE) / f.n[a.ai] * 1e4 + 0.5) / 1e4 AS win_rate
           FROM fin f CROSS JOIN arms a ORDER BY arm"""
      }),

    // Page–Hinkley drift detector over each type's daily-volume series:
    // volumes normalized by the type mean (scale-free), then the classic
    // PH recursion — cumulative deviation from the RUNNING mean, its
    // running min, alert when the gap exceeds λ=0.5 (δ=0.01). ONE linear
    // fold per type over the bounded day grid (the x_holt_winters
    // discipline: per-step floor-9 quantization keeps both engines'
    // doubles in lockstep); corpus-scale work is only the daily-count
    // shuffle.
    Query("x_page_hinkley", (s, dir) => {
      val dc = indexedDaily(s, dir)
      val st = dc.groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("c")).as("sx"))
      val arr = dc.join(broadcast(st), "event_type")
        .withColumn("xn", floor(col("c").cast("double") * col("n") / col("sx") * lit(1e9)
          + lit(0.5)) / lit(1e9))
        .groupBy("event_type")
        .agg(max(col("n")).as("n_days"),
          sort_array(collect_list(struct(col("idx"), col("day"), col("xn")))).as("a"))
      val folded = arr.withColumn("st", expr(
        """aggregate(a,
             named_struct('t', 0L, 'ssum', CAST(0.0 AS DOUBLE), 'ph', CAST(0.0 AS DOUBLE),
               'mn', CAST(1e18 AS DOUBLE), 'gap', CAST(0.0 AS DOUBLE), 'alerts', 0L,
               'first', CAST(NULL AS STRING)),
             (st, e) -> named_struct(
               't', st.t + 1L,
               'ssum', st.ssum + e.xn,
               'ph', floor((st.ph + e.xn - (st.ssum + e.xn) / (st.t + 1L) - 0.01D) * 1e9 + 0.5D) / 1e9,
               'mn', least(st.mn, floor((st.ph + e.xn - (st.ssum + e.xn) / (st.t + 1L) - 0.01D) * 1e9 + 0.5D) / 1e9),
               'gap', greatest(st.gap, greatest(floor((st.ph + e.xn - (st.ssum + e.xn) / (st.t + 1L) - 0.01D) * 1e9 + 0.5D) / 1e9 - st.mn, CAST(0.0 AS DOUBLE))),
               'alerts', st.alerts + IF(floor((st.ph + e.xn - (st.ssum + e.xn) / (st.t + 1L) - 0.01D) * 1e9 + 0.5D) / 1e9 - st.mn > 0.5D, 1L, 0L),
               'first', coalesce(st.first, IF(floor((st.ph + e.xn - (st.ssum + e.xn) / (st.t + 1L) - 0.01D) * 1e9 + 0.5D) / 1e9 - st.mn > 0.5D, e.day, CAST(NULL AS STRING)))))"""))
      folded.select(col("event_type"), col("n_days"),
          (floor(col("st.gap") * lit(1e6) + lit(0.5)) / lit(1e6)).as("max_gap"),
          col("st.alerts").as("n_alerts"), col("st.first").as("first_alert_day"))
        .orderBy("event_type")
    },
      // Page–Hinkley: the same per-step floor-9-quantized recursion, one
      // recursive-CTE row per (type, day)
      s"""WITH RECURSIVE dc AS (SELECT event_type, $dayE AS day, count(*) AS c
                       FROM events GROUP BY 1, 2),
                st AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sx
                       FROM dc GROUP BY 1),
                ix AS (SELECT dc.event_type, dc.day,
                         floor(CAST(dc.c AS DOUBLE) * st.n / st.sx * 1e9 + 0.5) / 1e9 AS xn,
                         row_number() OVER (PARTITION BY dc.event_type ORDER BY dc.day) - 1 AS idx
                       FROM dc JOIN st USING (event_type)),
                r AS (SELECT event_type, 0 AS t, CAST(0.0 AS DOUBLE) AS ssum,
                        CAST(0.0 AS DOUBLE) AS ph, CAST(1e18 AS DOUBLE) AS mn,
                        CAST(0.0 AS DOUBLE) AS gap, CAST(0 AS BIGINT) AS alerts,
                        CAST(NULL AS VARCHAR) AS first_day
                      FROM st
                      UNION ALL
                      SELECT r.event_type, r.t + 1,
                        r.ssum + ix.xn,
                        floor((r.ph + ix.xn - (r.ssum + ix.xn) / (r.t + 1) - 0.01) * 1e9 + 0.5) / 1e9,
                        least(r.mn, floor((r.ph + ix.xn - (r.ssum + ix.xn) / (r.t + 1) - 0.01) * 1e9 + 0.5) / 1e9),
                        greatest(r.gap, greatest(floor((r.ph + ix.xn - (r.ssum + ix.xn) / (r.t + 1) - 0.01) * 1e9 + 0.5) / 1e9 - r.mn, 0.0)),
                        r.alerts + CASE WHEN floor((r.ph + ix.xn - (r.ssum + ix.xn) / (r.t + 1) - 0.01) * 1e9 + 0.5) / 1e9 - r.mn > 0.5 THEN 1 ELSE 0 END,
                        COALESCE(r.first_day, CASE WHEN floor((r.ph + ix.xn - (r.ssum + ix.xn) / (r.t + 1) - 0.01) * 1e9 + 0.5) / 1e9 - r.mn > 0.5 THEN ix.day END)
                      FROM r JOIN ix ON ix.event_type = r.event_type AND ix.idx = r.t)
           SELECT r.event_type, st.n AS n_days,
                  floor(r.gap * 1e6 + 0.5) / 1e6 AS max_gap,
                  CAST(r.alerts AS BIGINT) AS n_alerts, r.first_day AS first_alert_day
           FROM r JOIN st USING (event_type) WHERE r.t = st.n ORDER BY event_type"""),

    // Generalized-ESD-style outlier sweep on GLOBAL daily volume: three
    // rounds of "remove the most extreme day", each round re-deriving
    // mean/sd from the surviving days. The extremity ranking uses the
    // INTEGER-EXACT scaled deviation |c·n − Σc| (the x_changepoint trick
    // — no double enters the argmax); the studentized statistic is one
    // closed-form double per round. Day grid = calendar-bounded metadata.
    Query("x_esd_outliers", (s, dir) => {
      val d0 = events(s, dir).groupBy("day").agg(count(lit(1)).as("c")).localCheckpoint()
      def round1(d: DataFrame, k: Int): (DataFrame, DataFrame) = {
        val st = d.groupBy().agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(col("c") * col("c")).as("sxx"))
        val scored = d.crossJoin(broadcast(st))
          .withColumn("score", abs(col("c") * col("n") - col("sx")))
        val pick = scored.orderBy(col("score").desc, col("day")).limit(1)
          .select(lit(k).as("round_no"), col("day"), col("c"),
            (floor(col("score").cast("double") / col("n").cast("double")
              / sqrt((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
                / col("n").cast("double")) / col("n").cast("double"))
              * lit(1e4) + lit(0.5)) / lit(1e4)).as("r_stat"))
          .localCheckpoint()
        (pick, d.join(pick.select(col("day")), Seq("day"), "left_anti").localCheckpoint())
      }
      val (p1, d1) = round1(d0, 1)
      val (p2, d2) = round1(d1, 2)
      val (p3, _) = round1(d2, 3)
      p1.unionAll(p2).unionAll(p3)
        .withColumn("flagged", col("r_stat") > 3.0)
        .orderBy("round_no")
    },
      // ESD sweep: three chained rounds; the argmax rides the integer
      // score, the studentized stat is one double tree per round
      {
        val stat = """floor(CAST(score AS DOUBLE) / CAST(n AS DOUBLE)
                    / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                        / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) * 1e4 + 0.5) / 1e4"""
        val rounds = (1 to 3).map { k =>
          val prev = if (k == 1) "d0" else s"d${k - 1}"
          val drop =
            if (k == 3) ""
            else s""",
                d$k AS (SELECT day, c FROM $prev WHERE day NOT IN (SELECT day FROM p$k))"""
          s"""s$k AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS sx,
                        CAST(sum(c * c) AS BIGINT) AS sxx FROM $prev),
              p$k AS MATERIALIZED (
                SELECT $k AS round_no, day, c, abs(c * n - sx) AS score, n, sx, sxx
                FROM $prev, s$k ORDER BY abs(c * n - sx) DESC, day LIMIT 1)$drop"""
        }.mkString(",\n")
        s"""WITH d0 AS (SELECT $dayE AS day, count(*) AS c FROM events GROUP BY 1),
                $rounds,
                u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3),
                v AS (SELECT round_no, day, c, $stat AS r_stat FROM u)
           SELECT round_no, day, c, r_stat, r_stat > 3.0 AS flagged
           FROM v ORDER BY round_no"""
      }),

    // Deterministic RANSAC line fit per type over (day-index, volume):
    // 16 md5-seeded candidate point pairs each propose a line; the
    // consensus winner maximizes inliers within tol = 10% of the type's
    // mean volume. The candidate grid is types×16 metadata; the inlier
    // count is one equi-join on event_type over the bounded day grid —
    // robust trend fitting with zero data-dependent randomness.
    Query("x_ransac_line", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        .withColumn("x", row_number().over(
          Window.partitionBy("event_type").orderBy("day")) - 1)
      val st = dc.groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("c")).as("sx"))
      val cand = st.select(col("event_type"), col("n"), col("sx"),
          explode(sequence(lit(0), lit(15))).as("cid"))
        .withColumn("i1", graft.ext.Mixture.hash24(
          concat(lit("ra|"), col("event_type"), lit("|"), col("cid"))) % col("n"))
        .withColumn("i2", graft.ext.Mixture.hash24(
          concat(lit("rb|"), col("event_type"), lit("|"), col("cid"))) % col("n"))
        .filter(col("i1") =!= col("i2"))
      val pts = dc.select(col("event_type"), col("x"), col("c"))
      val lines = cand
        .join(pts.select(col("event_type"), col("x").as("i1"), col("c").as("y1")),
          Seq("event_type", "i1"))
        .join(pts.select(col("event_type"), col("x").as("i2"), col("c").as("y2")),
          Seq("event_type", "i2"))
        .withColumn("slope", (col("y2") - col("y1")).cast("double") / (col("i2") - col("i1")))
        .withColumn("icept", col("y1").cast("double") - col("slope") * col("i1"))
        .withColumn("tol", lit(0.1) * col("sx").cast("double") / col("n"))
      val scored = lines.join(pts, "event_type")
        .withColumn("inlier",
          (abs(col("c").cast("double") - (col("icept") + col("slope") * col("x"))) <= col("tol"))
            .cast("long"))
        .groupBy(col("event_type"), col("cid"), col("slope"), col("icept"))
        .agg(sum(col("inlier")).as("n_inliers"))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("n_inliers").desc, col("cid"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("cid").cast("int").as("cand_id"), col("n_inliers"),
          (floor(col("slope") * lit(1e4) + lit(0.5)) / lit(1e4)).as("slope"),
          (floor(col("icept") * lit(1e4) + lit(0.5)) / lit(1e4)).as("intercept"))
        .orderBy("event_type")
    },
      // RANSAC: md5-seeded candidate pairs, inlier consensus on the grid
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                ix AS (SELECT event_type, day, c,
                         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS x
                       FROM dc),
                st AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sx
                       FROM dc GROUP BY 1),
                cd AS MATERIALIZED (
                  SELECT st.event_type, st.n, st.sx, cid,
                    CAST(('0x' || substring(md5('ra|' || st.event_type || '|' || cid), 1, 6)) AS INTEGER) % st.n AS i1,
                    CAST(('0x' || substring(md5('rb|' || st.event_type || '|' || cid), 1, 6)) AS INTEGER) % st.n AS i2
                  FROM st, (SELECT unnest(range(16)) AS cid)),
                ln2 AS (SELECT cd.event_type, cd.cid,
                          CAST(b.c - a.c AS DOUBLE) / (cd.i2 - cd.i1) AS slope,
                          CAST(a.c AS DOUBLE) - CAST(b.c - a.c AS DOUBLE) / (cd.i2 - cd.i1) * cd.i1 AS icept,
                          0.1 * CAST(cd.sx AS DOUBLE) / cd.n AS tol
                        FROM cd
                        JOIN ix a ON a.event_type = cd.event_type AND a.x = cd.i1
                        JOIN ix b ON b.event_type = cd.event_type AND b.x = cd.i2
                        WHERE cd.i1 <> cd.i2),
                sc AS (SELECT l.event_type, l.cid, l.slope, l.icept,
                         CAST(sum(CASE WHEN abs(CAST(p.c AS DOUBLE) - (l.icept + l.slope * p.x)) <= l.tol
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
                       FROM ln2 l JOIN ix p ON p.event_type = l.event_type
                       GROUP BY 1, 2, 3, 4),
                wn AS (SELECT *, row_number() OVER (PARTITION BY event_type
                         ORDER BY n_inliers DESC, cid) AS rk FROM sc)
           SELECT event_type, CAST(cid AS INTEGER) AS cand_id, n_inliers,
                  floor(slope * 1e4 + 0.5) / 1e4 AS slope,
                  floor(icept * 1e4 + 0.5) / 1e4 AS intercept
           FROM wn WHERE rk = 1 ORDER BY event_type"""),

    // Matrix profile (motif + discord discovery) over each type's daily
    // volumes: z-normalized 7-day subsequences, all-pairs distances with
    // a ±3 trivial-match exclusion zone, then the classic readouts — the
    // MOTIF (closest pair) and the DISCORD (window whose nearest neighbor
    // is farthest). Window sums are exact integers; z-scores are floor-9
    // quantized before the unrolled 7-term distance so both engines walk
    // identical doubles. The pair grid is calendar²-bounded metadata —
    // corpus-scale work is only the daily-count shuffle.
    Query("x_matrix_profile", (s, dir) => {
      val dc = indexedDaily(s, dir)
      val arr = dc.groupBy("event_type").agg(count(lit(1)).cast("int").as("n"),
          expr("transform(sort_array(collect_list(struct(idx, c))), e -> e.c)").as("a"))
        .filter(col("n") >= 11)
      val wnd = arr.select(col("event_type"), col("n"),
          explode(expr(
            "transform(sequence(0, n - 7), i -> named_struct('i', i, 'v', slice(a, i + 1, 7)))"))
            .as("w"))
        .select(col("event_type"), col("n"), col("w.i").as("i"), col("w.v").as("v"))
        .withColumn("sv", expr("aggregate(v, 0L, (s, e) -> s + e)"))
        .withColumn("svv", expr("aggregate(v, 0L, (s, e) -> s + e * e)"))
        .filter(lit(7) * col("svv") - col("sv") * col("sv") > 0)
        .withColumn("sd", sqrt((col("svv").cast("double")
          - col("sv").cast("double") * col("sv").cast("double") / lit(7)) / lit(7)))
        .withColumn("z", expr(
          "transform(v, e -> floor((CAST(e AS DOUBLE) - CAST(sv AS DOUBLE) / 7) / sd * 1e9 + 0.5D) / 1e9)"))
        .select(col("event_type"), col("n"), col("i"), col("z"))
        .localCheckpoint()
      val distE = (1 to 7).map(k =>
        s"(element_at(az, $k) - element_at(bz, $k)) * (element_at(az, $k) - element_at(bz, $k))")
        .mkString(" + ")
      val pr = wnd.select(col("event_type"), col("n"), col("i"), col("z").as("az"))
        .join(wnd.select(col("event_type"), col("i").as("j"), col("z").as("bz")), "event_type")
        .filter(col("j") > col("i") + 3)
        .withColumn("dist", sqrt(expr(distE)))
        .select(col("event_type"), col("n"), col("i"), col("j"), col("dist"))
        .localCheckpoint()
      val motif = pr.withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("dist"), col("i"), col("j"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), (col("n") - 6).cast("long").as("n_windows"),
          col("i").cast("long").as("motif_i"), col("j").cast("long").as("motif_j"),
          (floor(col("dist") * lit(1e6) + lit(0.5)) / lit(1e6)).as("motif_dist"))
      val nn = pr.select(col("event_type"), col("i").as("w"), col("dist"))
        .unionAll(pr.select(col("event_type"), col("j").as("w"), col("dist")))
        .groupBy("event_type", "w").agg(min(col("dist")).as("nnd"))
      val discord = nn.withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("nnd").desc, col("w"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("w").cast("long").as("discord_i"),
          (floor(col("nnd") * lit(1e6) + lit(0.5)) / lit(1e6)).as("discord_dist"))
      motif.join(discord, "event_type").orderBy("event_type")
    },
      // matrix profile: identical floor-9 z-windows, unrolled 7-term
      // distance, motif/discord readouts
      {
        val dist = (1 to 7).map(k =>
          s"(a.z[$k] - b.z[$k]) * (a.z[$k] - b.z[$k])").mkString(" + ")
        s"""WITH $indexedDailySql,
                arr AS (SELECT event_type, CAST(count(*) AS INTEGER) AS n,
                          list(c ORDER BY idx) AS a
                        FROM ix GROUP BY 1 HAVING count(*) >= 11),
                wn0 AS (SELECT event_type, n,
                          unnest(list_transform(range(0, n - 6), i -> {'i': i, 'v': a[i+1:i+7]})) AS w
                        FROM arr),
                st AS MATERIALIZED (
                  SELECT event_type, n, w.i AS i, w.v AS v,
                    CAST(list_sum(w.v) AS BIGINT) AS sv,
                    CAST(list_sum(list_transform(w.v, e -> e * e)) AS BIGINT) AS svv
                  FROM wn0),
                wz AS (SELECT event_type, n, i,
                         list_transform(v, e -> floor((CAST(e AS DOUBLE) - CAST(sv AS DOUBLE) / 7)
                           / sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / 7) / 7)
                           * 1e9 + 0.5) / 1e9) AS z
                       FROM st WHERE 7 * svv - sv * sv > 0),
                pr AS MATERIALIZED (
                  SELECT a.event_type, a.n, a.i AS i, b.i AS j, sqrt($dist) AS dist
                  FROM wz a JOIN wz b ON b.event_type = a.event_type AND b.i > a.i + 3),
                mot AS (SELECT event_type, n, i, j, dist,
                          row_number() OVER (PARTITION BY event_type ORDER BY dist, i, j) AS rk
                        FROM pr),
                sym AS (SELECT event_type, i AS w, dist FROM pr
                        UNION ALL SELECT event_type, j AS w, dist FROM pr),
                nn AS (SELECT event_type, w, min(dist) AS nnd FROM sym GROUP BY 1, 2),
                dis AS (SELECT event_type, w, nnd,
                          row_number() OVER (PARTITION BY event_type ORDER BY nnd DESC, w) AS rk
                        FROM nn)
           SELECT m.event_type, CAST(m.n - 6 AS BIGINT) AS n_windows,
                  CAST(m.i AS BIGINT) AS motif_i, CAST(m.j AS BIGINT) AS motif_j,
                  floor(m.dist * 1e6 + 0.5) / 1e6 AS motif_dist,
                  CAST(d.w AS BIGINT) AS discord_i,
                  floor(d.nnd * 1e6 + 0.5) / 1e6 AS discord_dist
           FROM mot m JOIN dis d ON d.event_type = m.event_type AND d.rk = 1
           WHERE m.rk = 1 ORDER BY m.event_type"""
      }),

    // Quantile treatment effect: per-user event counts, arms by the
    // deterministic user_id parity, per-arm deciles read from the exact
    // count histogram (smallest v with cumulative mass ≥ ⌈p·N/10⌉ — the
    // type-1 quantile, INTEGER-EXACT end to end). Histograms are bounded
    // aggregates; no global sort, no per-user ranking at any scale.
    Query("x_qte", (s, dir) => {
      val u = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("v"))
        .withColumn("arm", (col("user_id") % 2).cast("int"))
      val hist = u.groupBy("arm", "v").agg(count(lit(1)).as("f"))
        .withColumn("cum", sum(col("f")).over(Window.partitionBy("arm").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = u.groupBy("arm").agg(count(lit(1)).as("nu"))
      val grid = n.select(col("arm"), col("nu"), explode(sequence(lit(1), lit(9))).as("p"))
        .withColumn("pos", expr("CAST((nu * p + 9) DIV 10 AS BIGINT)"))
      val q = hist.join(grid, "arm").filter(col("cum") >= col("pos"))
        .groupBy("arm", "p").agg(min(col("v")).as("q"))
      q.filter(col("arm") === 1).select(col("p").as("decile"), col("q").as("q_treat"))
        .join(q.filter(col("arm") === 0).select(col("p").as("decile"), col("q").as("q_ctrl")),
          "decile")
        .withColumn("qte", col("q_treat") - col("q_ctrl"))
        .orderBy("decile")
    },
      // QTE: integer-exact type-1 quantiles off the per-arm histogram
      """WITH u AS (SELECT user_id, count(*) AS v, CAST(user_id % 2 AS INTEGER) AS arm
                      FROM events GROUP BY 1),
                h AS (SELECT arm, v, count(*) AS f FROM u GROUP BY 1, 2),
                ch AS (SELECT arm, v, CAST(sum(f) OVER (PARTITION BY arm ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                       FROM h),
                nn AS (SELECT arm, count(*) AS nu FROM u GROUP BY 1),
                g AS (SELECT nn.arm, nn.nu, p FROM nn, (SELECT unnest(range(1, 10)) AS p)),
                q AS (SELECT g.arm, g.p, min(ch.v) AS q
                      FROM g JOIN ch ON ch.arm = g.arm AND ch.cum >= (g.nu * g.p + 9) // 10
                      GROUP BY 1, 2)
           SELECT CAST(t.p AS INTEGER) AS decile, t.q AS q_treat, c.q AS q_ctrl,
                  t.q - c.q AS qte
           FROM q t JOIN q c ON c.p = t.p AND c.arm = 0 WHERE t.arm = 1 ORDER BY decile"""),

    // Tukey-fence (IQR) volume anomalies on global daily totals: Q1/Q3
    // are exact type-1 quantiles off the count histogram, and the fence
    // tests stay INTEGER (2c < 2·Q1 − 3·IQR avoids the 1.5 multiplier
    // ever touching a double). Histogram + one broadcast threshold row —
    // nothing here grows with the corpus except the daily-count shuffle.
    Query("x_anomaly_iqr", (s, dir) => {
      val d = events(s, dir).groupBy("day").agg(count(lit(1)).as("c"))
      val hist = d.groupBy("c").agg(count(lit(1)).as("f"))
        .withColumn("cum", sum(col("f")).over(Window.partitionBy(constKey(col("c"))).orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = d.agg(count(lit(1)).as("nd"))
      val qs = hist.crossJoin(broadcast(n))
        .select(
          min(when(col("cum") * 4 >= col("nd"), col("c"))).as("q1"),
          min(when(col("cum") * 4 >= col("nd") * 3, col("c"))).as("q3"))
      d.crossJoin(broadcast(qs))
        .select(col("day"), col("c"), col("q1"), col("q3"),
          (col("c") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3).as("is_low"),
          (col("c") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3).as("is_high"))
        .orderBy("day")
    },
      // IQR fences: exact type-1 quartiles, integer fence tests
      s"""WITH d AS (SELECT $dayE AS day, count(*) AS c FROM events GROUP BY 1),
                h AS (SELECT c, count(*) AS f FROM d GROUP BY 1),
                ch AS (SELECT c, CAST(sum(f) OVER (ORDER BY c
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                       FROM h),
                nd AS (SELECT count(*) AS nd FROM d),
                qs AS (SELECT min(CASE WHEN cum * 4 >= nd THEN c END) AS q1,
                              min(CASE WHEN cum * 4 >= nd * 3 THEN c END) AS q3
                       FROM ch, nd)
           SELECT d.day, d.c, qs.q1, qs.q3,
                  d.c * 2 < qs.q1 * 2 - (qs.q3 - qs.q1) * 3 AS is_low,
                  d.c * 2 > qs.q3 * 2 + (qs.q3 - qs.q1) * 3 AS is_high
           FROM d, qs ORDER BY d.day"""),

    // Simpson's-paradox audit: treatment/control purchase rates compared
    // overall AND per weekday stratum, with every direction decided by
    // INTEGER cross-multiplication (s1·n0 vs s0·n1 — no rate division
    // anywhere). A stratum is "reversed" when its direction opposes the
    // aggregate's — the classic confounding alarm. Two map-side-combined
    // aggregations over the scan; the stratum grid is metadata.
    Query("x_simpson_paradox", (s, dir) => {
      val base = events(s, dir).select(
        (col("user_id") % 2 === 1).as("treat"),
        (dayofweek(to_date(col("day")))).as("dow"),
        (col("event_type") === "purchase").cast("long").as("hit"))
      def agg(g: DataFrame, stratum: Column) = g.groupBy(stratum.as("stratum")).agg(
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(!col("treat"), col("hit")).otherwise(0L)).as("s_ctrl"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("treat"), col("hit")).otherwise(0L)).as("s_treat"))
      val rows = agg(base, col("dow").cast("int"))
        .unionByName(agg(base, lit(0)))
        .withColumn("direction", signum(
          (col("s_treat") * col("n_ctrl") - col("s_ctrl") * col("n_treat")).cast("double"))
          .cast("int"))
      val ov = rows.filter(col("stratum") === 0)
        .select(col("direction").as("odir"))
      rows.crossJoin(broadcast(ov))
        .withColumn("reversed", col("stratum") =!= 0 && col("direction") * col("odir") < 0)
        .select(col("stratum"), col("n_ctrl"), col("s_ctrl"), col("n_treat"), col("s_treat"),
          col("direction"), col("reversed"))
        .orderBy("stratum")
    },
      // Simpson: integer cross-multiplied directions, overall stratum 0
      s"""WITH base AS (SELECT user_id % 2 = 1 AS treat,
                        dayofweek(CAST($dayE AS DATE)) + 1 AS dow,
                        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
                      FROM events),
                st AS (SELECT CAST(dow AS INTEGER) AS stratum,
                         CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
                         CAST(sum(CASE WHEN NOT treat THEN hit ELSE 0 END) AS BIGINT) AS s_ctrl,
                         CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
                         CAST(sum(CASE WHEN treat THEN hit ELSE 0 END) AS BIGINT) AS s_treat
                       FROM base GROUP BY 1
                       UNION ALL
                       SELECT 0,
                         CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT),
                         CAST(sum(CASE WHEN NOT treat THEN hit ELSE 0 END) AS BIGINT),
                         CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT),
                         CAST(sum(CASE WHEN treat THEN hit ELSE 0 END) AS BIGINT)
                       FROM base),
                d AS (SELECT *, CAST(CASE WHEN s_treat * n_ctrl > s_ctrl * n_treat THEN 1
                                          WHEN s_treat * n_ctrl < s_ctrl * n_treat THEN -1
                                          ELSE 0 END AS INTEGER) AS direction
                      FROM st),
                ov AS (SELECT direction AS odir FROM d WHERE stratum = 0)
           SELECT stratum, n_ctrl, s_ctrl, n_treat, s_treat, direction,
                  stratum <> 0 AND direction * odir < 0 AS reversed
           FROM d, ov ORDER BY stratum"""),

    // Targeting gains/lift table: users ranked by activity (the
    // x_logit_newton score is monotone in it — slope sign pinned by
    // StatsSpec), cut into cum-mass deciles off the activity HISTOGRAM
    // (never a per-user global rank), each decile's capture of the
    // purchase-heavy label as integer counts; gain% and lift are single
    // closed-form doubles over exact integers. The histogram is bounded
    // by the activity domain, not the user count.
    Query("x_gains_table", (s, dir) => {
      val per = purchaseLabel(s, dir, yType = "long")
      val hist = per.groupBy("x").agg(count(lit(1)).as("f"), sum(col("y")).as("fp"))
      val tot = per.agg(count(lit(1)).as("nn"), sum(col("y")).as("pp"))
      val cum = hist.withColumn("cumf", sum(col("f")).over(Window.partitionBy(constKey(col("x"))).orderBy(col("x").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .withColumn("decile", expr("CAST(((cumf - 1) * 10) DIV nn AS INT) + 1"))
      val dec = cum.groupBy("decile").agg(sum(col("f")).as("n_users"),
          sum(col("fp")).as("n_pos"), max(col("nn")).as("nn"), max(col("pp")).as("pp"))
        .withColumn("cum_pos", sum(col("n_pos")).over(Window.partitionBy(constKey(col("decile"))).orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      dec.select(col("decile"), col("n_users"), col("n_pos"), col("cum_pos"),
          (floor(col("cum_pos").cast("double") * 100 / col("pp").cast("double") * lit(1e4)
            + lit(0.5)) / lit(1e4)).as("gain_pct"),
          (floor(col("n_pos").cast("double") * col("nn") / (col("n_users").cast("double") * col("pp"))
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("lift"))
        .orderBy("decile")
    },
      // gains table: upper-cum histogram deciles, integer capture counts
      s"""WITH ${purchaseLabelSql()},
                h AS (SELECT x, count(*) AS f, CAST(sum(y) AS BIGINT) AS fp FROM per GROUP BY 1),
                tot AS (SELECT count(*) AS nn, CAST(sum(y) AS BIGINT) AS pp FROM per),
                cm AS (SELECT h.*, tot.nn, tot.pp,
                         CAST(sum(f) OVER (ORDER BY x DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumf
                       FROM h, tot),
                dc AS (SELECT CAST(((cumf - 1) * 10) // nn AS INTEGER) + 1 AS decile,
                         f, fp, nn, pp
                       FROM cm),
                dec AS (SELECT decile, CAST(sum(f) AS BIGINT) AS n_users,
                          CAST(sum(fp) AS BIGINT) AS n_pos, max(nn) AS nn, max(pp) AS pp
                        FROM dc GROUP BY 1),
                cum2 AS (SELECT *, CAST(sum(n_pos) OVER (ORDER BY decile
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
                         FROM dec)
           SELECT decile, n_users, n_pos, cum_pos,
                  floor(CAST(cum_pos AS DOUBLE) * 100 / CAST(pp AS DOUBLE) * 1e4 + 0.5) / 1e4 AS gain_pct,
                  floor(CAST(n_pos AS DOUBLE) * nn / (CAST(n_users AS DOUBLE) * pp) * 1e4 + 0.5) / 1e4 AS lift
           FROM cum2 ORDER BY decile"""),

    // Ljung–Box portmanteau test on the x_acf autocorrelations: Q =
    // n(n+2) Σ r_k²/(n−k) over lags {1,2,3,7} — "is there ANY serial
    // structure at all". r_k are the same floor-4 decimal-sum ACFs;
    // each Q term is floor-9 quantized then decimal-summed so the
    // 4-term reduction is aggregation-order-exact.
    Query("x_ljung_box", (s, dir) => {
      val (x, den) = typeDayDevs(s, dir)
      val lagged = x.select(col("event_type").as("et2"), col("d").as("d2"), col("dev").as("dev2"))
      val acf = x.withColumn("lag", explode(array(Seq(1, 2, 3, 7).map(lit): _*)))
        .join(lagged,
          col("event_type") === col("et2") && col("d2") === date_add(col("d"), col("lag")))
        .groupBy("event_type", "lag").agg(max(col("nd")).as("nd"),
          sum(f6d(col("dev") * col("dev2"))).as("num"))
        .join(broadcast(den), "event_type")
        .select(col("event_type"), col("lag"), col("nd"),
          (floor(col("num").cast("double") / col("den").cast("double") * lit(1e4) + lit(0.5))
            / lit(1e4)).as("r"))
      acf.groupBy("event_type").agg(max(col("nd")).as("n_days"),
          sum((floor(col("r") * col("r") / (col("nd") - col("lag")).cast("double") * lit(1e9)
            + lit(0.5)) / lit(1e9)).cast("decimal(28,9)")).as("terms"))
        .select(col("event_type"), col("n_days"), lit(4).as("df"),
          (floor(col("n_days").cast("double") * (col("n_days") + 2)
            * col("terms").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("q_stat"))
        .orderBy("event_type")
    },
      // Ljung-Box: the x_acf pipeline + floor-9 decimal term sums
      s"""WITH $typeDayDevsSql,
                ${lagNumsSql(Seq(1, 2, 3, 7))},
                nd AS (SELECT event_type, count(*) AS nd FROM f GROUP BY 1),
                r AS (SELECT n.event_type, n.lag, nd.nd,
                        floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e4 + 0.5) / 1e4 AS r
                      FROM num n JOIN den USING (event_type) JOIN nd USING (event_type)),
                q AS (SELECT event_type, max(nd) AS n_days,
                        sum(CAST(floor(r * r / CAST(nd - lag AS DOUBLE) * 1e9 + 0.5) / 1e9
                          AS DECIMAL(28,9))) AS terms
                      FROM r GROUP BY 1)
           SELECT event_type, n_days, CAST(4 AS INTEGER) AS df,
                  floor(CAST(n_days AS DOUBLE) * (n_days + 2) * CAST(terms AS DOUBLE) * 1e4 + 0.5) / 1e4 AS q_stat
           FROM q ORDER BY event_type"""),

    // SAX symbolic compression of each type's daily series: z-scores
    // (floor-6), 7-day PAA segment means (decimal sums, floor-4), then
    // the 3-symbol gaussian-breakpoint alphabet (±0.4307) — the symbolic
    // index time-series miners build before motif/rule search. Output is
    // one compact word per type; everything is grid metadata after the
    // daily-count shuffle.
    Query("x_sax_symbols", (s, dir) => {
      val dc = indexedDaily(s, dir)
      val st = dc.groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("sxx"))
      val z = dc.join(broadcast(st), "event_type")
        .withColumn("sd", sqrt((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double") / col("n").cast("double"))
          / col("n").cast("double")))
        .withColumn("z", floor((col("c").cast("double")
          - col("sx").cast("double") / col("n").cast("double")) / col("sd") * lit(1e6)
          + lit(0.5)) / lit(1e6))
        .withColumn("seg", expr("CAST(idx DIV 7 AS INT)"))
      val seg = z.groupBy("event_type", "seg").agg(
          (floor(sum(col("z").cast("decimal(28,6)")).cast("double")
            / count(lit(1)).cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("m"))
        .withColumn("sym", when(col("m") < -0.4307, lit("a"))
          .when(col("m") > 0.4307, lit("c")).otherwise(lit("b")))
      seg.groupBy("event_type").agg(
          expr("array_join(transform(sort_array(collect_list(struct(seg, sym))), e -> e.sym), '')")
            .as("sax"),
          count(lit(1)).as("n_segments"))
        .orderBy("event_type")
    },
      // SAX: floor-6 z, floor-4 PAA means, +-0.4307 alphabet
      s"""WITH $indexedDailySql,
                st AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sx,
                         CAST(sum(c * c) AS BIGINT) AS sxx FROM dc GROUP BY 1),
                z AS (SELECT ix.event_type, CAST(idx // 7 AS INTEGER) AS seg,
                        floor((CAST(c AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                          / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                              / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
                          * 1e6 + 0.5) / 1e6 AS z
                      FROM ix JOIN st USING (event_type)),
                seg AS (SELECT event_type, seg,
                          floor(CAST(sum(CAST(z AS DECIMAL(28,6))) AS DOUBLE)
                            / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS m
                        FROM z GROUP BY 1, 2),
                sym AS (SELECT event_type, seg,
                          CASE WHEN m < -0.4307 THEN 'a' WHEN m > 0.4307 THEN 'c' ELSE 'b' END AS sym
                        FROM seg)
           SELECT event_type, string_agg(sym, '' ORDER BY seg) AS sax,
                  count(*) AS n_segments
           FROM sym GROUP BY 1 ORDER BY event_type"""),

    // Maximum drawdown of each type's cumulative demeaned volume: the
    // running-peak-minus-current of the INTEGER-EXACT scaled deviation
    // series Σ(c·n − Σc) (the x_changepoint trick — no double touches the
    // argmax), normalized once at the end. Trough = earliest day hitting
    // the max drawdown. Two stacked windows on ONE type partitioning.
    Query("x_drawdown", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val st = dc.groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("c")).as("sx"))
      val wrun = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = dc.join(broadcast(st), "event_type")
        .withColumn("cum", sum(col("c") * col("n") - col("sx")).over(wrun))
        .withColumn("peak", max(col("cum")).over(wrun))
        .withColumn("dd", col("peak") - col("cum"))
      cs.withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy(col("dd").desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("trough_day"), col("dd").as("dd_scaled"),
          (floor(col("dd").cast("double") / col("n").cast("double") * lit(1e4) + lit(0.5))
            / lit(1e4)).as("max_drawdown"))
        .orderBy("event_type")
    },
      // drawdown: integer scaled-deviation cumsum, running peak, one
      // normalize at the end
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                st AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sx
                       FROM dc GROUP BY 1),
                cs AS (SELECT dc.event_type, dc.day, st.n,
                         CAST(sum(dc.c * st.n - st.sx) OVER w AS BIGINT) AS cum
                       FROM dc JOIN st USING (event_type)
                       WINDOW w AS (PARTITION BY dc.event_type ORDER BY dc.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                pk AS MATERIALIZED (SELECT event_type, day, n, cum,
                         CAST(max(cum) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
                       FROM cs),
                dd AS (SELECT event_type, day, n, peak - cum AS dd,
                         row_number() OVER (PARTITION BY event_type
                           ORDER BY peak - cum DESC, day) AS rk
                       FROM pk)
           SELECT event_type, day AS trough_day, dd AS dd_scaled,
                  floor(CAST(dd AS DOUBLE) / CAST(n AS DOUBLE) * 1e4 + 0.5) / 1e4 AS max_drawdown
           FROM dd WHERE rk = 1 ORDER BY event_type"""),

    // Peak detection on daily volumes: a peak is STRICTLY above both
    // neighbors and at least 25% above the type's histogram lower median
    // (4c > 5·med — integers only). Prominence-lite, engine-exact;
    // lag/lead + the median share one type-bounded histogram.
    Query("x_peaks", (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val med = dc.groupBy("event_type", "c").agg(count(lit(1)).as("f"))
        .withColumn("cum", sum(col("f")).over(Window.partitionBy("event_type").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(dc.groupBy("event_type").agg(count(lit(1)).as("nd")), "event_type")
        .filter(col("cum") * 2 >= col("nd"))
        .groupBy("event_type").agg(min(col("c")).as("med"))
      dc.withColumn("pc", lag(col("c"), 1).over(w))
        .withColumn("nc", lead(col("c"), 1).over(w))
        .join(broadcast(med), "event_type")
        .filter(col("pc").isNotNull && col("nc").isNotNull
          && col("c") > col("pc") && col("c") > col("nc")
          && col("c") * 4 > col("med") * 5)
        .select(col("event_type"), col("day"), col("c"), col("med"))
        .orderBy("event_type", "day")
    },
      // peaks: strict neighbors + 25%-above-median, all integer tests
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                h AS (SELECT event_type, c, count(*) AS f FROM dc GROUP BY 1, 2),
                ch AS (SELECT event_type, c, CAST(sum(f) OVER (PARTITION BY event_type ORDER BY c
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                       FROM h),
                nd AS (SELECT event_type, count(*) AS nd FROM dc GROUP BY 1),
                med AS (SELECT ch.event_type, min(ch.c) AS med
                        FROM ch JOIN nd USING (event_type) WHERE ch.cum * 2 >= nd.nd
                        GROUP BY 1),
                nb AS (SELECT event_type, day, c,
                         lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc,
                         lead(c) OVER (PARTITION BY event_type ORDER BY day) AS nc
                       FROM dc)
           SELECT nb.event_type, nb.day, nb.c, med.med
           FROM nb JOIN med USING (event_type)
           WHERE pc IS NOT NULL AND nc IS NOT NULL AND c > pc AND c > nc AND c * 4 > med * 5
           ORDER BY nb.event_type, nb.day"""),

    // MAD (median-absolute-deviation) robust outliers on global daily
    // volume: median AND the MAD both read from count histograms (the
    // exact lower-median trick twice), so the only double is the final
    // modified z-score 0.6745(c−med)/MAD. The robust sibling of
    // x_anomaly_iqr/x_esd_outliers — immune to the outliers it hunts.
    Query("x_outlier_mad", (s, dir) => {
      val d = events(s, dir).groupBy("day").agg(count(lit(1)).as("c"))
      def lowerMedian(df: DataFrame, vCol: String): DataFrame = {
        val h = df.groupBy(vCol).agg(count(lit(1)).as("f"))
          .withColumn("cum", sum(col("f")).over(Window.partitionBy(constKey(col(vCol))).orderBy(vCol)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        h.crossJoin(broadcast(df.agg(count(lit(1)).as("nd"))))
          .filter(col("cum") * 2 >= col("nd"))
          .agg(min(col(vCol)).as("m"))
      }
      val med = lowerMedian(d, "c")
      val dev = d.crossJoin(broadcast(med)).withColumn("adev", abs(col("c") - col("m")))
      val mad = lowerMedian(dev.select(col("adev")), "adev")
        .select(col("m").as("mad"))
      dev.crossJoin(broadcast(mad))
        .select(col("day"), col("c"), col("m").as("med"), col("mad"),
          when(col("mad") === 0, lit(null).cast("double"))
            .otherwise(floor(lit(0.6745) * (col("c") - col("m")).cast("double")
              / col("mad").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mod_z"))
        .withColumn("flagged", abs(col("mod_z")) > 3.5)
        .orderBy("day")
    },
      // MAD: lower medians off two histograms, one closed-form double
      s"""WITH d AS (SELECT $dayE AS day, count(*) AS c FROM events GROUP BY 1),
                h1 AS (SELECT c, count(*) AS f FROM d GROUP BY 1),
                ch1 AS (SELECT c, CAST(sum(f) OVER (ORDER BY c
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                        FROM h1),
                n1 AS (SELECT count(*) AS nd FROM d),
                med AS (SELECT min(c) AS m FROM ch1, n1 WHERE cum * 2 >= nd),
                dev AS (SELECT d.day, d.c, med.m, abs(d.c - med.m) AS adev FROM d, med),
                h2 AS (SELECT adev, count(*) AS f FROM dev GROUP BY 1),
                ch2 AS (SELECT adev, CAST(sum(f) OVER (ORDER BY adev
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                        FROM h2),
                mad AS (SELECT min(adev) AS mad FROM ch2, n1 WHERE cum * 2 >= nd),
                z AS (SELECT day, c, m AS med, mad.mad,
                        CASE WHEN mad.mad = 0 THEN NULL
                             ELSE floor(0.6745 * CAST(c - m AS DOUBLE) / CAST(mad.mad AS DOUBLE)
                               * 1e4 + 0.5) / 1e4 END AS mod_z
                      FROM dev, mad)
           SELECT day, c, med, mad, mod_z, abs(mod_z) > 3.5 AS flagged
           FROM z ORDER BY day"""),

    // 14-day rolling correlation between click and purchase volumes: all
    // five co-moments are INTEGER window sums over a ROWS frame (safe:
    // 14-term sums of daily-count products stay far under 2^63 for daily
    // counts < ~8·10⁸), with one closed-form double per full window.
    // The join of the two series and the window ride the same
    // day-ordered, calendar-bounded grid.
    Query("x_rolling_corr", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val a = dc.filter(col("event_type") === "click").select(col("day"), col("c").as("c1"))
      val b = dc.filter(col("event_type") === "purchase").select(col("day"), col("c").as("c2"))
      val w = Window.partitionBy(constKey(col("day"))).orderBy("day").rowsBetween(-13, 0)
      val j = a.join(b, "day")
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s1", sum(col("c1")).over(w))
        .withColumn("s2", sum(col("c2")).over(w))
        .withColumn("s11", sum(col("c1") * col("c1")).over(w))
        .withColumn("s22", sum(col("c2") * col("c2")).over(w))
        .withColumn("s12", sum(col("c1") * col("c2")).over(w))
        .filter(col("n") === 14)
      val num = (col("n") * col("s12") - col("s1") * col("s2")).cast("double")
      val v1 = (col("n") * col("s11") - col("s1") * col("s1")).cast("double")
      val v2 = (col("n") * col("s22") - col("s2") * col("s2")).cast("double")
      j.select(col("day"), col("c1").as("c_click"), col("c2").as("c_purchase"),
          when(col("n") * col("s11") === col("s1") * col("s1")
            || col("n") * col("s22") === col("s2") * col("s2"), lit(null).cast("double"))
            .otherwise(floor(num / sqrt(v1 * v2) * lit(1e4) + lit(0.5)) / lit(1e4))
            .as("corr14"))
        .orderBy("day")
    },
      // rolling correlation: five integer co-moment window sums
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                a AS (SELECT day, c AS c1 FROM dc WHERE event_type = 'click'),
                b AS (SELECT day, c AS c2 FROM dc WHERE event_type = 'purchase'),
                j AS (SELECT a.day, c1, c2,
                        count(*) OVER w AS n,
                        CAST(sum(c1) OVER w AS BIGINT) AS s1,
                        CAST(sum(c2) OVER w AS BIGINT) AS s2,
                        CAST(sum(c1 * c1) OVER w AS BIGINT) AS s11,
                        CAST(sum(c2 * c2) OVER w AS BIGINT) AS s22,
                        CAST(sum(c1 * c2) OVER w AS BIGINT) AS s12
                      FROM a JOIN b USING (day)
                      WINDOW w AS (ORDER BY a.day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
           SELECT day, c1 AS c_click, c2 AS c_purchase,
                  CASE WHEN n * s11 = s1 * s1 OR n * s22 = s2 * s2 THEN NULL
                       ELSE floor(CAST(n * s12 - s1 * s2 AS DOUBLE)
                         / sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s22 - s2 * s2 AS DOUBLE))
                         * 1e4 + 0.5) / 1e4 END AS corr14
           FROM j WHERE n = 14 ORDER BY day"""),

    // T-learner uplift model: TWO independent quantized-IRLS logistic
    // fits (treated / control by user parity) on the shared Stats core,
    // evaluated on the activity-decile grid — uplift(x) = p̂₁(x) − p̂₀(x),
    // the heterogeneous-treatment-effect readout. Each fit is 3 Newton
    // steps exchanging 5 decimal sums over the (x, y) histogram; the
    // decile grid rides the bounded activity histogram.
    Query("x_uplift_tlearner", (s, dir) => {
      val per = purchaseLabel(s, dir)
        .withColumn("treat", col("user_id") % 2 === 1)
        .localCheckpoint()
      val (_, coefT) = graft.ext.Stats.logisticIrls(per.filter(col("treat")), col("x"), col("y"), 3)
      val (_, coefC) = graft.ext.Stats.logisticIrls(per.filter(!col("treat")), col("x"), col("y"), 3)
      val hist = per.groupBy("x").agg(count(lit(1)).as("f"))
        .withColumn("cum", sum(col("f")).over(Window.partitionBy(constKey(col("x"))).orderBy("x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = per.agg(count(lit(1)).as("nu"))
      val grid = hist.crossJoin(broadcast(n))
        .select(explode(sequence(lit(1), lit(9))).as("p"), col("x"), col("cum"), col("nu"))
        .filter(col("cum") * 10 >= col("nu") * col("p"))
        .groupBy("p").agg(min(col("x")).as("xq"))
      val pT = grid.crossJoin(broadcast(coefT))
        .select(col("p"), col("xq"), graft.ext.Stats.logisticP(col("xq")).as("p_treat"))
      val pC = grid.crossJoin(broadcast(coefC))
        .select(col("p"), graft.ext.Stats.logisticP(col("xq")).as("p_ctrl"))
      pT.join(pC, "p")
        .select(col("p").cast("int").as("decile"), col("xq"), col("p_treat"), col("p_ctrl"),
          (floor((col("p_treat") - col("p_ctrl")) * lit(1e6) + lit(0.5)) / lit(1e6)).as("uplift"))
        .orderBy("decile")
    },
      // T-learner: two logitChain fits + the decile grid
      s"""WITH ${purchaseLabelSql(more = Seq("user_id % 2 = 1 AS treat"))},
                ht AS (SELECT x, y, count(*) AS f FROM per WHERE treat GROUP BY 1, 2),
                hc AS (SELECT x, y, count(*) AS f FROM per WHERE NOT treat GROUP BY 1, 2),
                t0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                c0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
                ${logitChain("ht", "t")},
                ${logitChain("hc", "c")},
                h2 AS (SELECT x, count(*) AS f FROM per GROUP BY 1),
                chq AS (SELECT x, CAST(sum(f) OVER (ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                        FROM h2),
                nu AS (SELECT count(*) AS nu FROM per),
                grid AS (SELECT p, min(x) AS xq
                         FROM chq, nu, (SELECT unnest(range(1, 10)) AS p)
                         WHERE cum * 10 >= nu * p GROUP BY p),
                fin AS (SELECT g.p, g.xq,
                          greatest(least(floor(1.0 / (1.0 + exp(-(t3.b0 + t3.b1 * CAST(g.xq AS DOUBLE)))) * 1e6 + 0.5) / 1e6,
                            CAST(0.999999 AS DOUBLE)), CAST(0.000001 AS DOUBLE)) AS p_treat,
                          greatest(least(floor(1.0 / (1.0 + exp(-(c3.b0 + c3.b1 * CAST(g.xq AS DOUBLE)))) * 1e6 + 0.5) / 1e6,
                            CAST(0.999999 AS DOUBLE)), CAST(0.000001 AS DOUBLE)) AS p_ctrl
                        FROM grid g CROSS JOIN t3 CROSS JOIN c3)
           SELECT CAST(p AS INTEGER) AS decile, xq, p_treat, p_ctrl,
                  floor((p_treat - p_ctrl) * 1e6 + 0.5) / 1e6 AS uplift
           FROM fin ORDER BY decile"""),

    // Bollinger bands on daily volumes: 20-day rolling mean ± 2σ with
    // breakout flags decided ENTIRELY in integers — c > μ+2σ ⟺
    // 20c−s₁ > 0 AND (20c−s₁)² > 4(20s₁₁−s₁²) — so the flag never
    // touches a double (sound for daily counts < ~2³⁰; the display
    // mean/σ are floor-4 doubles). Integer co-moment window sums over
    // the type-partitioned day grid, the x_rolling_corr discipline.
    Query("x_bollinger", (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-19, 0)
      val d = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s1", sum(col("c")).over(w))
        .withColumn("s11", sum(col("c") * col("c")).over(w))
        .filter(col("n") === 20)
      val dev = col("c") * 20 - col("s1")
      val var400 = (col("s11") * 20 - col("s1") * col("s1")) * 4
      d.select(col("event_type"), col("day"), col("c"),
          (floor(col("s1").cast("double") / 20 * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean20"),
          (floor(sqrt((col("s11") * 20 - col("s1") * col("s1")).cast("double")) / 20
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("sd20"),
          (dev > 0 && dev * dev > var400).as("above_band"),
          (dev < 0 && dev * dev > var400).as("below_band"))
        .orderBy("event_type", "day")
    },
      // Bollinger: integer co-moments, integer breakout tests
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                j AS (SELECT event_type, day, c,
                        count(*) OVER w AS n,
                        CAST(sum(c) OVER w AS BIGINT) AS s1,
                        CAST(sum(c * c) OVER w AS BIGINT) AS s11
                      FROM dc
                      WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
           SELECT event_type, day, c,
                  floor(CAST(s1 AS DOUBLE) / 20 * 1e4 + 0.5) / 1e4 AS mean20,
                  floor(sqrt(CAST(s11 * 20 - s1 * s1 AS DOUBLE)) / 20 * 1e4 + 0.5) / 1e4 AS sd20,
                  (c * 20 - s1) > 0 AND (c * 20 - s1) * (c * 20 - s1) > (s11 * 20 - s1 * s1) * 4 AS above_band,
                  (c * 20 - s1) < 0 AND (c * 20 - s1) * (c * 20 - s1) > (s11 * 20 - s1 * s1) * 4 AS below_band
           FROM j WHERE n = 20 ORDER BY event_type, day"""),

    // Theil inequality indices of user activity — the decomposable
    // entropy-based siblings of x_gini: T = (1/N)Σ(x/μ)ln(x/μ) and the
    // mean log deviation L = (1/N)Σ ln(μ/x), both off the bounded
    // activity HISTOGRAM (per-term floor-9 quantization + decimal sums,
    // so the reductions are aggregation-order-exact; μ = ΣX/N stays an
    // exact-integer ratio until the one double per term).
    Query("x_theil_index", (s, dir) => {
      val u = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("x"))
      val h = u.groupBy("x").agg(count(lit(1)).as("f"))
      val tot = u.agg(count(lit(1)).as("nn"), sum(col("x")).as("sx"))
      val r = col("x").cast("double") * col("nn") / col("sx") // x/mu, exact inputs
      h.crossJoin(broadcast(tot))
        .agg(max(col("nn")).as("n_users"),
          sum(f9d(col("f") * r * log(r))).as("tsum"),
          sum(f9d(col("f") * -log(r))).as("lsum"))
        .select(col("n_users"),
          (floor(col("tsum").cast("double") / col("n_users").cast("double") * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("theil_t"),
          (floor(col("lsum").cast("double") / col("n_users").cast("double") * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("theil_l"))
    },
      // Theil T and L: identical per-term quantized trees, decimal sums
      """WITH u AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
                h AS (SELECT x, count(*) AS f FROM u GROUP BY 1),
                tot AS (SELECT count(*) AS nn, CAST(sum(x) AS BIGINT) AS sx FROM u),
                t AS (SELECT
                        max(nn) AS n_users,
                        sum(CAST(floor(f * (CAST(x AS DOUBLE) * nn / sx)
                          * ln(CAST(x AS DOUBLE) * nn / sx) * 1e9 + 0.5) / 1e9
                          AS DECIMAL(28,9))) AS tsum,
                        sum(CAST(floor(f * -ln(CAST(x AS DOUBLE) * nn / sx) * 1e9 + 0.5) / 1e9
                          AS DECIMAL(28,9))) AS lsum
                      FROM h, tot)
           SELECT n_users,
                  floor(CAST(tsum AS DOUBLE) / CAST(n_users AS DOUBLE) * 1e6 + 0.5) / 1e6 AS theil_t,
                  floor(CAST(lsum AS DOUBLE) / CAST(n_users AS DOUBLE) * 1e6 + 0.5) / 1e6 AS theil_l
           FROM t"""),
  )
}
