package graft
package queries

import graft.ops.{Batching, Diff, RangeJoin}
import graft.ops.Windows.constKey
import graft.queries.Helpers._
import graft.sinks.{Compaction, EsBulkSink, Retention, Upsert}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline's own family (SURVEY.md §2.1–§2.9): scans,
  * aggregations, filters, the J* joins and set ops, scalar transforms,
  * batching, the K* sinks and the incremental-sync semantics
  * (sync_e2e_counts, the t4–t26 streams). Conventions: see [[graft.SparkEntry]].
  */
private[graft] object Pipeline {

  def queries: Seq[Query] = Seq(
    // ---------------------------------------------------------- §2.1 scans
    // S1+P1+O3: projected, ordered scan (Debug.py:16-25 / Partition-script.py:30)
    Query("s1_scan_project", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
           FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100"""),

    // S3+P2: partition-pruned scan — declarative push_down_predicate
    // (data-s3-elastic-transfer.py:301-308). The day predicate is pushed as
    // a raw ts range so the parquet scan prunes row groups (see
    // Tables.loadEventsPrunedToDay).
    Query("s3_pruned_scan", (s, dir) =>
      Tables.withDay(Tables.loadEventsPrunedToDay(s, dir, "2024-01-05"))
        .select("event_id", "event_type", "value", "day")
        .orderBy("event_id"),
      s"""SELECT event_id, event_type, value, $dayE AS day FROM events
            WHERE $dayE = '2024-01-05' ORDER BY event_id"""),

    // S5/W2/O2: keyset pagination (search_after) — ID-based-transfer.py:118-154
    Query("o2_keyset_page", (s, dir) =>
      Batching.keysetPage(
        events(s, dir).select("event_id", "event_type"), "event_id", Some(lit(500L)), 1000),
      "SELECT event_id, event_type FROM events WHERE event_id > 500 ORDER BY event_id LIMIT 1000"),

    // S3 as an OPTIMIZER RULE: the user writes the "wrong" query — a
    // derived day-string filter that defeats pushdown — and
    // graft.plans.TsRangePushdown rewrites it to a raw ts range at
    // optimization time, so the parquet scan prunes row groups exactly as
    // s3_pruned_scan's hand-built arithmetic does (plan-pinned in
    // TsRangePushdownSpec). The declarative replacement for the
    // reference's push_down_predicate string at the ENGINE level.
    Query("s8_day_pushdown_rule", (s, dir) => {
      graft.plans.TsRangePushdown.register(s)
      Tables.withDay(Tables.loadEvents(s, dir))
        .filter(col("day") === "2024-01-05")
        .select("event_id", "event_type", "value", "day")
        .orderBy("event_id")
    },
      s"""SELECT event_id, event_type, value, $dayE AS day FROM events
            WHERE $dayE = '2024-01-05' ORDER BY event_id"""),

    // S2: catalog-table scan with out-of-band partition registration — the
    // reference's Glue-crawler + `MSCK REPAIR TABLE` loop (README.md:57-83,
    // data-s3-elastic-transfer.py:95-101): an EXTERNAL partitioned table is
    // declared over a Hive-layout directory, partitions recovered from the
    // filesystem, then queried through the catalog with a pruning predicate
    Query("s2_catalog_scan", (s, dir) => {
      val out = persistentPath("s2", dir)
      events(s, dir).select(col("event_id"), col("event_type"), col("value"), col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      s.sql("DROP TABLE IF EXISTS graft_events_catalog")
      s.sql(s"""CREATE TABLE graft_events_catalog
                (event_id BIGINT, event_type STRING, value DOUBLE, day STRING)
                USING parquet PARTITIONED BY (day) LOCATION '$out'""")
      s.sql("MSCK REPAIR TABLE graft_events_catalog") // = catalog.recoverPartitions
      s.table("graft_events_catalog")
        .filter(col("day") >= "2024-01-10" && col("day") < "2024-01-15") // partition-pruned
        .groupBy("day").agg(count(lit(1)).as("cnt"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt FROM events
            WHERE $dayE >= '2024-01-10' AND $dayE < '2024-01-15'
            GROUP BY 1 ORDER BY 1"""),

    // §1.3 lenient schema-on-read: two writer generations with DRIFTED
    // schemas (the later one adds event_type) land in one dataset;
    // mergeSchema unions the footers and the missing column reads as null,
    // normalized per-field to a default — the reference's
    // row_to_document_safe presence-check semantics
    // (data-s3-elastic-transfer.py:174-184) done at plan time, not per row
    Query("f2_schema_drift", (s, dir) => {
      val out = persistentPath("f2", dir)
      val e = events(s, dir)
      e.filter(col("event_id") % 2 === 0).select(col("event_id"), col("value"))
        .write.mode("overwrite").parquet(out + "/gen=a")
      e.filter(col("event_id") % 2 =!= 0).select(col("event_id"), col("value"), col("event_type"))
        .write.mode("overwrite").parquet(out + "/gen=b")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("event_id"), col("value"),
          coalesce(col("event_type"), lit("unknown")).as("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },
      """SELECT CASE WHEN event_id % 2 = 0 THEN 'unknown' ELSE event_type END AS event_type,
                  count(*) AS cnt,
                  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
           FROM events GROUP BY 1 ORDER BY 1"""),

    // --------------------------------------------------- §2.5 aggregations
    // A1: per-partition counts (data-s3-elastic-transfer.py:102) — flagship
    Query("a1_daily_counts", (s, dir) =>
      events(s, dir).groupBy("day").agg(count(lit(1)).as("cnt")).orderBy("day"),
      s"SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1"),

    // A2/S4: the Athena GROUP BY shipped to spark.sql (ID-based-transfer.py:55-60)
    Query("a2_group_count_sql", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS cnt
               FROM lineitem GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
           FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),

    // A3/O4: top-k partitions by count (ES terms agg, size=20 —
    // data-s3-elastic-transfer.py:51-61); exact where ES is approximate
    Query("a3_topk_days", (s, dir) =>
      events(s, dir).groupBy("day").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("day")).limit(20),
      s"SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1 ORDER BY cnt DESC, day LIMIT 20"),

    // A4: global count (Partition-script.py:19,23)
    Query("a4_global_count", (s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt")),
      "SELECT count(*) AS cnt FROM lineitem"),

    // A5: distinct partitions (Partition-script.py:45)
    Query("a5_distinct_days", (s, dir) =>
      events(s, dir).select("day").distinct().orderBy("day"),
      s"SELECT DISTINCT $dayE AS day FROM events ORDER BY day"),

    // A6-ext: min/max/avg + exact distinct-count aggregate battery
    Query("a6_stats_minmax", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          round(dsum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
          countDistinct(col("l_suppkey")).as("n_supp"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
                  count(DISTINCT l_suppkey) AS n_supp
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // hierarchical rollup: (day, event_type) → day subtotals → grand total
    Query("a8_rollup", (s, dir) =>
      events(s, dir)
        .rollup("day", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("day"), lit("ALL")).as("day"),
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("cnt"))
        .orderBy("day", "event_type"),
      s"""SELECT coalesce($dayE, 'ALL') AS day, coalesce(event_type, 'ALL') AS event_type,
                   count(*) AS cnt
            FROM events GROUP BY ROLLUP ($dayE, event_type)
            ORDER BY day, event_type"""),

    // pivot: one column per event type, counts per day
    Query("a9_pivot", (s, dir) =>
      events(s, dir)
        .groupBy("day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day"),
      s"""SELECT $dayE AS day,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'error') AS error,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'view') AS "view"
            FROM events GROUP BY 1 ORDER BY 1"""),

    // exact percentiles (sort-based aggregate; linear interpolation —
    // identical definition to DuckDB quantile_cont)
    Query("a12_percentiles", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
                  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
                  round(quantile_cont(l_quantity, 0.9), 4) AS p90,
                  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // cube: all grouping-set combinations over (returnflag, linestatus)
    Query("a10_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("cnt"), col("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                  coalesce(l_linestatus, 'ALL') AS l_linestatus,
                  count(*) AS cnt,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
           FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
           ORDER BY l_returnflag, l_linestatus"""),

    // approx_count_distinct (HLL++ sketch). The sketch VALUE is
    // engine-specific (DuckDB's approx_distinct uses a different HLL), so
    // the oracle instead gates the sketch's accuracy: emit the exact
    // distinct count plus a boolean that the approximation landed within
    // 5× the requested rsd (0.02 → |err| <= 0.1). Both engines can compute
    // the exact side; the gate bool is deterministic (HLL++ hashes are
    // fixed), verified TRUE at sf0.001/0.01/0.1.
    Query("a7_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey"), 0.02).cast("double") /
            countDistinct(col("l_partkey")).cast("double") - 1.0) <= 0.1).as("approx_ok"))
        .orderBy("l_returnflag"),
      // the sketch value is engine-specific; the oracle checks the exact
      // side and pins the accuracy-gate bool (see the queries entry)
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts, TRUE AS approx_ok
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // z-score anomaly detection: per-day outliers at |v - mean| > 3 sigma.
    // Mean/variance derive from EXACT decimal sums (S, Q) — the q11
    // cross-product discipline — so both engines build sigma from
    // identical inputs with the identical double expression tree;
    // squared-deviation compare avoids sqrt. Stats table is |days| rows →
    // broadcast; one extra bounded scan, no window
    Query("a18_zscore_outliers", (s, dir) => {
      val e = events(s, dir).select(col("day"), col("event_id"),
        col("value").cast("decimal(18,4)").as("vdec"))
      val stats = e.groupBy("day").agg(
        count(lit(1)).as("n"),
        sum(col("vdec")).as("sdec"),
        sum(col("vdec") * col("vdec")).as("qdec"))
      e.join(broadcast(stats), "day")
        .withColumn("v", col("vdec").cast("double"))
        .withColumn("m", col("sdec").cast("double") / col("n"))
        .withColumn("varr",
          (col("qdec").cast("double") -
            col("sdec").cast("double") * col("sdec").cast("double") / col("n")) / (col("n") - 1))
        .filter((col("v") - col("m")) * (col("v") - col("m")) > lit(9.0) * col("varr"))
        .select(col("day"), col("event_id"), col("v").as("value"))
        .orderBy("day", "event_id")
    },
      s"""WITH e AS (SELECT $dayE AS day, event_id, CAST(value AS DECIMAL(18,4)) AS vdec FROM events),
                 st AS (SELECT day, count(*) AS n, sum(vdec) AS sdec, sum(vdec*vdec) AS qdec
                        FROM e GROUP BY 1),
                 j AS (SELECT e.day, e.event_id, CAST(vdec AS DOUBLE) AS v,
                         CAST(sdec AS DOUBLE) / n AS m,
                         (CAST(qdec AS DOUBLE) - CAST(sdec AS DOUBLE) * CAST(sdec AS DOUBLE) / n) / (n - 1) AS varr
                       FROM e JOIN st USING (day))
            SELECT day, event_id, v AS value FROM j
            WHERE (v - m) * (v - m) > 9.0 * varr ORDER BY day, event_id"""),

    // MAD robust outliers — a18's heavy-tail-safe sibling: modified
    // z-score 0.6745·(v−med)/MAD with |rz| > 3.5, per event type. Medians
    // come from EXPLICIT order statistics (avg of ranks (n+1)÷2 and
    // (n+2)÷2 under a deterministic (value, id) order), NOT interpolated
    // percentile(): Spark's and DuckDB's interpolation formulas diverge
    // by 1 ulp on some inputs (observed at sf0.1 — a .xxxx5 rounding
    // boundary flipped), where picking the two middle ELEMENTS and
    // averaging is bit-identical by construction. Rank windows partition
    // by type (never global); stats tables are |types| rows → broadcast
    Query("a19_mad_outliers", (s, dir) => {
      def medianOf(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
        val w = Window.partitionBy(col("event_type")).orderBy(col(valueCol), col("event_id"))
        val cnt = df.groupBy("event_type").agg(count(lit(1)).as("n"))
        df.withColumn("rnk", row_number().over(w))
          .join(broadcast(cnt), "event_type")
          .filter(col("rnk") === expr("(n + 1) div 2") || col("rnk") === expr("(n + 2) div 2"))
          .groupBy("event_type").agg(avg(col(valueCol)).as(outCol))
      }
      val e = events(s, dir).select("event_type", "event_id", "value")
      val withMed = e.join(broadcast(medianOf(e, "value", "med")), "event_type")
        .withColumn("ad", abs(col("value") - col("med")))
      val mad = medianOf(withMed, "ad", "mad")
      // explicit floor(x·1e4 + 0.5)/1e4 instead of round(): the engines'
      // round() implementations disagree on doubles sitting exactly at a
      // .xxxx5 boundary (Spark rounds the binary expansion via BigDecimal,
      // DuckDB scales-and-rounds — observed on this query at sf0.1);
      // floor/multiply/add are IEEE-identical everywhere
      withMed.join(broadcast(mad), "event_type")
        .withColumn("robust_z",
          floor(lit(0.6745) * (col("value") - col("med")) / col("mad") * 10000 + 0.5) / 10000)
        .filter(abs(col("robust_z")) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"), col("robust_z"))
        .orderBy("event_id")
    },
      """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
                r AS (SELECT e.event_id, e.event_type, e.value, c.n,
                        row_number() OVER (PARTITION BY e.event_type ORDER BY e.value, e.event_id) AS rnk
                      FROM events e JOIN c USING (event_type)),
                m AS (SELECT event_type, avg(value) AS med FROM r
                      WHERE rnk = (n + 1) // 2 OR rnk = (n + 2) // 2 GROUP BY 1),
                d AS (SELECT e.event_id, e.event_type, e.value, m.med,
                        abs(e.value - m.med) AS ad
                      FROM events e JOIN m USING (event_type)),
                r2 AS (SELECT d.event_id, d.event_type, d.ad, c.n,
                        row_number() OVER (PARTITION BY d.event_type ORDER BY d.ad, d.event_id) AS rnk
                       FROM d JOIN c USING (event_type)),
                md AS (SELECT event_type, avg(ad) AS mad FROM r2
                       WHERE rnk = (n + 1) // 2 OR rnk = (n + 2) // 2 GROUP BY 1),
                sc AS (SELECT d.event_id, d.event_type, d.value,
                         floor(0.6745 * (d.value - d.med) / md.mad * 10000 + 0.5) / 10000 AS robust_z
                       FROM d JOIN md USING (event_type))
           SELECT event_id, event_type, value, robust_z
           FROM sc WHERE abs(robust_z) > 3.5 ORDER BY event_id"""),

    // MERGEABLE distinct sketches — the incremental-MV form of a7: one
    // tiny Datasketches-HLL sketch per day (persistable alongside t9's
    // incremental aggregates), merged WITHOUT rescanning events. At 100 TB
    // this is the only sane rolling-distinct plan: per-partition sketches
    // are built once at ingest (each a few KB), and any window/total
    // distinct is a union of sketches — metadata-scale work — where exact
    // distinct would re-shuffle the whole history per refresh. Output is
    // the a7 gate pattern: exact values cross the oracle, the sketch only
    // feeds a deterministic error-bound bool (default lgK=12 → ~1.6% rse;
    // gated at 5%, verified at sf0.001/0.01/0.1).
    Query("x_hll_mergeable", (s, dir) => {
      // lgK pinned explicitly (not the provider default) so a Spark
      // upgrade changing defaults can't move the estimate under the gate
      val perDay = events(s, dir).groupBy("day")
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      val merged = perDay.agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = events(s, dir).agg(countDistinct(col("user_id")).as("exact_users"))
      merged.crossJoin(exact).select(
        col("n_days"), col("exact_users"),
        (abs(col("est") - col("exact_users")) * 20 <= col("exact_users")).as("union_ok"))
    },
      s"""SELECT count(DISTINCT $dayE) AS n_days,
                   count(DISTINCT user_id) AS exact_users, TRUE AS union_ok
            FROM events"""),

    // approximate-quantile sketch gated by its own rank guarantee: the
    // KLL/GK-style percentile_approx(acc=10000) bounds RANK error by
    // n/acc, so counting rows <= the sketch's p50/p90 answers must land
    // within that band of 0.5n/0.9n (slack 2x + ties). The sketch value
    // itself is merge-order-dependent and never crosses the oracle — only
    // n and the integer-arithmetic gate booleans do (a7 pattern).
    Query("x_approx_quantiles", (s, dir) => {
      val acc = 10000
      val e = Tables.loadEvents(s, dir).select(col("event_type"), col("value"))
      val ap = e.groupBy("event_type")
        .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9)), lit(acc)).as("ap"))
      e.join(broadcast(ap), "event_type")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") <= element_at(col("ap"), 1), 1L).otherwise(0L)).as("r50"),
          sum(when(col("value") <= element_at(col("ap"), 2), 1L).otherwise(0L)).as("r90"))
        .select(
          col("event_type"), col("n"),
          (abs(col("r50") * 2 - col("n")) * acc <= col("n") * 4 + lit(4L) * acc).as("ok50"),
          (abs(col("r90") * 10 - col("n") * 9) * acc <= col("n") * 20 + lit(20L) * acc).as("ok90"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n, TRUE AS ok50, TRUE AS ok90
           FROM events GROUP BY event_type ORDER BY event_type"""),

    // skew mitigation (§4 scale notes): two-phase salted aggregation —
    // partial counts per (key, salt), merged per key. Same result as a
    // plain groupBy; the point is the partial shuffle spreads a hot key
    // over `salts` tasks. Oracled against the plain GROUP BY.
    Query("a11_salted_agg", (s, dir) =>
      graft.ops.Skew.saltedAggregate(
        events(s, dir), "event_type", salts = 8,
        partialAggs = Seq(count(lit(1)).as("pc")),
        mergeAggs = Seq(sum(col("pc")).as("cnt")))
        .orderBy("event_type"),
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type"),

    // dispersion statistics via exact decimal moments: stddev/variance from
    // sum and sum-of-squares (per-row double square, exact decimal sums,
    // closed-form finish) — order-independent and engine-portable where the
    // built-in stddev's double accumulation is not hash-stable
    Query("a15_dispersion_exact", (s, dir) => {
      val x = col("l_quantity")
      val n = count(lit(1))
      val sx = dsum(x)
      val sxx = dsum(x * x)
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          n.as("cnt"),
          round((sxx - sx * sx / n) / (n - lit(1)), 4).as("var_qty"),
          round(sqrt((sxx - sx * sx / n) / (n - lit(1))), 4).as("std_qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS cnt,
                  round((CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                         - CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                           * CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*))
                        / (count(*) - 1), 4) AS var_qty,
                  round(sqrt((CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                         - CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                           * CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*))
                        / (count(*) - 1)), 4) AS std_qty
           FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ordered collect: per event type, the distinct active days as one
    // deterministic comma-joined string (collect_set → sort_array → join)
    Query("a16_collect_days", (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(concat_ws(",", sort_array(collect_set(col("day")))).as("days"),
          countDistinct(col("day")).as("n_days"))
        .orderBy("event_type"),
      s"""SELECT event_type,
                   string_agg(DISTINCT $dayE, ',' ORDER BY $dayE) AS days,
                   count(DISTINCT $dayE) AS n_days
            FROM events GROUP BY event_type ORDER BY event_type"""),

    // argmax/argmin aggregates: per day, the event type carrying the
    // highest / lowest value — max_by over a STRUCT ordering key
    // (value, event_id): lexicographic struct comparison makes ties
    // deterministic with no domain bound (the earlier composite long
    // round(value*100)*1e10 + event_id overflowed once round(value*100)
    // ≥ ~9.2e8 — an ANSI ARITHMETIC_OVERFLOW at runtime, round-3 advice).
    // DuckDB 1.0's arg_max can't order by a struct, so the oracle ranks
    // with window functions instead — same (value, event_id) tie order.
    Query("a17_argmax", (s, dir) => {
      val key = struct(col("value"), col("event_id"))
      events(s, dir)
        .groupBy("day")
        .agg(max_by(col("event_type"), key).as("top_type"),
          min_by(col("event_type"), key).as("bot_type"),
          round(max(col("value")), 4).as("max_value"))
        .orderBy("day")
    },
      s"""WITH ranked AS (
              SELECT $dayE AS day, event_type, value,
                     row_number() OVER (PARTITION BY $dayE ORDER BY value DESC, event_id DESC) AS rmax,
                     row_number() OVER (PARTITION BY $dayE ORDER BY value ASC, event_id ASC) AS rmin
              FROM events)
            SELECT day,
                   max(CASE WHEN rmax = 1 THEN event_type END) AS top_type,
                   max(CASE WHEN rmin = 1 THEN event_type END) AS bot_type,
                   round(max(value), 4) AS max_value
            FROM ranked GROUP BY day ORDER BY day"""),

    // three-valued-logic battery: NULLIF, COALESCE chains, IS DISTINCT FROM
    Query("f7_null_semantics", (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        expr("nullif(event_type, 'click')").as("et_null"),
        expr("coalesce(nullif(event_type, 'click'), 'was_click')").as("et_coal"),
        expr("CASE WHEN event_type IS DISTINCT FROM 'click' THEN 1 ELSE 0 END").as("not_click"))
        .orderBy("event_id"),
      """SELECT event_id,
                  nullif(event_type, 'click') AS et_null,
                  coalesce(nullif(event_type, 'click'), 'was_click') AS et_coal,
                  CASE WHEN event_type IS DISTINCT FROM 'click' THEN 1 ELSE 0 END AS not_click
           FROM events ORDER BY event_id"""),

    // distribution-position analytics: percent_rank and cume_dist of each
    // event's value within its type (rank ratios — identical integer
    // arithmetic in both engines regardless of tie order)
    Query("w8_percent_rank", (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .withColumn("pr", round(percent_rank().over(w), 4))
        .withColumn("cd", round(cume_dist().over(w), 4))
        .orderBy("event_id")
    },
      """SELECT event_id, event_type, value,
                  round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 4) AS pr,
                  round(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 4) AS cd
           FROM events ORDER BY event_id"""),

    // ------------------------------------------------- §2.3 filters/predicates
    // P2: equality filter (Partition-script.py:22)
    Query("p2_filter_eq", (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
           WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey"""),

    // P3: IN-list predicate (ID-based-transfer.py:177-187)
    Query("p3_in_list", (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // ----------------------------------------------- §2.4 joins / set ops
    // J1/T1: partitions missing from sink (data-s3-elastic-transfer.py:282-285)
    Query("j1_partition_anti", (s, dir) =>
      Diff.partitionDiff(events(s, dir), sinkState(s, dir), "day").orderBy("day"),
      s"""WITH src AS (SELECT DISTINCT $dayE AS day FROM events),
                 snk AS (SELECT DISTINCT day FROM ($sinkSql))
            SELECT day FROM src WHERE NOT EXISTS (SELECT 1 FROM snk WHERE snk.day = src.day)
            ORDER BY day"""),

    // J2/T2: ids missing from sink (ID-based-transfer.py:241)
    Query("j2_id_anti", (s, dir) =>
      Diff.idDiff(events(s, dir), sinkState(s, dir), "event_id").orderBy("event_id"),
      s"""WITH src AS (SELECT DISTINCT event_id FROM events),
                 snk AS (SELECT DISTINCT event_id FROM ($sinkSql))
            SELECT event_id FROM src WHERE NOT EXISTS (SELECT 1 FROM snk WHERE snk.event_id = src.event_id)
            ORDER BY event_id"""),

    // J3: per-partition count reconciliation (ID-based-transfer.py:90-109)
    Query("j3_count_reconcile", (s, dir) =>
      Diff.countReconcile(events(s, dir), sinkState(s, dir), "day").orderBy("day"),
      s"""WITH src AS (SELECT $dayE AS day, count(*) AS src_cnt FROM events GROUP BY 1),
                 snk AS (SELECT day, count(*) AS sink_cnt FROM ($sinkSql) GROUP BY 1)
            SELECT coalesce(src.day, snk.day) AS day,
                   coalesce(src_cnt, 0) AS src_cnt, coalesce(sink_cnt, 0) AS sink_cnt
            FROM src FULL OUTER JOIN snk ON src.day = snk.day
            WHERE coalesce(src_cnt, 0) <> coalesce(sink_cnt, 0) ORDER BY day"""),

    // J4: fetch rows for missing ids via semi-join, replacing chunked
    // IN-lists (ID-based-transfer.py:183-187)
    Query("j4_semi_fetch", (s, dir) =>
      Diff.fetchByKeys(
        events(s, dir),
        Diff.idDiff(events(s, dir), sinkState(s, dir), "event_id"),
        "event_id")
        .select("event_id", "day", "event_type", "value")
        .orderBy("event_id"),
      s"""WITH snk AS (SELECT DISTINCT event_id FROM ($sinkSql)),
                 missing AS (SELECT DISTINCT event_id FROM events
                   WHERE NOT EXISTS (SELECT 1 FROM snk WHERE snk.event_id = events.event_id))
            SELECT event_id, $dayE AS day, event_type, value FROM events
            WHERE EXISTS (SELECT 1 FROM missing WHERE missing.event_id = events.event_id)
            ORDER BY event_id"""),

    // T2 scale path, gate-visible: id-diff with a bloom-filter pre-split —
    // rows the sketch definitely excludes skip the anti-join shuffle; only
    // the might-contain residue pays it. Exact (false positives re-checked),
    // so it oracles against the plain anti-join.
    Query("j12_bloom_anti", (s, dir) =>
      // auto-sized sketch (expectedSinkIds <= 0): sizing for the actual
      // sink cardinality keeps the plan-embedded literal small — a
      // generously oversized sketch costs planning + shipping time
      Diff.idDiffBloom(events(s, dir), sinkState(s, dir), "event_id",
        expectedSinkIds = -1L, fpp = 0.01)
        .orderBy("event_id"),
      s"""WITH src AS (SELECT DISTINCT event_id FROM events),
                 snk AS (SELECT DISTINCT event_id FROM ($sinkSql))
            SELECT event_id FROM src WHERE NOT EXISTS (SELECT 1 FROM snk WHERE snk.event_id = src.event_id)
            ORDER BY event_id"""),

    // J3 at content level: checksum reconciliation — a sink partition with
    // EQUAL counts but drifted values (planted: +100 on every third event
    // of 2024-01-07) is invisible to j3's count compare and caught here by
    // the order-independent per-partition sum of 24-bit row-content hashes
    // (md5-prefix — engine-portable, recomputable by any SQL sink)
    Query("j14_content_reconcile", (s, dir) => {
      val src = events(s, dir)
      val sink = src.withColumn("value",
        when(col("day") === "2024-01-07" && col("event_id") % 3 === 0, col("value") + 100)
          .otherwise(col("value")))
      def canon(df: DataFrame): DataFrame = df.select(
        col("day"), col("event_id"),
        col("value").cast("decimal(18,4)").cast("string").as("v"))
      Diff.contentReconcile(canon(src), canon(sink), "day", Seq("event_id", "v"))
        .orderBy("day")
    },
      s"""WITH src AS (SELECT $dayE AS day, event_id,
                   CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR) AS v FROM events),
                 snk AS (SELECT $dayE AS day, event_id,
                   CAST(CAST(CASE WHEN $dayE = '2024-01-07' AND event_id % 3 = 0
                                  THEN value + 100 ELSE value END AS DECIMAL(18,4)) AS VARCHAR) AS v
                   FROM events),
                 a AS (SELECT day, count(*) AS c,
                         CAST(sum(CAST(('0x' || substring(md5(event_id || '|' || v), 1, 6)) AS INTEGER)) AS BIGINT) AS h
                       FROM src GROUP BY 1),
                 b AS (SELECT day, count(*) AS c,
                         CAST(sum(CAST(('0x' || substring(md5(event_id || '|' || v), 1, 6)) AS INTEGER)) AS BIGINT) AS h
                       FROM snk GROUP BY 1)
            SELECT day, a.c AS src_cnt, b.c AS sink_cnt, a.h AS src_sum, b.h AS sink_sum
            FROM a JOIN b USING (day)
            WHERE a.c <> b.c OR a.h <> b.h ORDER BY day"""),

    // Incremental view maintenance of a join (delta joins): the
    // materialized orders⋈lineitem revenue view is refreshed from
    // deltas via Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — the three delta
    // terms are each bounded by |Δ|·match-fanout, so a refresh at
    // 100 TB touches delta partitions only, never rescans the base
    // join. The deltas split on INDEPENDENT keys (orderkey%10 vs
    // suppkey%10) so all three terms are non-empty; the DuckDB oracle
    // computes the FULL join from scratch — equality of the monthly
    // rollup IS the IVM correctness proof.
    Query("x_incremental_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val o0 = o.filter(col("o_orderkey") % 10 =!= 7)
      val od = o.filter(col("o_orderkey") % 10 === 7)
      val l0 = l.filter(col("l_suppkey") % 10 =!= 3)
      val ld = l.filter(col("l_suppkey") % 10 === 3)
      def j(a: DataFrame, b: DataFrame) = a.join(b, col("o_orderkey") === col("l_orderkey"))
      j(o0, l0).unionAll(j(od, l0)).unionAll(j(o0, ld)).unionAll(j(od, ld))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("month")
    },
      // IVM proof: the oracle recomputes the FULL join from scratch
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_rows,
                  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1 ORDER BY 1"""),

    // time travel over an append-only change log: reconstruct per-user
    // state AS OF end of 2024-01-20 (version = ms*1e5 + event_id%1e5 — a
    // per-key total order; 'error' events are delete markers). Any
    // historical snapshot is the same one-shuffle query over the log
    // (Upsert.snapshotAt); at a version-partitioned layout the version
    // filter prunes files before the shuffle
    Query("k13_time_travel", (s, dir) => {
      val log = events(s, dir).select(
        col("user_id"),
        (unix_millis(col("ts")) * 100000L + col("event_id") % 100000L).as("ver"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("value"))
      val v = 1705795200000L * 100000L - 1L // end of 2024-01-20 UTC
      Upsert.snapshotAt(log, "user_id", "ver", v, opCol = Some("op"))
        .select(col("user_id"), col("value")).orderBy("user_id")
    },
      """WITH l AS (SELECT user_id, epoch_ms(ts) * 100000 + event_id % 100000 AS ver,
                             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
                      FROM events),
                r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ver DESC) AS rn
                      FROM l WHERE ver <= 170579519999999999)
           SELECT user_id, value FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id"""),

    // CDC changeset between two snapshot versions: per-user last-write
    // state at day 10 vs day 20 (users whose latest event by day 20 is an
    // 'error' are tombstoned), emitted as the I/U/D change feed a
    // downstream consumer replays. One full-outer key-shuffle
    // (Diff.changeSet); snapshots are window last-wins, the k8/SCD2
    // convention
    Query("x_cdc_changeset", (s, dir) => {
      val ev = events(s, dir).select(
        col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
        col("event_type"), col("value"), col("day"))
      def snap(cutDay: String): DataFrame = {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ms").desc, col("event_id").desc)
        ev.filter(col("day") <= cutDay)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("value"), col("event_type"))
      }
      val v1 = snap("2024-01-10").select("user_id", "value")
      val v2 = snap("2024-01-20").filter(col("event_type") =!= "error")
        .select("user_id", "value")
      Diff.changeSet(v1, v2, "user_id", Seq("value")).orderBy("user_id")
    },
      s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type, value,
                              $dayE AS day FROM events),
                 s1 AS (SELECT user_id, value FROM
                          (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
                           FROM e WHERE day <= '2024-01-10') WHERE rn = 1),
                 s2 AS (SELECT user_id, value FROM
                          (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
                           FROM e WHERE day <= '2024-01-20') WHERE rn = 1 AND event_type <> 'error'),
                 j AS (SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
                              s1.value AS old_value, s2.value AS new_value,
                              s1.user_id IS NOT NULL AS in_old, s2.user_id IS NOT NULL AS in_new
                       FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id),
                 c AS (SELECT user_id, old_value, new_value,
                         CASE WHEN NOT in_old THEN 'I' WHEN NOT in_new THEN 'D'
                              WHEN old_value IS DISTINCT FROM new_value THEN 'U' END AS op
                       FROM j)
            SELECT user_id, old_value, new_value, op
            FROM c WHERE op IS NOT NULL ORDER BY user_id"""),

    // K-ext: CDC APPLY — the changeset's consumer side (ops/Diff
    // .applyChangeSet): one full-outer merge replays I/U/D onto the old
    // snapshot; matches_target pins row-for-row equality with the target
    // snapshot (TRUE for every row, enforced by the oracle's recompute).
    // Same two-snapshot fixture as x_cdc_changeset.
    Query("k14_cdc_apply", (s, dir) => {
      val ev = events(s, dir).select(
        col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
        col("event_type"), col("value"), col("day"))
      def snap(cutDay: String): DataFrame = {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ms").desc, col("event_id").desc)
        ev.filter(col("day") <= cutDay)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("value"), col("event_type"))
      }
      val v1 = snap("2024-01-10").select("user_id", "value")
      val v2 = snap("2024-01-20").filter(col("event_type") =!= "error")
        .select("user_id", "value")
      val cs = Diff.changeSet(v1, v2, "user_id", Seq("value"))
      val applied = Diff.applyChangeSet(v1, cs, "user_id", Seq("value"))
      applied.join(v2.select(col("user_id"), col("value").as("tv")), Seq("user_id"), "full_outer")
        .select(col("user_id"), col("value"),
          (col("value") <=> col("tv")).as("matches_target"))
        .orderBy("user_id")
    },
      // CDC apply: apply(v1, changeSet(v1, v2)) ≡ v2 by construction, so
      // the oracle pins the target snapshot with matches_target TRUE on
      // every row — a broken apply diverges in rows or in the flag
      s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type, value,
                              $dayE AS day FROM events),
                 s2 AS (SELECT user_id, value FROM
                          (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
                           FROM e WHERE day <= '2024-01-20') WHERE rn = 1 AND event_type <> 'error')
            SELECT user_id, value, TRUE AS matches_target
            FROM s2 ORDER BY user_id"""),

    // J5: union-all reassembly (ID-based-transfer.py:194)
    Query("j5_union_all", (s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "click")
        .unionByName(e.filter(col("event_type") === "error"))
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS cnt FROM (
             SELECT * FROM events WHERE event_type = 'click'
             UNION ALL
             SELECT * FROM events WHERE event_type = 'error') u
           GROUP BY event_type ORDER BY event_type"""),

    // salted equi-join (skew path for when the build side can't broadcast):
    // the skewed probe side is salted, the dim replicated per salt. Result
    // set is salt-invariant, so it oracles against the plain join.
    Query("j9_salted_join", (s, dir) => {
      val e = events(s, dir)
      val dim = e.groupBy("event_type").agg(count(lit(1)).as("type_total"))
      graft.ops.Skew.saltedJoin(e.select("event_id", "event_type"), dim, "event_type", salts = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), max(col("type_total")).as("type_total"))
        .orderBy("event_type")
    },
      """WITH dim AS (SELECT event_type, count(*) AS type_total FROM events GROUP BY 1)
           SELECT e.event_type, count(*) AS cnt, max(type_total) AS type_total
           FROM events e JOIN dim USING (event_type)
           GROUP BY e.event_type ORDER BY e.event_type"""),

    // band (range) join via bucket quantization — pairs of events by the
    // same user within 6 h of each other, as an equi-join (graft.ops
    // .RangeJoin), never a nested loop
    Query("j8_range_join", (s, dir) => {
      val e = Tables.loadEvents(s, dir)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      RangeJoin.within(e, e, "user_id", "ts_ms", band = 21600000L)
        .filter(col("l_event_id") < col("r_event_id"))
        .groupBy(col("l_user_id").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events)
           SELECT a.user_id, count(*) AS n_pairs
           FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND abs(a.ts_ms - b.ts_ms) <= 21600000
           GROUP BY a.user_id ORDER BY a.user_id"""),

    // interval-OVERLAP join with NO equi-key (graft.ops.RangeJoin
    // .intervalOverlap): click activity windows [ts, ts+value·1000 ms]
    // overlapping purchase windows, as a time-axis grid equi-join with the
    // first-shared-bin guard (each pair counted once, no distinct pass) —
    // never the BroadcastNestedLoopJoin the naive form plans. floor() on
    // the duration because DuckDB CAST(double AS BIGINT) rounds where
    // Spark's cast truncates.
    Query("j14_interval_overlap", (s, dir) => {
      val e = Tables.withDay(Tables.loadEvents(s, dir))
        .withColumn("s_ms", unix_millis(col("ts")))
        .withColumn("e_ms", col("s_ms") + floor(col("value") * 1000).cast("long"))
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "day", "s_ms", "e_ms")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "s_ms", "e_ms")
      RangeJoin.intervalOverlap(clicks, purchases, "s_ms", "e_ms", binWidth = 600000L)
        .groupBy(col("l_day").as("day"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("l_e_ms"), col("r_e_ms")) -
            greatest(col("l_s_ms"), col("r_s_ms"))).as("overlap_ms"))
        .orderBy("day")
    },
      s"""WITH e AS (SELECT event_id, epoch_ms(ts) AS s_ms,
                  epoch_ms(ts) + CAST(floor(value * 1000) AS BIGINT) AS e_ms,
                  $dayE AS day, event_type FROM events),
                c AS (SELECT * FROM e WHERE event_type = 'click'),
                p AS (SELECT * FROM e WHERE event_type = 'purchase')
           SELECT c.day, count(*) AS n_pairs,
                  CAST(sum(least(c.e_ms, p.e_ms) - greatest(c.s_ms, p.s_ms)) AS BIGINT) AS overlap_ms
           FROM c JOIN p ON c.s_ms <= p.e_ms AND p.s_ms <= c.e_ms
           GROUP BY c.day ORDER BY c.day"""),

    // as-of join (operator Spark lacks; composed union+window — graft.ops
    // .AsOfJoin): each event matched to the user's most recent purchase
    // at-or-before it, at millisecond precision
    Query("j7_asof_join", (s, dir) => {
      val e = Tables.loadEvents(s, dir).withColumn("ts_ms", unix_millis(col("ts")))
      val left = e.select("event_id", "user_id", "ts_ms")
      val right = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_ms", "value", "event_id")
      graft.ops.AsOfJoin.mostRecent(left, right, "user_id", "ts_ms", Seq("value"), tieBreak = "event_id")
        .select(col("event_id"), coalesce(col("asof_value"), lit(-1.0)).as("last_purchase_value"))
        .orderBy("event_id")
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value, event_type FROM events),
                u AS (
                  SELECT event_id, user_id, ts_ms, 1 AS side,
                         CAST(NULL AS BIGINT) AS tb, CAST(NULL AS DOUBLE) AS rv FROM e
                  UNION ALL
                  SELECT CAST(NULL AS BIGINT), user_id, ts_ms, 0 AS side, event_id AS tb, value AS rv
                  FROM e WHERE event_type = 'purchase'),
                wv AS (SELECT *, last_value(rv IGNORE NULLS) OVER (
                         PARTITION BY user_id ORDER BY ts_ms, side, tb NULLS LAST
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av FROM u)
           SELECT event_id, coalesce(av, -1.0) AS last_purchase_value
           FROM wv WHERE side = 1 ORDER BY event_id"""),

    // the native-operator form of j7 (custom LogicalPlan + Strategy +
    // SparkPlan, graft.plans.AsOfJoinPlan): same oracle, but executed by a
    // single forward-only merge per co-partitioned partition instead of the
    // union + ignore-nulls-window composition
    Query("j13_asof_native", (s, dir) => {
      val e = Tables.loadEvents(s, dir).withColumn("ts_ms", unix_millis(col("ts")))
      val left = e.select("event_id", "user_id", "ts_ms")
      val right = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_ms", "value", "event_id")
      graft.ops.AsOfJoin.mostRecentNative(left, right, "user_id", "ts_ms", Seq("value"), tieBreak = "event_id")
        .select(col("event_id"), coalesce(col("asof_value"), lit(-1.0)).as("last_purchase_value"))
        .orderBy("event_id")
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value, event_type FROM events),
                u AS (
                  SELECT event_id, user_id, ts_ms, 1 AS side,
                         CAST(NULL AS BIGINT) AS tb, CAST(NULL AS DOUBLE) AS rv FROM e
                  UNION ALL
                  SELECT CAST(NULL AS BIGINT), user_id, ts_ms, 0 AS side, event_id AS tb, value AS rv
                  FROM e WHERE event_type = 'purchase'),
                wv AS (SELECT *, last_value(rv IGNORE NULLS) OVER (
                         PARTITION BY user_id ORDER BY ts_ms, side, tb NULLS LAST
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av FROM u)
           SELECT event_id, coalesce(av, -1.0) AS last_purchase_value
           FROM wv WHERE side = 1 ORDER BY event_id"""),

    // bucketed co-located join (scale pattern: both tables bucketed on the
    // join key → SortMergeJoin with NO exchange; the shuffle is paid once
    // at write time — plan pinned in BucketingSpec). Here the write+join
    // run end-to-end and the result oracles against the plain join.
    Query("j10_bucketed_join", (s, dir) => {
      graft.sources.Bucketing.writeBucketed(
        t(s, dir, "orders"), "graft_o_bucketed", "o_custkey", 8)
      graft.sources.Bucketing.writeBucketed(
        t(s, dir, "customer"), "graft_c_bucketed", "c_custkey", 8)
      graft.sources.Bucketing.bucketedJoin(
        s, "graft_o_bucketed", "graft_c_bucketed", "o_custkey", "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS cnt,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ------------------------------------------- §2.7 scalar transforms
    // F1+F2: lenient coercion — try_cast + defaults, the reference's
    // try/except-per-field (data-s3-elastic-transfer.py:126-184) as columns
    Query("f1_coerce_defaults", (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        coalesce(regexp_extract(col("props"), "\"k\": (\\d+)", 1).try_cast("int"), lit(0)).as("k"),
        coalesce(col("event_type").try_cast("int"), lit(-1)).as("et_num"),
        coalesce(col("value"), lit(0.0)).as("val_d")
      ).orderBy("event_id"),
      """SELECT event_id,
                  coalesce(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER), 0) AS k,
                  coalesce(TRY_CAST(event_type AS INTEGER), -1) AS et_num,
                  coalesce(value, 0.0) AS val_d
           FROM events ORDER BY event_id"""),

    // F3: row→JSON document (data-s3-elastic-transfer.py:154-186). The
    // emitted NDJSON text itself is engine-specific, so the oracle checks
    // the ROUND TRIP instead (round-3 verdict #6): build the bulk line,
    // split it back into action + doc, json-extract a canonical typed
    // projection, and compare that to the source row computed directly in
    // DuckDB — proving the document is parseable and value-preserving,
    // including the action metadata (_index, _id).
    Query("f3_to_json", (s, dir) => {
      val nd = EsBulkSink.toNdjson(
        events(s, dir).select("event_id", "day", "event_type", "value"),
        "events_idx", Some("event_id"))
      val action = substring_index(col("bulk_line"), "\n", 1)
      val doc = substring_index(col("bulk_line"), "\n", -1)
      nd.select(
        get_json_object(action, "$.index._index").as("idx_name"),
        get_json_object(action, "$.index._id").cast("long").as("doc_id"),
        get_json_object(doc, "$.event_id").cast("long").as("event_id"),
        get_json_object(doc, "$.day").as("day"),
        get_json_object(doc, "$.event_type").as("event_type"),
        get_json_object(doc, "$.value").cast("double").as("value"))
        .orderBy("event_id")
    },
      s"""SELECT 'events_idx' AS idx_name, event_id AS doc_id,
                   event_id, $dayE AS day, event_type, value
            FROM events ORDER BY event_id"""),

    // ------------------------------------------------- §2.8 batching
    // W1: global ordinal batching (zipWithIndex pagination,
    // data-s3-elastic-transfer.py:330-343) — batch stats per 1000-row
    // batch, via the distributed prefix-rank (no single-task global window;
    // numbering identical to the single-window parity form)
    Query("w1_ordinal_batches", (s, dir) =>
      Batching.withOrdinalBatchDistributed(events(s, dir), "event_id", 1000)
        .groupBy("batch")
        .agg(count(lit(1)).as("cnt"), min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("batch"),
      """WITH t AS (SELECT event_id, row_number() OVER (ORDER BY event_id) AS rn FROM events)
           SELECT CAST(floor((rn - 1) / 1000.0) AS BIGINT) + 1 AS batch, count(*) AS cnt,
                  min(event_id) AS min_id, max(event_id) AS max_id
           FROM t GROUP BY 1 ORDER BY 1"""),

    // W-ext: moving aggregate with an explicit frame — 7-day trailing mean
    // of daily event counts. The window input is the DAILY AGGREGATE
    // (bounded: one row per day regardless of data volume), so the
    // single-partition frame is the intended plan at any scale. Keyed on a
    // constant partition (the engine-wide idiom for windows over bounded
    // grids — PlanSpec pins that no declared query plans an UNKEYED
    // WindowExec, so an unbounded input can never silently serialize).
    Query("w2_moving_avg", (s, dir) => {
      val daily = events(s, dir).groupBy("day").agg(count(lit(1)).as("cnt"))
      val frame = Window.partitionBy(constKey(col("day"))).orderBy(col("day")).rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("ma7", round(avg(col("cnt")).over(frame), 4))
        .orderBy("day")
    },
      s"""WITH daily AS (SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1)
            SELECT day, cnt, round(avg(cnt) OVER (ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
            FROM daily ORDER BY day"""),

    // W-ext: per-user running total of event values — ordered cumulative
    // frame, decimal per-row casts so the accumulation is exact and
    // order-independent across engines
    Query("w4_running_total", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.loadEvents(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("running_value",
          sum(col("value").cast("decimal(18,4)")).over(w).cast("double"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id, value,
                  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
                    PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
           FROM events ORDER BY user_id, event_id"""),

    // W-ext: top-3 days per event type by count (rank over partition)
    Query("w3_topk_per_group", (s, dir) => {
      val counts = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("cnt").desc, col("day"))
      counts
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .orderBy("event_type", "rnk")
    },
      s"""WITH c AS (SELECT event_type, $dayE AS day, count(*) AS cnt FROM events GROUP BY 1, 2),
                 r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                         ORDER BY cnt DESC, day) AS rnk FROM c)
            SELECT event_type, day, cnt, CAST(rnk AS INTEGER) AS rnk
            FROM r WHERE rnk <= 3 ORDER BY event_type, rnk"""),

    // W-ext: typed top-k per group via the bounded-buffer Aggregator —
    // unlike w3's window (shuffle + full sort per group), the exchange
    // carries at most k rows per group per map partition. Same output as
    // the window form; oracled against it.
    Query("w5_topk_aggregator", (s, dir) => {
      import s.implicits._
      Tables.loadEvents(s, dir)
        .select(col("event_type"), col("value"), col("event_id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1)
        .mapValues(t => graft.functions.Scored(t._2, t._3))
        .agg(new graft.functions.TopKAggregator(5).toColumn)
        .flatMap { case (et, items) =>
          items.zipWithIndex.map { case (it, i) => (et, i + 1, it.id, it.score) }
        }
        .toDF("event_type", "rnk", "event_id", "value")
        .orderBy("event_type", "rnk")
    },
      """WITH r AS (SELECT event_type, event_id, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value DESC, event_id) AS rnk FROM events)
           SELECT event_type, CAST(rnk AS INTEGER) AS rnk, event_id, value
           FROM r WHERE rnk <= 5 ORDER BY event_type, rnk"""),

    // ---------------------------------------------------- §2.2 sinks
    // K1: partitioned parquet write + re-read (Partition-script.py:34-49)
    Query("k1_write_roundtrip", (s, dir) => {
      val out = persistentPath("k1", dir)
      events(s, dir).write.mode("overwrite").partitionBy("day").parquet(out)
      s.read.parquet(out)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("day")
    },
      s"SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1"),

    // Partition-layout EVOLUTION: the table starts day-partitioned (v1),
    // later drops switch to (day, event_type) (v2) — the live-migration
    // situation every long-lived 100 TB table hits. Readers union the
    // two Hive layouts by NAME (partition columns materialize in
    // different positions), and queries over the union still see one
    // logical table; new-layout scans additionally prune on BOTH
    // partition keys. Oracled against the plain batch rollup.
    Query("k16_partition_evolution", (s, dir) => {
      val stage = scratchDir("k16", dir).toString
      val e = events(s, dir)
      e.filter(col("day") < "2024-01-16").write.mode("overwrite")
        .partitionBy("day").parquet(s"$stage/v1")
      e.filter(col("day") >= "2024-01-16").write.mode("overwrite")
        .partitionBy("day", "event_type").parquet(s"$stage/v2")
      s.read.parquet(s"$stage/v1")
        .unionByName(s.read.parquet(s"$stage/v2"))
        .groupBy(col("day").cast("string").as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("day", "event_type")
    },
      s"""SELECT $dayE AS day, event_type, count(*) AS cnt FROM events
            GROUP BY 1, 2 ORDER BY 1, 2"""),

    // S-family: schema-evolution READ — a later writer added a data
    // column (k16 evolves the PARTITIONING; this evolves the file
    // schema). mergeSchema=true makes the scan reconcile footers and
    // null-fill the old files — the Spark-native answer to the
    // reference's lenient "missing field → default" coercion applied at
    // the source instead of per-row. Oracle recomputes the merged view
    // straight from events.
    Query("s11_merge_schema", (s, dir) => {
      val stage = scratchDir("s11", dir).toString
      val dc = events(s, dir).groupBy("day").agg(count(lit(1)).as("cnt"))
      dc.filter(col("day") < "2024-01-16")
        .write.mode("overwrite").parquet(s"$stage/v1")
      dc.filter(col("day") >= "2024-01-16")
        .withColumn("wknd", dayofweek(to_date(col("day"))).isin(1, 7).cast("int"))
        .write.mode("overwrite").parquet(s"$stage/v2")
      s.read.option("mergeSchema", "true").parquet(s"$stage/v1", s"$stage/v2")
        .orderBy("day")
    },
      // s11: the merged-schema view recomputed from events (old files
      // null-fill the evolved column; DuckDB dayofweek is 0=Sunday)
      s"""SELECT day, cnt,
                  CASE WHEN day >= '2024-01-16'
                       THEN (CASE WHEN dayofweek(CAST(day AS DATE)) IN (0, 6) THEN 1 ELSE 0 END)
                       ELSE NULL END AS wknd
           FROM (SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1)
           ORDER BY day"""),

    // K1+S2+S3 composed on a REAL Hive layout: write day-partitioned, read
    // back with basePath, filter on the string partition column — Catalyst
    // prunes to the one matching directory (the reference's
    // push_down_predicate, S3) before any file I/O. The k1 roundtrip reads
    // everything back; this one must read only day=2024-01-05/.
    Query("k2_partition_pruned_read", (s, dir) => {
      val out = scratchDir("k2", dir).toString + "/hive"
      events(s, dir).write.mode("overwrite").partitionBy("day").parquet(out)
      Tables.loadPartition(s, out, "day", "2024-01-05")
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },
      s"""SELECT event_type, count(*) AS cnt FROM events
            WHERE $dayE = '2024-01-05' GROUP BY event_type ORDER BY event_type"""),

    // K3: idempotent last-write-wins upsert by id (ID-based-transfer.py:198-223)
    Query("k3_upsert_last_wins", (s, dir) => {
      val base = t(s, dir, "events").select(col("event_id"), col("value"), lit(1).as("version"))
      val updates = t(s, dir, "events").filter(col("event_id") % 7 === 0)
        .select(col("event_id"), (col("value") + 100).as("value"), lit(2).as("version"))
      Upsert.lastWriteWins(base.unionByName(updates), "event_id", "version").orderBy("event_id")
    },
      """WITH allv AS (
             SELECT event_id, value, 1 AS version FROM events
             UNION ALL
             SELECT event_id, value + 100 AS value, 2 AS version FROM events WHERE event_id % 7 = 0),
           r AS (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY version DESC) AS rn FROM allv)
           SELECT event_id, value, version FROM r WHERE rn = 1 ORDER BY event_id"""),

    // CSV sink + source roundtrip (the reference's Athena results arrive as
    // CSV on S3, ID-based-transfer.py:42-48): headered write, schema'd
    // read-back (no inference pass — one scan, not two), exact aggregate
    Query("k4_csv_roundtrip", (s, dir) => {
      val out = persistentPath("k4", dir)
      events(s, dir).select(col("event_id"), col("day"), col("event_type"), col("value"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema("event_id BIGINT, day STRING, event_type STRING, value DOUBLE")
        .option("header", "true").csv(out)
        .groupBy("day")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1 ORDER BY 1"""),

    // NDJSON sink + source roundtrip — the reference's bulk transfer body
    // is newline-delimited JSON docs (data-s3-elastic-transfer.py:192-196);
    // written via to_json as a text sink, read back with an explicit schema
    // (schema'd json read = one scan) and re-aggregated exactly
    Query("k5_ndjson_roundtrip", (s, dir) => {
      val out = persistentPath("k5", dir)
      events(s, dir)
        .select(to_json(struct(col("event_id"), col("day"), col("event_type"), col("value"))).as("doc"))
        .write.mode("overwrite").text(out)
      s.read.schema("event_id BIGINT, day STRING, event_type STRING, value DOUBLE").json(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS cnt,
                  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
           FROM events GROUP BY event_type ORDER BY event_type"""),

    // opaque-media ingest through the binaryFile source (graft.sources
    // .BinaryIngest): a bounded doc sample materialized as one .bin file
    // per payload (executor-side fixture write), read back as (path,
    // length, content) rows — id from the file name, size from the file
    // status, digest from the bytes. The on-ramp for the multimodal family.
    Query("s9_binary_ingest", (s, dir) => {
      val out = persistentPath("s9bin", dir)
      graft.sources.BinaryIngest.writeFixture(
        t(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text", out)
      graft.sources.BinaryIngest.readDocs(s, out).orderBy("doc_id")
    },
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                  md5(text) AS digest
           FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),

    // output-file sizing / compaction roundtrip — the reference's
    // Partition-script.py repartition job with the 100 TB operational
    // contract made explicit: files capped at maxRecords rows, hot
    // partitions written by many tasks in parallel (graft.sinks.Compaction;
    // file-size/parallelism invariants pinned in CompactionSpec)
    Query("k7_compaction", (s, dir) => {
      val out = persistentPath("k7", dir)
      Compaction.compactTo(events(s, dir), "day", "event_id", maxRecords = 2000, out)
      s.read.parquet(out)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1 ORDER BY 1"""),

    // clustered (range-partitioned + sorted) write, then a selective range
    // read: per-file value ranges are near-disjoint so the pushed
    // predicate skips whole row groups at scale (file-stat disjointness
    // pinned in CompactionSpec; pushdown pinned in PlanSpec)
    Query("k10_clustered_write", (s, dir) => {
      val out = persistentPath("k10", dir)
      // numFiles ~3x the day count: range boundaries must subdivide WITHIN
      // days for per-file value ranges to narrow (fewer tasks than days
      // degenerates to one whole-range file per day)
      Compaction.clusteredWrite(
        events(s, dir).select(col("event_id"), col("day"), col("value")),
        "day", "value", out, numFiles = 96)
      s.read.parquet(out)
        .filter(col("value") >= 40.0 && col("value") < 60.0)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events WHERE value >= 40.0 AND value < 60.0
            GROUP BY 1 ORDER BY 1"""),

    // Z-ORDERED (Morton-key) write: two-dimensional clustering, then a
    // read filtering on BOTH dimensions — either predicate alone can skip
    // files, where k10's single-column clustering leaves the second
    // dimension spanning the full domain (CompactionSpec pins the
    // bounding-box property)
    // manifest-pruned read: build a per-file min/max manifest over the
    // clustered layout, keep only files intersecting the value range, read
    // JUST those files, re-apply the exact predicate. File skipping
    // upstream of any task — the coarse index that makes k10's clustering
    // actionable (ManifestSpec pins kept-files < total and result parity
    // with the unpruned read)
    Query("k12_manifest_prune", (s, dir) => {
      val out = persistentPath("k12", dir)
      Compaction.clusteredWrite(
        events(s, dir).select(col("event_id"), col("day"), col("value")),
        "day", "value", out, numFiles = 96)
      val mf = graft.sources.Manifest.build(s, out, Seq("value"))
      graft.sources.Manifest.prunedRead(s, out, mf, "value", 40.0, 60.0)
        .filter(col("value") >= 40.0 && col("value") < 60.0)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events WHERE value >= 40.0 AND value < 60.0
            GROUP BY 1 ORDER BY 1"""),

    Query("k11_zorder_write", (s, dir) => {
      val out = persistentPath("k11", dir)
      Compaction.zorderWrite(
        events(s, dir).select(col("event_id"), col("day"), col("value")),
        "day", "value", "event_id", out, numFiles = 96)
      s.read.parquet(out)
        .filter(col("value") >= 40.0 && col("value") < 60.0 && col("event_id") < 500)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt FROM events
            WHERE value >= 40.0 AND value < 60.0 AND event_id < 500
            GROUP BY 1 ORDER BY 1"""),

    // type-2 SCD merge: per-user value history — the first-seen value as
    // the seed dimension row, the latest value as the update batch; users
    // whose value changed get a closed interval + a new open row, single-
    // value users pass through untouched (idempotent re-delivery)
    Query("k8_scd2_merge", (s, dir) => {
      val ev = Tables.loadEvents(s, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"), col("value"))
      val wAsc = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val wDesc = Window.partitionBy(col("user_id")).orderBy(col("ms").desc, col("event_id").desc)
      val seed = ev.withColumn("rn", row_number().over(wAsc)).filter(col("rn") === 1)
        .select(col("user_id"), col("value").as("val"), col("ms").as("valid_from"),
          lit(null).cast("long").as("valid_to"))
      val updates = ev.withColumn("rn", row_number().over(wDesc)).filter(col("rn") === 1)
        .select(col("user_id"), col("value").as("val"), col("ms").as("ts"))
      Upsert.scd2Merge(seed, updates, "user_id", "valid_from", "valid_to", "ts", Seq("val"))
        .orderBy(col("user_id"), col("valid_from"), col("valid_to").asc_nulls_last)
    },
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, value FROM events),
                f AS (SELECT user_id, value AS val, ms AS valid_from FROM
                        (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS rn FROM e)
                      WHERE rn = 1),
                l AS (SELECT user_id, value AS val, ms AS ts FROM
                        (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn FROM e)
                      WHERE rn = 1)
           SELECT * FROM (
             SELECT f.user_id, f.val, f.valid_from,
                    CASE WHEN l.val <> f.val THEN l.ts END AS valid_to
             FROM f JOIN l USING (user_id)
             UNION ALL
             SELECT l.user_id, l.val, l.ts AS valid_from, CAST(NULL AS BIGINT) AS valid_to
             FROM f JOIN l USING (user_id) WHERE l.val <> f.val
           ) ORDER BY user_id, valid_from, valid_to NULLS LAST"""),

    // partition-scoped targeted delete (compliance/retention): removing a
    // bounded id list rewrites ONLY the partitions containing doomed rows
    // (stage-then-swap per directory); untouched partitions stay
    // byte-identical (RetentionSpec pins file mtimes)
    Query("k9_targeted_delete", (s, dir) => {
      val out = persistentPath("k9", dir)
      events(s, dir).write.mode("overwrite").partitionBy("day").parquet(out)
      val doomed = events(s, dir)
        .filter(col("day").isin("2024-01-05", "2024-01-06") && col("event_id") % 7 === 0)
        .select("event_id")
      Retention.deleteByIds(s, out, "day", "event_id", doomed)
      s.read.parquet(out)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt FROM events
            WHERE NOT ($dayE IN ('2024-01-05', '2024-01-06') AND event_id % 7 = 0)
            GROUP BY 1 ORDER BY 1"""),

    // Dynamic partition overwrite — INSERT OVERWRITE that replaces ONLY
    // the partitions present in the incoming batch (partitionOverwriteMode
    // =dynamic), the idempotent-backfill primitive of partitioned lakes:
    // rewrite one day with corrected values (value doubled), leave every
    // other partition byte-untouched. The oracle derives the expected
    // post-state from the source with a CASE on the overwritten day.
    Query("k15_dynamic_overwrite", (s, dir) => {
      val out = persistentPath("k15", dir)
      val src = events(s, dir).select(col("event_id"), col("day"), col("event_type"), col("value"))
      src.write.mode("overwrite").partitionBy("day").parquet(out)
      val patch = src.filter(col("day") === "2024-01-05")
        .withColumn("value", col("value") * lit(2.0))
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try patch.write.mode("overwrite").partitionBy("day").parquet(out)
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.read.parquet(out)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("day")
    },
      // dynamic overwrite: one day's values doubled, every other
      // partition untouched
      s"""SELECT $dayE AS day, count(*) AS cnt,
                   CAST(sum(CAST(CASE WHEN $dayE = '2024-01-05' THEN value * 2.0 ELSE value END
                     AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1 ORDER BY 1"""),

    // ORC sink + source roundtrip — same columnar write/read lifecycle as
    // k1 but through Spark's second built-in columnar format (the lakehouse
    // interchange case: an ORC-based warehouse reading our output). ORC
    // carries its own schema, so the read-back needs no schema literal, and
    // min/max stripe statistics give the same pushdown story as parquet
    // (filter verified in PlanSpec).
    Query("k6_orc_roundtrip", (s, dir) => {
      val out = persistentPath("k6", dir)
      events(s, dir).select(col("event_id"), col("day"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("day") >= "2024-01-10")
        .groupBy("day")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events WHERE $dayE >= '2024-01-10' GROUP BY 1 ORDER BY 1"""),

    // ------------------------------------------- §2.9 incremental semantics
    // T4: event-time tumbling window (streaming form in graft.streaming)
    Query("t4_event_time_window", (s, dir) =>
      Tables.loadEvents(s, dir)
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("cnt"), col("total_value"))
        .orderBy("day"),
      s"""SELECT $dayE AS day, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1 ORDER BY 1"""),

    // T1+T5: the sync plan — rows of partitions the sink lacks, skipping
    // present ones (data-s3-elastic-transfer.py:287-291)
    Query("t5_incremental_plan", (s, dir) => {
      val e = events(s, dir)
      e.join(Diff.partitionDiff(e, sinkState(s, dir), "day"), Seq("day"), "left_semi")
        .groupBy("day").agg(count(lit(1)).as("cnt"))
        .orderBy("day")
    },
      s"""WITH e AS (SELECT *, $dayE AS day FROM events),
                 snk AS (SELECT DISTINCT day FROM ($sinkSql)),
                 missing AS (SELECT DISTINCT day FROM e
                   WHERE NOT EXISTS (SELECT 1 FROM snk WHERE snk.day = e.day))
            SELECT day, count(*) AS cnt FROM e
            WHERE EXISTS (SELECT 1 FROM missing WHERE missing.day = e.day)
            GROUP BY day ORDER BY day"""),

    // T5 at the aggregate level: incremental materialized-view refresh —
    // the daily-counts MV is seeded with pre-gap days, then ONE refresh
    // aggregates only the missing partitions (partition-pruned scan +
    // partitionBy append; no full recompute). Final MV = full daily counts.
    Query("t9_incremental_agg", (s, dir) => {
      val aggDir = scratchDir("t9", dir).toString + "/daily_counts_mv"
      val src = events(s, dir)
      val agg: DataFrame => DataFrame = df => df.groupBy("day").agg(count(lit(1)).as("cnt"))
      agg(src.filter(col("day") < "2024-01-20"))
        .write.mode("overwrite").partitionBy("day").parquet(aggDir)
      graft.sync.IncrementalSync.incrementalAggRefresh(src, aggDir, "day", agg)
      s.read.parquet(aggDir)
        .select(col("day").cast("string").as("day"), col("cnt"))
        .orderBy("day")
    },
      s"SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1"),

    // §3.1 + §3.2 composed, end to end: seed the emulated index with the
    // partial sink state, run the partition-incremental sync (moves the
    // wholly-missing days), then the id-level reconciliation (fills the
    // row gaps in mismatched days). The final sink must equal the source —
    // the reference's own acceptance invariant — so per-day counts oracle
    // against the source table directly.
    Query("sync_e2e_counts", (s, dir) => {
      // idx is read lazily by the returned plan, so it outlives the call;
      // the deterministic path bounds residue to one copy, overwritten next run
      val idx = scratchDir("sync_e2e", dir).toString + "/idx"
      val src = events(s, dir)
      EsBulkSink.upsertById(
        sinkState(s, dir).withColumn("__v", lit(0L)), idx, "event_id", "__v")
      graft.sync.IncrementalSync.runPartitionSync(src, idx, "day", "event_id")
      graft.sync.IncrementalSync.reconcileByIds(
        src, s.read.parquet(idx), "day", "event_id", idx, "__v")
      s.read.parquet(idx).groupBy("day").agg(count(lit(1)).as("cnt")).orderBy("day")
    },
      s"SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1"),

    // T1-T5 as an actual Structured Streaming run: file source →
    // watermarked event-time daily window → memory sink, drained by
    // EventStream.runAvailableNow. Bounded input ⇒ the result equals the batch
    // aggregation, so the stream itself is oracle-checkable. (total_value
    // is omitted: streaming state sums doubles in arrival order, which is
    // not hash-stable; counts are.)
    Query("t6_stream_daily_counts", (s, dir) => {
      // fixed sink name: memory-sink registration is createOrReplaceTempView,
      // so repeated runs overwrite one driver-memory table instead of
      // accumulating a new one per invocation
      val name = "t6_daily_counts"
      staged("t6", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.dailyCounts(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", statePartitions = Some(8))
      }
      s.table(name).select("day", "event_type", "cnt").orderBy("day", "event_type")
    },
      s"""SELECT $dayE AS day, event_type, count(*) AS cnt FROM events
            GROUP BY 1, 2 ORDER BY 1, 2"""),

    // T3 as a stream: the source staged TWICE (every row delivered twice —
    // the reference's K2 retry-duplication failure mode), deduped in-flight
    // by watermarked dropDuplicatesWithinWatermark, appended to a memory
    // sink. Daily counts over the deduped stream must equal the source's —
    // delivery is effectively-once despite the duplicate input.
    Query("t8_stream_dedup_counts", (s, dir) => {
      val name = "t8_dedup_rows"
      staged("t8", dir,
          "events.parquet" -> "events_a.parquet", "events.parquet" -> "events_b.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.dedupById(
            graft.streaming.EventStream.readEvents(s, stage), "event_id"),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(8))
      }
      Tables.withDay(s.table(name))
        .groupBy("day").agg(count(lit(1)).as("cnt")).orderBy("day")
    },
      s"SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1"),

    // stream-stream interval join end-to-end: clicks and purchases read as
    // two file-source streams, watermarked, joined on user with a bounded
    // time interval (purchase within 1 h after the click), matches appended
    // to a memory sink. Bounded input drains fully, so per-day match counts
    // oracle against the equivalent batch join.
    Query("t10_stream_interval_join", (s, dir) => {
      val name = "t10_click_purchase"
      staged("t10", dir, "events.parquet" -> "events.parquet") { stage =>
        // two INDEPENDENT file sources on purpose (each join leg keeps its
        // own offsets/state in the checkpoint; reusing one stream would make
        // this a self-join with different bookkeeping)
        val clicks = graft.streaming.EventStream.readEvents(s, stage)
          .filter(col("event_type") === "click")
        val purchases = graft.streaming.EventStream.readEvents(s, stage)
          .filter(col("event_type") === "purchase")
        // 8 state partitions: a stream-stream join maintains FOUR state
        // stores per partition per microbatch; sizing the state partition
        // count to the bounded corpus (instead of inheriting the batch
        // session's 32) cuts per-batch store maintenance 4x. Production
        // sizes this to stream throughput — it is pinned at first start.
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.clickPurchaseJoin(clicks, purchases),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(8))
      }
      s.table(name)
        .select(date_format(col("l_ts"), "yyyy-MM-dd").as("day"))
        .groupBy("day").agg(count(lit(1)).as("cnt"))
        .orderBy("day")
    },
      s"""WITH c AS (SELECT user_id, ts, epoch_ms(ts) AS tms FROM events WHERE event_type = 'click'),
                 p AS (SELECT user_id, epoch_ms(ts) AS tms FROM events WHERE event_type = 'purchase')
            SELECT strftime(c.ts, '%Y-%m-%d') AS day, count(*) AS cnt
            FROM c JOIN p ON c.user_id = p.user_id
              AND p.tms >= c.tms AND p.tms <= c.tms + 3600000
            GROUP BY 1 ORDER BY 1"""),

    // stream-STATIC enrichment join: the event stream joined per microbatch
    // to a static daily-totals dim (batch-computed, re-broadcast each
    // batch, no watermark or join state needed) — the canonical "enrich
    // facts with a dimension" streaming shape the reference's row-level
    // backfill approximates with driver-side lookups
    Query("t11_stream_static_join", (s, dir) => {
      val name = "t11_enriched"
      staged("t11", dir, "events.parquet" -> "events.parquet") { stage =>
        val static = events(s, dir).groupBy("day").agg(count(lit(1)).as("day_total"))
        // one-week slice: bounds the APPEND memory-sink volume (the join
        // itself is stateless and row-rate-bound either way)
        val stream = Tables.withDay(
          graft.streaming.EventStream.readEvents(s, stage))
          .filter(col("day") < "2024-01-08")
        graft.streaming.EventStream.runToMemory(
          stream.join(static, "day") // stream-static inner join: stateless
            .select("day", "event_type", "day_total"),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(8))
      }
      s.table(name)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(col("day_total")).as("sum_day_total"))
        .orderBy("event_type")
    },
      s"""WITH d AS (SELECT $dayE AS day, count(*) AS day_total FROM events GROUP BY 1),
                e AS (SELECT $dayE AS day, event_type FROM events)
            SELECT event_type, count(*) AS cnt,
                   CAST(sum(day_total) AS BIGINT) AS sum_day_total
            FROM e JOIN d USING (day) WHERE day < '2024-01-08'
            GROUP BY event_type ORDER BY event_type"""),

    // foreachBatch + idempotent upsert: the reference's id-keyed bulk
    // upsert (K3) as the SINK of a stream — the source is staged TWICE
    // (duplicate delivery), every microbatch merges last-write-wins by id,
    // and final state equals the distinct source exactly
    Query("t12_foreach_batch_upsert", (s, dir) => {
      // outlives the stage wipe; fresh per run, so stale upsert state from
      // a prior corpus cannot merge in
      val idx = freshPath("t12_idx", dir)
      staged("t12", dir,
          "events.parquet" -> "events_a.parquet", "events.parquet" -> "events_b.parquet") { stage =>
        graft.streaming.EventStream.runForeachBatchUpsert(
          graft.streaming.EventStream.readEvents(s, stage),
          idx, s"$stage/ckpt", "event_id", statePartitions = Some(8))
      }
      Tables.withDay(s.read.parquet(idx))
        .groupBy("day").agg(count(lit(1)).as("cnt"))
        .orderBy("day")
    },
      s"SELECT $dayE AS day, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1"),

    // the custom-state form (flatMapGroupsWithState) of sessionization,
    // driven over the bounded events table: emits only gap-CLOSED sessions
    // (each user's trailing session stays in state — in a stream it closes
    // via timeout). Oracled as "all sessions minus each user's last".
    Query("t7_sessionize_stateful", (s, dir) =>
      graft.streaming.EventStream.sessionize(
        Tables.loadEvents(s, dir).select("user_id", "ts"), gapMs = 3600000L)
        .select(col("user_id"), col("n_events"),
          col("first_ts").as("first_ms"), col("last_ts").as("last_ms"))
        .orderBy("user_id", "first_ms"),
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
             f AS (SELECT user_id, ts_ms,
                     CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL THEN 1
                          WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > 3600000 THEN 1
                          ELSE 0 END AS new_session FROM e),
             g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM f),
             sess AS (SELECT user_id, session_idx, count(*) AS n_events,
                        min(ts_ms) AS first_ms, max(ts_ms) AS last_ms
                      FROM g GROUP BY user_id, session_idx),
             m AS (SELECT *, max(session_idx) OVER (PARTITION BY user_id) AS mx FROM sess)
           SELECT user_id, n_events, first_ms, last_ms
           FROM m WHERE session_idx < mx ORDER BY user_id, first_ms"""),

    // LEFT OUTER stream-stream interval join: unmatched clicks surface
    // with null purchases once the watermark proves no match can arrive.
    // The report is restricted to clicks at least (watermark + interval +
    // 1h slack) below the corpus max event time, so every row is PROVABLY
    // flushed and the batch LEFT JOIN oracle compares boundary-free.
    Query("t14_stream_outer_join", (s, dir) => {
      val name = "t14_click_outer"
      staged("t14", dir, "events.parquet" -> "events.parquet") { stage =>
        val clicks = graft.streaming.EventStream.readEvents(s, stage)
          .filter(col("event_type") === "click")
        val purchases = graft.streaming.EventStream.readEvents(s, stage)
          .filter(col("event_type") === "purchase")
        // 4 state partitions: the outer join flushes its unmatched state
        // through EXTRA no-data microbatches after the data batch (each
        // advancing the watermark), so per-batch state-store maintenance
        // is paid more times than in t10 — halve the partition count
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.clickPurchaseLeftJoin(clicks, purchases),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(4))
      }
      // the global watermark is the MIN across inputs of each stream's own
      // max event time minus the delay — the purchase stream's max, not
      // the corpus max, can be the binding one
      val maxMs = Tables.loadEvents(s, dir)
        .agg(least(
          max(when(col("event_type") === "click", unix_millis(col("ts")))),
          max(when(col("event_type") === "purchase", unix_millis(col("ts"))))).as("m"))
        .head().getLong(0)
      val cutoff = maxMs - (26L * 3600 * 1000) // 1d watermark + 1h interval + 1h slack
      s.table(name)
        .filter(unix_millis(col("l_ts")) < cutoff)
        .groupBy(date_format(col("l_ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_rows"), count(col("purchase_id")).as("n_matched"))
        .orderBy("day")
    },
      """WITH c AS (SELECT user_id, epoch_ms(ts) AS tms, ts FROM events WHERE event_type = 'click'),
                p AS (SELECT user_id, epoch_ms(ts) AS tms, event_id AS purchase_id
                      FROM events WHERE event_type = 'purchase'),
                mx AS (SELECT least(
                         max(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END),
                         max(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)) AS mt
                       FROM events),
                m AS (SELECT c.ts AS cts, c.tms AS ctms, p.purchase_id
                      FROM c LEFT JOIN p ON c.user_id = p.user_id
                        AND p.tms >= c.tms AND p.tms <= c.tms + 3600000)
           SELECT strftime(cts, '%Y-%m-%d') AS day, count(*) AS n_rows,
                  CAST(count(purchase_id) AS BIGINT) AS n_matched
           FROM m, mx WHERE ctms < mt - 93600000
           GROUP BY 1 ORDER BY 1"""),

    // streaming ingest with WRITE-TIME manifest maintenance: each
    // microbatch lands under batch=<id>/ and its per-file min/max stats
    // under _manifest/batch=<id>/ in the same foreachBatch (stats from
    // rows already in memory — zero history rescan; overwrite-by-batch-id
    // keeps replays idempotent, the t12 contract). The report is a
    // manifest-PRUNED read of the layout — k12's pruning fed by
    // incremental stats instead of an after-the-fact scan
    Query("t16_stream_manifest_sink", (s, dir) => {
      // NB: scratchDir and persistentPath share the /tmp/graft_<tag>_<hash>
      // namespace — the stage tag must differ from the layout tag below
      val out = freshPath("t16", dir)
      staged("t16src", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runAvailableNow(
          graft.streaming.EventStream.readEvents(s, stage), s"$stage/ckpt")(
          _.foreachBatch { (b: DataFrame, id: Long) =>
            graft.sources.Manifest.appendBatch(
              b.select(col("event_id"),
                date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value")),
              id, out, Seq("value"))
          })
      }
      val mf = s.read.parquet(s"$out/_manifest")
      graft.sources.Manifest.prunedRead(s, out, mf, "value", 40.0, 60.0)
        .filter(col("value") >= 40.0 && col("value") < 60.0)
        .groupBy("day")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events WHERE value >= 40.0 AND value < 60.0
            GROUP BY 1 ORDER BY 1"""),

    // Event-time-TIMER sessionization (transformWithState + ListState +
    // registerTimer): sessions close when the watermark passes last+gap —
    // deterministic in the data, unlike t7's processing-time timeouts.
    // Report restricted to sessions provably sealed below the final
    // watermark (30 min delay + 1 h gap + 1 h slack under the corpus max),
    // so the batch gaps-and-islands oracle compares boundary-free.
    Query("t15_session_timers", (s, dir) => {
      val name = "t15_sessions"
      staged("t15", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.sessionizeTimers(
            graft.streaming.EventStream.readEvents(s, stage),
            gapMs = 3600000L, delay = "30 minutes"),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(4))
      }
      val maxMs = Tables.loadEvents(s, dir)
        .agg(max(unix_millis(col("ts"))).as("m")).head().getLong(0)
      val cutoff = maxMs - 9000000L // 30 min delay + 1 h gap + 1 h slack
      s.table(name)
        .filter(col("last_ts") < cutoff)
        .select(col("user_id"), col("n_events"),
          col("first_ts").as("first_ms"), col("last_ts").as("last_ms"))
        .orderBy("user_id", "first_ms")
    },
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
             f AS (SELECT user_id, ts_ms,
                     CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL THEN 1
                          WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > 3600000 THEN 1
                          ELSE 0 END AS new_session FROM e),
             g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM f),
             sess AS (SELECT user_id, session_idx, count(*) AS n_events,
                        min(ts_ms) AS first_ms, max(ts_ms) AS last_ms
                      FROM g GROUP BY user_id, session_idx),
             mx AS (SELECT max(ts_ms) AS mt FROM e)
           SELECT user_id, n_events, first_ms, last_ms
           FROM sess, mx WHERE last_ms < mt - 9000000
           ORDER BY user_id, first_ms"""),

    // Spark-4 transformWithState (StatefulProcessor + typed ValueState) —
    // the successor of the t7 legacy state API: per-user running totals
    // emitted per microbatch as an UPDATE stream under the RocksDB state
    // store (which transformWithState requires). The LAST emission per
    // user is the user's total event count — what the oracle checks.
    // (Batch-mode transformWithState is not exercised: Spark 4.1 local
    // mode lacks the StateStoreCoordinator endpoint outside a stream.)
    Query("t13_transform_with_state", (s, dir) => {
      val name = "t13_running_counts"
      staged("t13", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.runningCounts(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", outputMode = "update", statePartitions = Some(8))
      }
      s.table(name).groupBy("user_id").agg(max(col("seen")).as("n_events"))
        .orderBy("user_id")
    },
      """SELECT user_id, count(*) AS n_events FROM events
           GROUP BY user_id ORDER BY user_id"""),

    // Streaming per-day top-3 event types via transformWithState +
    // MapState (EventStream.DayTopKProcessor): running counts per
    // (day, type) in map entries — only TOUCHED entries round-trip the
    // store per batch — with the current top-3 emitted per microbatch.
    // Counts are monotone, so max(cnt) per (day, type) over the update
    // stream recovers the final counts and re-ranking them (cnt desc,
    // type asc — the processor's own tiebreak) IS the final emission,
    // batch-count-robust.
    Query("t17_stream_topk", (s, dir) => {
      val name = "t17_topk"
      staged("t17", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.topKTypesPerDay(
            graft.streaming.EventStream.readEvents(s, stage), k = 3),
          name, s"$stage/ckpt", outputMode = "update", statePartitions = Some(8))
      }
      val fin = s.table(name).groupBy("day", "event_type")
        .agg(max(col("cnt")).as("cnt"))
      fin.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("day")
            .orderBy(col("cnt").desc, col("event_type"))))
        .filter(col("rank") <= 3)
        .select(col("day"), col("rank"), col("event_type"), col("cnt"))
        .orderBy("day", "rank")
    },
      s"""WITH c AS (SELECT $dayE AS day, event_type, count(*) AS cnt
                       FROM events GROUP BY 1, 2),
                 r AS (SELECT *, row_number() OVER (PARTITION BY day
                         ORDER BY cnt DESC, event_type) AS rank FROM c)
           SELECT day, CAST(rank AS INTEGER) AS rank, event_type, cnt
           FROM r WHERE rank <= 3 ORDER BY day, rank"""),

    // Streaming distribution-drift monitor (EventStream.driftMonitor):
    // watermarked 1-day windows count event types (the only event-volume
    // operator), each sealed window flows as O(types) rows into a
    // transformWithState ValueState processor scoring KL/TV against the
    // previous sealed window — the continuous form of x_dist_drift,
    // hash-gated against the same batch arithmetic. The last calendar day
    // never seals (window end > any reachable watermark), so the oracle
    // applies the identical cutoff.
    Query("t18_stream_drift", (s, dir) => {
      val name = "t18_drift"
      staged("t18", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.driftMonitor(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(4))
      }
      s.table(name).select("day", "kl", "tv", "k").orderBy("day")
    },
      // streaming drift = the batch drift rows for every day whose window
      // the watermark can seal: day end (+1 day midnight) at or below
      // max event time minus the 1 h watermark delay
      s"""WITH $driftPairsSql,
                 d AS (SELECT day,
                         CAST(round(sum(CAST(round(p * ln(p / q), 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS kl,
                         CAST(round(sum(CAST(round(abs(p - q) * 0.5, 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS tv,
                         count(*) AS k
                       FROM pq GROUP BY day)
           SELECT day, kl, tv, k FROM d
           WHERE CAST(day AS DATE) + 1 <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
           ORDER BY day"""),

    // continuous conversion funnel — the streaming form of x_event_funnel
    // (EventStream.funnelMonitor): watermarked 1-day windows aggregate
    // per-(day, user) step times (the one event-volume shuffle), the
    // dependent-step HOF math mirrors the batch projection verbatim, and
    // a transformWithState reduce emits one row per sealed day. Last day
    // never seals; the oracle applies the identical watermark cutoff
    // (t18 discipline).
    Query("t19_stream_funnel", (s, dir) => {
      val name = "t19_funnel"
      staged("t19", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.funnelMonitor(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(4))
      }
      s.table(name)
        .select("day", "n_view_users", "n_clicked", "n_converted", "conversion")
        .orderBy("day")
    },
      // streaming funnel = the batch funnel rows for every day the
      // watermark can seal (t18 cutoff)
      s"""WITH $funnelStepsSql
           SELECT v.day, count(*) AS n_view_users,
                  CAST(sum(CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
                  CAST(sum(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                  round(CAST(sum(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 4) AS conversion
           FROM v LEFT JOIN c ON v.day = c.day AND v.user_id = c.user_id
                  LEFT JOIN p ON v.day = p.day AND v.user_id = p.user_id
           WHERE CAST(v.day AS DATE) + 1 <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
           GROUP BY v.day ORDER BY v.day"""),

    // continuous last-touch attribution (streaming form of
    // x_attribution): watermarked day windows collect per-(day, user)
    // events; a per-USER transformWithState walk carries the last
    // view/click across sealed days (ValueState) and credits each
    // purchase within 24 h; the sink rollup to (day, touch_type, share)
    // is metadata-scale. Oracle = the batch attribution SQL with the
    // sealed-day watermark cutoff (t18/t19 discipline).
    Query("t20_stream_attribution", (s, dir) => {
      val name = "t20_attribution"
      staged("t20", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.attributionMonitor(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(4))
      }
      val byDay = s.table(name).groupBy("day", "touch_type").agg(sum(col("n")).as("n"))
      val tot = byDay.select(col("day").as("day2"), col("n"))
        .groupBy("day2").agg(sum(col("n")).as("day_n"))
      byDay.join(tot, col("day") === col("day2"))
        .withColumn("share",
          floor(col("n").cast("double") / col("day_n").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .select("day", "touch_type", "n", "share")
        .orderBy("day", "touch_type")
    },
      // streaming attribution: the batch attribution SQL restricted to
      // SEALED days (window end <= max event time - watermark delay);
      // shares are re-normalized within the sealed-day purchases only
      // (the stream never sees the unsealed tail)
      s"""WITH e AS (SELECT $dayE AS day, user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
                 t AS (SELECT day, user_id, event_type, ms, event_id,
                         max(CASE WHEN event_type IN ('view', 'click')
                             THEN struct_pack(tms := ms, tid := event_id, ttype := event_type) END)
                           OVER (PARTITION BY user_id ORDER BY ms, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
                       FROM e),
                 p AS (SELECT day,
                         CASE WHEN lt IS NULL OR ms - lt.tms > 86400000 THEN 'none'
                              ELSE lt.ttype END AS touch_type
                       FROM t WHERE event_type = 'purchase'
                         AND CAST(day AS DATE) + 1 <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR),
                 bd AS (SELECT day, touch_type, count(*) AS n FROM p GROUP BY 1, 2),
                 tot AS (SELECT day, CAST(sum(n) AS BIGINT) AS day_n FROM bd GROUP BY 1)
            SELECT bd.day, touch_type, n,
                   floor(CAST(n AS DOUBLE) / day_n * 1e4 + 0.5) / 1e4 AS share
            FROM bd JOIN tot USING (day) ORDER BY day, touch_type"""),

    // continuous volume-anomaly monitor (prequential form of
    // x_anomaly_days): sealed day counts per type flow into a running
    // Σc/Σc² ValueState; each day is z-scored against only the days
    // BEFORE it — what an online monitor can know. Oracle replays the
    // cumulative stats with type-partitioned windows + the sealed-day
    // cutoff.
    Query("t21_stream_anomaly", (s, dir) => {
      val name = "t21_anomaly"
      staged("t21", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.anomalyMonitor(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(4))
      }
      s.table(name)
        .select("event_type", "day", "c", "z", "is_anomaly")
        .orderBy("event_type", "day")
    },
      // streaming anomaly: prequential stats via a 1-PRECEDING-bounded
      // type-partitioned cumulative window + the sealed-day cutoff
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                 cum AS (SELECT event_type, day, c,
                           count(*) OVER w AS pn,
                           CAST(sum(c) OVER w AS BIGINT) AS psx,
                           CAST(sum(c * c) OVER w AS BIGINT) AS psxx
                         FROM dc
                         WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
                 v AS (SELECT event_type, day, c, pn,
                         (CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE))
                           / CAST(pn AS DOUBLE) AS variance,
                         CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE) AS mean
                       FROM cum),
                 z AS (SELECT event_type, day, c,
                         floor((CAST(c AS DOUBLE) - mean) / sqrt(variance) * 1e4 + 0.5) / 1e4 AS z
                       FROM v WHERE pn >= 2 AND variance > 0.0
                         AND CAST(day AS DATE) + 1 <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR)
            SELECT event_type, day, c, z, abs(z) >= 2.0 AS is_anomaly
            FROM z ORDER BY event_type, day"""),

    // Checkpoint-recovery restart — the operational property every
    // production stream depends on: run the windowed-count pipeline over
    // the first half-month, STOP, land the second half as new source
    // files, restart from the SAME checkpoint. The file source's
    // checkpointed discovery processes only the new files; the restored
    // window state accumulates into them; update-mode emission plus the
    // id-keyed last-write-wins upsert sink make the two runs' emissions
    // converge to exactly the full batch answer for EVERY window —
    // including the trailing days a watermark-append run would leave
    // unsealed (oracled against the whole events table).
    Query("t23_stream_restart", (s, dir) => {
      val idx = freshPath("t23_idx", dir)
      val withDay = Tables.withDay(Tables.loadEvents(s, dir))
      staged("t23", dir) { stage =>
        val srcDir = s"$stage/events_src"
        def run(): Unit = {
          graft.streaming.EventStream.runForeachBatchUpsert(
            graft.streaming.EventStream.dailyCounts(
              graft.streaming.EventStream.readEvents(s, srcDir))
              .withColumn("id", concat_ws("|", col("day"), col("event_type"))),
            idx, s"$stage/ckpt", "id", statePartitions = Some(8),
            outputMode = "update")
          ()
        }
        withDay.filter(col("day") < "2024-01-16").drop("day")
          .coalesce(2).write.mode("overwrite").parquet(srcDir)
        run() // first run drains half the month, checkpoints, stops
        withDay.filter(col("day") >= "2024-01-16").drop("day")
          .coalesce(2).write.mode("append").parquet(srcDir)
        run() // restart: only the new files are discovered and processed
      }
      s.read.parquet(idx)
        .select(col("day"), col("event_type"), col("cnt"))
        .orderBy("day", "event_type")
    },
      // restart converges to exactly the full-corpus daily counts
      s"""SELECT $dayE AS day, event_type, count(*) AS cnt FROM events
            GROUP BY 1, 2 ORDER BY 1, 2"""),

    // T3 exactly-once under MID-BATCH FAILURE + REPLAY (t23 proves restart
    // recovery; this proves sink idempotence through the replay window):
    // the first run applies batch 0's side-effects fully, then dies before
    // the commit-log write; the restart re-delivers batch 0 with the same
    // batchId. The id-keyed upsert (K3) re-applies the same (id, version)
    // rows and converges — n_rows == n_distinct_ids; the auto-id append
    // (K2, the reference's own duplicate-generation trap) lands a THIRD
    // copy of the corpus (2 source copies + 1 replayed batch), which the
    // oracle pins as exactly 3N. See EventStream.runUpsertReplayInjected.
    Query("t26_stream_replay_exactly_once", (s, dir) => {
      val idx = freshPath("t26_idx", dir)
      val app = freshPath("t26_app", dir)
      staged("t26", dir,
          "events.parquet" -> "events_a.parquet", "events.parquet" -> "events_b.parquet") { stage =>
        graft.streaming.EventStream.runUpsertReplayInjected(
          graft.streaming.EventStream.readEvents(s, stage, maxFilesPerTrigger = Some(1)),
          idx, app, s"$stage/ckpt", "event_id", statePartitions = Some(8))
      }
      def report(path: String, sink: String) =
        s.read.parquet(path).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_ids"))
          .select(lit(sink).as("sink"), col("n_rows"), col("n_ids"),
            (col("n_rows") === col("n_ids")).as("exactly_once"))
      report(app, "append_autoid").unionByName(report(idx, "upsert_by_id"))
        .orderBy("sink")
    },
      // replay arithmetic: 2 source copies + batch 0 re-delivered once =
      // exactly 3N appended rows; the idempotent upsert converges to the
      // distinct-id set no matter how often a batch replays
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n,
                             CAST(count(DISTINCT event_id) AS BIGINT) AS d FROM events)
           SELECT 'append_autoid' AS sink, 3 * n AS n_rows, d AS n_ids, FALSE AS exactly_once FROM n
           UNION ALL
           SELECT 'upsert_by_id' AS sink, d AS n_rows, d AS n_ids, TRUE AS exactly_once FROM n
           ORDER BY sink"""),

    // Streaming DP count release — x_dp_counts as a continuous emission:
    // watermark-sealed daily windows + the stateless md5-seeded Laplace
    // projection, so each sealed (day, type) release is emitted once,
    // already noised, and hash-equals the batch release (same oracle).
    Query("t22_stream_dp", (s, dir) => {
      val name = "t22_dp"
      staged("t22", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.dpRelease(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", statePartitions = Some(8))
      }
      s.table(name).select("day", "event_type", "c", "noise", "released")
        .orderBy("day", "event_type")
    },
      dpCountsSql),

    // Hopping/sliding event-time windows (3-day window, 1-day slide) —
    // the streaming windowing mode t4/t6 (tumbling) and w9 (session)
    // don't cover; see EventStream.slidingCounts. Oracled as each day's
    // events exploded into the three covering epoch-aligned windows,
    // restricted to watermark-sealed windows.
    Query("t25_stream_sliding", (s, dir) => {
      val name = "t25_sliding"
      staged("t25", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.slidingCounts(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(8))
      }
      s.table(name).select("win_start", "win_end", "event_type", "cnt")
        .orderBy("win_start", "event_type")
    },
      // sliding windows: day exploded into its 3 covering windows
      s"""WITH e AS (SELECT CAST($dayE AS DATE) AS day, event_type FROM events),
                mx AS (SELECT max(ts) AS mt FROM events),
                w AS (SELECT day - CAST(o AS INTEGER) AS ws, event_type
                      FROM e, unnest([0, 1, 2]) AS t(o)),
                agg AS (SELECT ws, event_type, count(*) AS cnt FROM w GROUP BY 1, 2)
           SELECT strftime(ws, '%Y-%m-%d') AS win_start,
                  strftime(ws + 3, '%Y-%m-%d') AS win_end,
                  event_type, cnt
           FROM agg, mx
           WHERE CAST(ws AS TIMESTAMP) + INTERVAL 3 DAY <= mt - INTERVAL 1 HOUR
           ORDER BY 1, 3"""),

    // Chained multi-stateful streaming aggregation: daily windowed
    // counts feeding a weekly rollup in ONE streaming query (the
    // window-of-window pipeline — see EventStream.weeklyRollup for the
    // state-size argument). Oracled as the batch weekly rollup
    // restricted to watermark-sealed weeks.
    Query("t24_stream_weekly_rollup", (s, dir) => {
      val name = "t24_weekly"
      staged("t24", dir, "events.parquet" -> "events.parquet") { stage =>
        graft.streaming.EventStream.runToMemory(
          graft.streaming.EventStream.weeklyRollup(
            graft.streaming.EventStream.readEvents(s, stage)),
          name, s"$stage/ckpt", outputMode = "append", statePartitions = Some(8))
      }
      s.table(name).select("week_start", "event_type", "cnt", "peak_daily", "n_days")
        .orderBy("week_start", "event_type")
    },
      // weekly rollup over daily counts, sealed weeks only (epoch-aligned
      // 7-day tumbling: week_start = day − (day − 1970-01-01) mod 7)
      s"""WITH d AS (SELECT $dayE AS day, event_type, count(*) AS c FROM events GROUP BY 1, 2),
                mx AS (SELECT max(ts) AS mt FROM events),
                w AS (SELECT CAST(day AS DATE)
                             - CAST((CAST(day AS DATE) - DATE '1970-01-01') % 7 AS INTEGER) AS ws,
                             event_type, c
                      FROM d)
           SELECT strftime(ws, '%Y-%m-%d') AS week_start, event_type,
                  CAST(sum(c) AS BIGINT) AS cnt, max(c) AS peak_daily,
                  count(*) AS n_days
           FROM w, mx
           WHERE CAST(ws AS TIMESTAMP) + INTERVAL 7 DAY <= mt - INTERVAL 1 HOUR
           GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Spark's BUILT-IN session window (merging event-time sessions with a
    // 1 h inactivity gap) — the native operator form of x_sessionize's
    // manual gaps-and-islands. Boundary semantics: an event exactly gap
    // after the previous one starts a NEW session (session windows are
    // half-open [first, last+gap)), so the oracle's island rule is >= gap.
    Query("w9_session_window", (s, dir) =>
      Tables.loadEvents(s, dir)
        // session over ms-truncated event time: the oracle's island rule
        // works in epoch-ms, and raw micro precision would split/merge
        // sessions differently when a gap is within 1 ms of exactly 1 h
        .groupBy(col("user_id"),
          session_window(timestamp_millis(unix_millis(col("ts"))), "1 hour"))
        .agg(count(lit(1)).as("n_events"), max(unix_millis(col("ts"))).as("last_ms"))
        .select(col("user_id"), unix_millis(col("session_window.start")).as("first_ms"),
          col("last_ms"), col("n_events"))
        .orderBy("user_id", "first_ms"),
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
             f AS (SELECT user_id, ts_ms,
                     CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL THEN 1
                          WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) >= 3600000 THEN 1
                          ELSE 0 END AS new_session FROM e),
             g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM f)
           SELECT user_id, min(ts_ms) AS first_ms, max(ts_ms) AS last_ms, count(*) AS n_events
           FROM g GROUP BY user_id, session_idx ORDER BY user_id, first_ms"""),

    // gaps-and-islands sessionization (lag + cumulative-sum windows);
    // streaming twin with custom state lives in graft.streaming
    Query("x_sessionize", (s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(Tables.loadEvents(s, dir), gapMs = 3600000L)
        .orderBy("user_id", "session_idx"),
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
             f AS (SELECT user_id, ts_ms,
                     CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL THEN 1
                          WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > 3600000 THEN 1
                          ELSE 0 END AS new_session FROM e),
             g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM f)
           SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
                  min(ts_ms) AS first_ms, max(ts_ms) AS last_ms
           FROM g GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""),
  )
}
