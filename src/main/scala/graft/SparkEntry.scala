package graft

import graft.ext.{Decontaminate, Dedup, LinkRank, LmScore, Mixture, Packing, PQ, Scrub, Similarity, Sketches}
import graft.functions.{TextFunctions => TF}
import graft.functions.Quant.{f4, f6, f9, f9d}
import graft.ops.Batching
import graft.ops.Windows.constKey
import graft.queries.{Crawl, Media, Pipeline, Query, Statistics}
import graft.queries.Helpers._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — the query registry: one [[graft.queries.Query]] per
  * implemented operator from SURVEY.md §2 and per north-star extension,
  * its Spark build, DuckDB oracle SQL and (approximate rows only) gate
  * side by side. `queries`, `oracleSql` and `gatedBy` are the driver's
  * views over it. Four family files under `graft/queries` hold their own
  * lists: `Pipeline.scala` the reference pipeline (§2.1–§2.9),
  * `Crawl.scala` the crawl/archive ingest queries (WARC/WAT/WET, CDX,
  * HTTP, PDF, HTML, charsets, robots, sitemaps, URLs and their t27–t29
  * stream twins), `Media.scala` the image/audio/video queries and
  * `Statistics.scala` the statistics/ML queries (tests, effect
  * estimators, forecasts and series diagnostics, model fits and
  * evaluation, distributions, sampling and privacy, clustering and
  * projections). The queries not yet split out by family are
  * [[remaining]], below the oracle fragments they share. The synthetic
  * fixtures several families build on (link graph, planted near-dup
  * corpus, 3-shingle pairs, type×day grid, view→click→purchase funnel)
  * live in [[graft.queries.Helpers]], each Spark builder beside its
  * DuckDB twin.
  *
  * Oracle-parity conventions (driver hash-compares values after sorting
  * columns by name):
  *  - every computed column is aliased identically here and in the SQL;
  *  - every query ends in a deterministic ORDER BY (total order);
  *  - double SUMs go through DECIMAL(18,4) per-row casts so the aggregate
  *    is exact and order-independent, then back to DOUBLE (identical value
  *    in both engines regardless of partitioning / summation order);
  *  - ratios/scores are per-row IEEE double ops (identical in both
  *    engines), rounded to 4 decimals.
  */
object SparkEntry {

  /** Shared 16×64 Rademacher sign matrix (MD5-parity deterministic) for
    * x_rp_project / x_rp_distortion — the same array backs the native
    * expression AND is rendered into the DuckDB oracle as literals.
    */
  private lazy val rpSigns: Array[Double] = graft.functions.RpProject.signMatrix(16, 64)

  /** 2×64 sign matrix for the x_semantic_dedup projection grid (same
    * render-into-oracle discipline as [[rpSigns]]).
    */
  private lazy val rp2Signs: Array[Double] = graft.functions.RpProject.signMatrix(2, 64)

  /** BPE state shared by the three tokenizer entries (x_bpe_merges,
    * x_bpe_encode, x_token_fertility): `Bpe.learn` is deterministic in
    * (dataset, nMerges), the vocab it returns is materialized
    * (localCheckpoint), and a production pipeline trains its tokenizer
    * ONCE and reuses it everywhere — so re-learning per entry would be
    * 3× the training cost for identical state. Keyed by the session
    * object itself (checkpoint blocks die with the session) + dir.
    */
  private val bpeCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.ext.Bpe.Learned]
  private def bpeLearned(s: SparkSession, dir: String): graft.ext.Bpe.Learned =
    bpeCache.getOrElseUpdate((s, dir), {
      val words = t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      graft.ext.Bpe.learn(words, "word", "freq", nMerges = 8)
    })

  /** The shared BM25 corpus-statistics build over `docs` (doc_id, text):
    * (toks, tf, dfreq, stats, qterms) — factored out so the term-profile,
    * expansion/feedback and query-likelihood queries reuse the exact
    * frames the ranker scores with. */
  private def bm25Parts(docs: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toksArr = split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")
    val toks = docs.select(col("doc_id"), toksArr.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
    val tf = toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfreq = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val stats = toks.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // top-20 df terms via TakeOrdered (bounded), then rank the 20-row
    // result (window partitioned by a constant — bounded input)
    val qterms = dfreq.orderBy(col("df").desc, col("term")).limit(20)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(constKey(col("df"))).orderBy(col("df").desc, col("term"))))
      .select(((col("rnk") - 1) % 5).cast("int").as("query_id"), col("term"))
    (toks, tf, dfreq, stats, qterms)
  }

  private def bm25Idf: Column =
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  /** BM25's saturated, length-normalized tf (k1 = 1.2, b = 0.75). */
  private def bm25Tf: Column =
    (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))

  /** BM25 retrieval pipeline shared by x_bm25_search and x_ndcg:
    * 5 data-derived 4-term queries (top-20 df terms round-robin),
    * broadcast query-term probe of the posting lists, round-6 term
    * scores DECIMAL-summed, deterministic (sdec DESC, doc_id) top-10.
    * Returns (query_id, rnk, doc_id, n_terms_matched, sdec).
    */
  private def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val (_, tf, dfreq, stats, qterms) = bm25Parts(t(s, dir, "documents"))
    val perTerm = tf.join(broadcast(qterms), "term")
      .join(dfreq, "term").crossJoin(broadcast(stats))
      .withColumn("ts", round(bm25Idf * bm25Tf, 6).cast("decimal(18,6)"))
    val perDoc = perTerm.groupBy("query_id", "doc_id")
      .agg(sum(col("ts")).as("sdec"), count(lit(1)).as("n_terms_matched"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sdec").desc, col("doc_id"))
    perDoc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
  }

  /** Each cluster's representative: joins `clusters(id, cluster_id)` to
    * the members' `q(id, quality)` and keeps per cluster its size
    * `n_docs`, its best quality and the least id holding it:
    * (cluster_id, n_docs, keep_id, best_quality) by cluster_id.
    */
  private def keepBest(clusters: DataFrame, q: DataFrame): DataFrame = {
    val cq = clusters.join(q, "id")
    val best = cq.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"), max(col("quality")).as("best_quality"))
    cq.join(best, "cluster_id")
      .filter(col("quality") === col("best_quality"))
      .groupBy("cluster_id", "n_docs", "best_quality")
      .agg(min(col("id")).as("keep_id"))
      .select("cluster_id", "n_docs", "keep_id", "best_quality")
      .orderBy("cluster_id")
  }

  /** The oracle side of [[keepBest]] over CTEs `cl(id, cluster_id)` and
    * `q(id, quality)`: CTEs `cq` and `best`, then the final SELECT.
    */
  private val keepBestSql =
    """cq AS (SELECT cl.cluster_id, cl.id, q.quality FROM cl JOIN q USING (id)),
                best AS (SELECT cluster_id, count(*) AS n_docs, max(quality) AS best_quality
                         FROM cq GROUP BY 1)
           SELECT b.cluster_id, b.n_docs, min(cq.id) AS keep_id, b.best_quality
           FROM cq JOIN best b USING (cluster_id) WHERE cq.quality = b.best_quality
           GROUP BY b.cluster_id, b.n_docs, b.best_quality ORDER BY b.cluster_id"""

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a1_daily_counts")(spark, "/root/testdata/sf0.001")

  /** Every query, in family order. Lazy, like the views below: the
    * builds and oracles read the fragments declared further down, which
    * an eager initializer would see as null.
    */
  lazy val registry: Seq[Query] =
    Pipeline.queries ++ Crawl.queries ++ Media.queries ++ Statistics.queries ++ remaining

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** DuckDB-equivalent SQL per query (driver runs these on the same
    * parquet registered as bare table names). Formulations mirror the
    * Spark plans exactly — see conventions in the header.
    */
  lazy val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap

  /** Gate linkage for the deliberate `no_oracle` queries: each maps to
    * the exact-oracled sibling(s) that pin its actual computation.
    * Dumped by [[Verify]] as gated_by.json next to oracle_sql.json so a
    * CORRECTNESS reader sees the coverage without opening NOTES.md.
    */
  lazy val gatedBy: Map[String, String] = registry.flatMap(q => q.gate.map(q.name -> _)).toMap

  // ---------------------------------------------- shared oracle fragments
  // x_bpe_merges: 8 unrolled merge stages. Tokens ride in a chr(1)-
  // wrapped string ("\u0001tok\u0001" concatenated), so one merge is a
  // plain left-to-right replace() of "\u0001l\u0001\u0001r\u0001" with
  // "\u0001lr\u0001" — boundary-safe (tokens never contain chr(1)) and
  // exactly the greedy non-overlapping fold the Spark side applies.
  private[graft] val bpeStage = (i: Int) =>
    s"""p$i AS (SELECT t[i] AS l, t[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
              FROM (SELECT freq, string_split(trim(s, chr(1)), chr(1)||chr(1)) AS t FROM s$i) z,
                   unnest(range(1, len(t))) AS u(i)
              GROUP BY 1, 2),
          m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
          s${i + 1} AS (SELECT word, freq, replace(s, chr(1)||l||chr(1)||chr(1)||r||chr(1),
                               chr(1)||l||r||chr(1)) AS s FROM s$i, m$i)"""
  // shared prefix: vocab + 8 unrolled merge stages (s8 = final token strings)
  private[graft] val bpePrefix =
    s"""w AS (SELECT word, count(*) AS freq
               FROM (SELECT unnest($toksE) AS word FROM documents) GROUP BY word),
          s0 AS (SELECT word, freq, chr(1) || array_to_string(string_split(word, ''), chr(1)||chr(1)) || chr(1) AS s FROM w),
          ${(0 until 8).map(bpeStage).mkString(",\n")}"""
  private[graft] val bpeSql =
    s"""WITH $bpePrefix
         ${(0 until 8).map(i =>
           s"SELECT CAST(${i + 1} AS INTEGER) AS rank, l AS lhs, r AS rhs, l||r AS merged, cnt FROM m$i")
           .mkString("\n UNION ALL ")}
         ORDER BY rank"""
  private[graft] val bpeEncodeSql =
    s"""WITH $bpePrefix,
          enc AS (SELECT word, CAST(len(string_split(trim(s, chr(1)), chr(1)||chr(1))) AS INTEGER) AS n_tok FROM s8),
          dw AS (SELECT doc_id, unnest($toksE) AS word FROM documents)
         SELECT doc_id, count(*) AS n_words, CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
         FROM dw JOIN enc USING (word) GROUP BY doc_id ORDER BY doc_id"""
  // combining marks for the x_nfc_normalize salt (kept out of the
  // triple-quoted SQL, which does not process \u escapes)
  private[graft] val cAcute = "\u0301"
  private[graft] val cGrave = "\u0300"
  private[graft] val cDiaer = "\u0308"
  // x_pagerank: 8 unrolled damped-iteration CTE blocks (DuckDB forbids
  // aggregates in a recursive CTE term). Same algebra as LinkRank:
  // per-edge contributions rounded 12 \u2192 DECIMAL(28,12) sums; dangling
  // mass decimal-summed; 1\u2212d computed (not a literal) so both engines
  // produce the identical IEEE double.
  // x_unigram_tok: 20 unrolled Viterbi stages (one per word position —
  // the UnigramTok.maxWordLen bound). Stage i ranks, per word, every
  // predecessor j in [i-4, i-1] whose piece substr(w, j+1, i-j) is in
  // the vocabulary, by (path DECIMAL sum DESC, piece count, split
  // point) — the exact struct-max ordering of the Spark fold.
  private[graft] val uniDp = (1 to 20).map { i =>
    val branches = (math.max(0, i - 4) until i).map { j =>
      s"SELECT w, s, n, $j AS j FROM udp$j WHERE length(w) >= $i"
    }.mkString(" UNION ALL ")
    s"""udp$i AS MATERIALIZED (SELECT w, s, n FROM (
            SELECT w, s2 AS s, n2 AS n,
                   row_number() OVER (PARTITION BY w ORDER BY s2 DESC, n2 ASC, j ASC) AS rn
            FROM (SELECT u.w, CAST(u.s + v.score AS DECIMAL(18,6)) AS s2, u.n + 1 AS n2, u.j
                  FROM ($branches) u
                  JOIN uvocab v ON v.piece = substr(u.w, u.j + 1, $i - u.j)))
          WHERE rn = 1)"""
  }.mkString(",\n")
  private[graft] val uniWres = (1 to 20).map(l => s"SELECT w, s, n FROM udp$l WHERE length(w) = $l")
    .mkString(" UNION ALL ")
  private[graft] val uniToks =
    "list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), t -> length(t) >= 1 AND length(t) <= 20)"
  // x_absorbing_markov: 16 unrolled truncated-Neumann stages over the
  // type grid — floor-9 per-term decimal sums, floor-9 state updates
  // (the exact trees of the Spark loop)
  private[graft] val amIters = (1 to 16).map { i =>
    s"""am$i AS (SELECT st.state,
              floor((1.0 + coalesce(cb.sv, 0.0)) * 1e9 + 0.5) / 1e9 AS v,
              floor((st.pabs + coalesce(cb.sa, 0.0)) * 1e9 + 0.5) / 1e9 AS a
            FROM sts st LEFT JOIN (
              SELECT q.from_type AS state,
                CAST(sum(CAST(floor(q.p * p.v * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS sv,
                CAST(sum(CAST(floor(q.p * p.a * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9))) AS DOUBLE) AS sa
              FROM q JOIN am${i - 1} p ON q.to_type = p.state GROUP BY 1) cb
            ON st.state = cb.state)"""
  }.mkString(",\n")
  private[graft] val prIters = (1 to 8).map { i =>
    val p = s"p${i - 1}"
    s"""dm$i AS (SELECT coalesce(sum(CAST(p.pr AS DECIMAL(28,12))), 0) AS dm
                   FROM $p p LEFT JOIN deg ON p.node = deg.src WHERE deg.src IS NULL),
          c$i AS (SELECT e.dst AS node, sum(CAST(round(p.pr / deg.deg, 12) AS DECIMAL(28,12))) AS s
                  FROM e JOIN $p p ON e.src = p.node JOIN deg ON e.src = deg.src GROUP BY e.dst),
          p$i AS (SELECT nd.node,
                    round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                      + CAST(0.85 AS DOUBLE) * (coalesce(CAST(c.s AS DOUBLE), 0)
                          + CAST(d.dm AS DOUBLE) / nn.n), 12) AS pr
                  FROM nodes nd CROSS JOIN nn CROSS JOIN dm$i d LEFT JOIN c$i c ON nd.node = c.node)"""
  }.mkString(",\n")
  // x_ppr: the personalized recurrence — restart vector r instead of
  // the uniform base, dangling mass redistributed to r
  private[graft] val pprIters = (1 to 8).map { i =>
    val p = s"p${i - 1}"
    s"""dm$i AS (SELECT coalesce(sum(CAST(p.pr AS DECIMAL(28,12))), 0) AS dm
                   FROM $p p LEFT JOIN deg ON p.node = deg.src WHERE deg.src IS NULL),
          c$i AS (SELECT e.dst AS node, sum(CAST(round(p.pr / deg.deg, 12) AS DECIMAL(28,12))) AS s
                  FROM e JOIN $p p ON e.src = p.node JOIN deg ON e.src = deg.src GROUP BY e.dst),
          p$i AS (SELECT nd.node,
                    round(nd.r * ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                          + CAST(0.85 AS DOUBLE) * CAST(d.dm AS DOUBLE))
                      + CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), 0), 12) AS pr
                  FROM nodesr nd CROSS JOIN dm$i d LEFT JOIN c$i c ON nd.node = c.node)"""
  }.mkString(",\n")
  // x_mmr_rerank: greedy stages 2..5 — max-sim-to-selected, the floor-6
  // MMR rank pick, selection/remainder carry-forward
  private[graft] val mmrStages = (2 to 5).map { i =>
    val p = i - 1
    s"""ms$i AS (SELECT r.query_id, r.neighbor_id, r.rel, max(s.sim) AS msim
                   FROM rem$p r JOIN sel$p x ON r.query_id = x.query_id
                   JOIN msims s ON s.query_id = r.query_id AND s.ca = r.neighbor_id AND s.cb = x.sel_id
                   GROUP BY 1, 2, 3),
          pk$i AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY floor((0.7 * rel - 0.3 * msim) * 1e6 + 0.5) / 1e6 DESC, neighbor_id) AS rk
                   FROM ms$i),
          sel$i AS (SELECT * FROM sel$p UNION ALL
                    SELECT query_id, neighbor_id AS sel_id, $i AS pick FROM pk$i WHERE rk = 1),
          rem$i AS (SELECT r.* FROM rem$p r
                    LEFT JOIN (SELECT query_id, neighbor_id FROM pk$i WHERE rk = 1) x
                      ON r.query_id = x.query_id AND r.neighbor_id = x.neighbor_id
                    WHERE x.query_id IS NULL)"""
  }.mkString(",\n")
  // x_rp_project / x_rp_distortion: the SAME sign matrix the native
  // expression uses, rendered as 16 literal 64-element ±1 lists; each
  // output dim is one in-order list_dot_product / sqrt(16) — the exact
  // op sequence of the RpProject kernel.
  private[graft] val rpSignsLit = (0 until 16).map(j => (0 until 64).map(i =>
    if (rpSigns(j * 64 + i) > 0) "1.0" else "-1.0").mkString("[", ",", "]"))
  private[graft] val rpYSql = (0 until 16).map(j => s"list_dot_product(emb, ${rpSignsLit(j)}) / sqrt(16.0)")
  private[graft] val rp2Lit = (0 until 2).map(j => (0 until 64).map(i =>
    if (rp2Signs(j * 64 + i) > 0) "1.0" else "-1.0").mkString("[", ",", "]"))

  /** The shared BM25 oracle prelude: posting lists, df, the 5 probe
    * queries, round-6 decimal term scores, ranked candidates in
    * `r(query_id, doc_id, sdec, n_terms_matched, rnk)`. `tail` either
    * starts with SELECT or extends the WITH chain with ", cte AS (...)".
    */
  private def bm25Oracle(tail: String): String =
    s"""WITH toks AS (SELECT doc_id,
                        CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS DOUBLE) AS dl,
                        unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
                      FROM documents),
                tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM toks GROUP BY doc_id, term),
                dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
                stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
                          FROM (SELECT DISTINCT doc_id, dl FROM toks)),
                qt AS (SELECT CAST((rnk - 1) % 5 AS INTEGER) AS query_id, term
                       FROM (SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rnk FROM dfreq)
                       WHERE rnk <= 20),
                pt AS (SELECT qt.query_id, tf.doc_id,
                         CAST(round(ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
                           ((tf * CAST(2.2 AS DOUBLE)) /
                            (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))), 6) AS DECIMAL(18,6)) AS ts
                       FROM tf JOIN qt USING (term) JOIN dfreq USING (term) CROSS JOIN stats),
                pd AS (SELECT query_id, doc_id, sum(ts) AS sdec, count(*) AS n_terms_matched
                       FROM pt GROUP BY 1, 2),
                r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sdec DESC, doc_id) AS rnk FROM pd)
       $tail"""


  /** Per-document (doc_id, text, lang_pred) subquery — replace-count marker
    * hits, the same length-difference formula as TextFunctions.langId, so
    * semantics are identical in both engines. Embedded by the x_lang_id and
    * x_lang_quality_agg oracles.
    */
  private def langPredCte: String = {
    def hits(markers: Seq[String]): String =
      markers
        .map(m => s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}")
        .mkString(" + ")
    val en = hits(TF.langMarkers.find(_._1 == "en").get._2)
    val fr = hits(TF.langMarkers.find(_._1 == "fr").get._2)
    val es = hits(TF.langMarkers.find(_._1 == "es").get._2)
    val de = hits(TF.langMarkers.find(_._1 == "de").get._2)
    s"""SELECT doc_id, text,
          CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
               WHEN en_h >= greatest(en_h, fr_h, es_h, de_h) AND en_h > 0 THEN 'en'
               WHEN fr_h >= greatest(en_h, fr_h, es_h, de_h) AND fr_h > 0 THEN 'fr'
               WHEN es_h >= greatest(en_h, fr_h, es_h, de_h) AND es_h > 0 THEN 'es'
               WHEN de_h >= greatest(en_h, fr_h, es_h, de_h) AND de_h > 0 THEN 'de'
               ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, text, $en AS en_h, $fr AS fr_h, $es AS es_h, $de AS de_h
              FROM (SELECT doc_id, text,
                      ' ' || lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) || ' ' AS p
                    FROM documents) d) h"""
  }

  /** The queries not yet moved to a family file. The four approximate
    * rows keep the old gate map's order (x_ann_lsh, x_ann_ivf,
    * x_minhash_lsh, x_simhash_pairs): a 4-entry Map iterates in insertion
    * order, and gated_by.json is written in that order.
    */
  private def remaining: Seq[Query] = Seq(

    // ------------------------------------------------ bench headliners
    // TPC-H Q1-style pricing summary (exercises multi-agg + decimal sums)
    Query("q1_pricing_summary", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          // three-factor product in exact decimal arithmetic: the double
          // product rounds differently across engines at .xxxx5 boundaries
          // round the exact decimal sum to scale 4 BEFORE the double cast:
          // scale-12 decimal→double conversion is 1-ulp engine-dependent,
          // scale-4 (integer/1e4) converts identically everywhere
          round(sum(col("l_extendedprice").cast("decimal(18,4)")
            * (lit(1.0) - col("l_discount")).cast("decimal(9,4)")
            * (lit(1.0) + col("l_tax")).cast("decimal(9,4)")), 4)
            .cast("double").as("sum_charge"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                           * CAST(1.0 - l_discount AS DECIMAL(9,4))
                           * CAST(1.0 + l_tax AS DECIMAL(9,4))), 4) AS DOUBLE) AS sum_charge,
                  count(*) AS cnt
           FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),

    // TPC-H Q5-style deep join: local-supplier revenue per nation within a
    // region and date range — six-table join tree with pushed filters
    Query("q5_local_supplier_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("n_name")
    },
      """SELECT n_name,
                  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                  count(*) AS cnt
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1998-01-01'
           GROUP BY n_name ORDER BY n_name"""),

    // TPC-H Q6-style forecast revenue: pure filter+agg — every predicate
    // reaches the parquet scan (PushedFilters), zero shuffles before the
    // single-row final agg. The plan to beat at 100 TB: scan-bound.
    Query("q6_forecast_revenue", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
        .filter(col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("cnt")),
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                  count(*) AS cnt
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""),

    // TPC-H Q4-style correlated EXISTS: orders with at least one line item
    // shipped after the order date — a left-semi join with a non-equi
    // residual condition, never a per-row subquery
    Query("q4_priority_exists", (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(li, col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
           WHERE EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // TPC-H Q14-style promo revenue share: fact-to-dim broadcast join,
    // conditional aggregate, exact decimal sums feeding one double division
    Query("q14_promo_revenue", (s, dir) => {
      val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      // part scales with the corpus: join strategy left to Catalyst/AQE
      // stats (auto-broadcast at bench scale, shuffle once it outgrows an
      // executor) — forced broadcast hints are reserved for bounded dims
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            dsum(when(col("p_type") === "PROMO", revenue).otherwise(lit(0.0))) /
            dsum(revenue), 4).as("promo_pct"),
          count(lit(1)).as("cnt"))
    },
      """SELECT round(100.0 *
                    CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
                    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
                  4) AS promo_pct,
                  count(*) AS cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey"""),

    // TPC-H Q18-style large orders: aggregate-then-join with a HAVING
    // filter — the groupBy output is tiny, so the join side is pre-shrunk
    // before touching orders/customer
    Query("q18_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"), col("total_qty"))
        .orderBy("o_orderkey")
    },
      """WITH big AS (
             SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150)
           SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od, total_qty
           FROM big JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           ORDER BY o_orderkey"""),

    // star-schema join: revenue per nation (broadcast dims, shuffle fact once)
    Query("q3_star_join_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("n_name")
    },
      """SELECT n_name,
                  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                  count(*) AS cnt
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name ORDER BY n_name"""),

    // TPC-H Q7-style volume shipping: two nation roles on one dim table
    // (aliased broadcast joins), symmetric pair filter, year bucketing
    Query("q7_volume_shipping", (s, dir) => {
      val ns = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val nc = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
        .join(broadcast(nc), col("c_nationkey") === col("c_nk"))
        // parity split (even supplier nations → odd customer nations): a
        // nation-pair predicate that stays non-empty even at sf0.001, where
        // only 10 suppliers exist and their nationkeys are sparse
        .filter(col("s_nk") % 2 === 0 && col("c_nk") % 2 === 1)
        .withColumn("l_year", year(col("l_shipdate")))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                  CAST(extract(year FROM l_shipdate) AS INTEGER) AS l_year,
                  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                  count(*) AS cnt
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ns ON s_nationkey = ns.n_nationkey
           JOIN nation nc ON c_nationkey = nc.n_nationkey
           WHERE ns.n_nationkey % 2 = 0 AND nc.n_nationkey % 2 = 1
           GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // TPC-H Q10-style returned items: top 20 customers by lost revenue in a
    // window — fact filters first, dims joined after, TakeOrderedAndProject
    Query("q10_returned_items", (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20),
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
           GROUP BY c_custkey, c_name, c_acctbal, n_name
           ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    // TPC-H Q13-style customer order distribution: LEFT OUTER join preserved
    // through two aggregation levels (count of counts)
    Query("q13_order_distribution", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      """WITH per AS (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
             GROUP BY c_custkey)
           SELECT c_count, count(*) AS custdist FROM per
           GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),

    // TPC-H Q15-style top supplier: windowed revenue, then suppliers whose
    // revenue equals the global max (scalar-subquery join, broadcast)
    Query("q15_top_supplier", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
        .groupBy("l_suppkey")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue"))
      rev.join(broadcast(rev.agg(max(col("total_revenue")).as("mx"))),
          col("total_revenue") === col("mx"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH rev AS (
             SELECT l_suppkey,
                    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
             FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
             GROUP BY l_suppkey)
           SELECT s_suppkey, s_name, total_revenue
           FROM rev JOIN supplier ON l_suppkey = s_suppkey
           WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
           ORDER BY s_suppkey"""),

    // TPC-H Q17-style small-quantity revenue: correlated per-part average
    // as a groupBy + equi-join, never a per-row subquery
    Query("q17_small_qty_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgq = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(t(s, dir, "part").filter(col("p_brand") === "Brand#23"), // AQE picks the strategy
          col("l_partkey") === col("p_partkey"))
        .join(avgq, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(dsum(col("l_extendedprice")) / lit(7.0), 4).as("avg_yearly"),
          count(lit(1)).as("cnt"))
    },
      """WITH avgq AS (
             SELECT l_partkey,
                    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty
             FROM lineitem GROUP BY l_partkey)
           SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
                  count(*) AS cnt
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN avgq ON lineitem.l_partkey = avgq.l_partkey
           WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty"""),

    // TPC-H Q19-style disjunctive predicates: OR-of-ANDs across fact and
    // dim columns — one scan, the whole disjunction evaluated post-join
    Query("q19_disjunctive_pred", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(p, col("l_partkey") === col("p_partkey")) // AQE picks the strategy
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) && col("l_quantity").between(20, 30)))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("cnt"))
    },
      """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                  count(*) AS cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
              OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
              OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"""),

    // TPC-H Q22-style: customers above the positive-balance average with no
    // RECENT orders — scalar aggregate broadcast + anti-join (nearly every
    // customer has SOME order in this data, so the idle window keeps the
    // predicate non-degenerate)
    Query("q22_idle_customers", (s, dir) => {
      val c = t(s, dir, "customer")
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "2000-01-01").select("o_custkey")
      c.crossJoin(broadcast(avgBal)).filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_mktsegment")
    },
      """WITH avg_bal AS (
             SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS ab
             FROM customer WHERE c_acctbal > 0.0)
           SELECT c_mktsegment, count(*) AS numcust,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
           FROM customer
           WHERE c_acctbal > (SELECT ab FROM avg_bal)
             AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01')
           GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // TPC-H Q8-style national market share: seven-table join (broadcast
    // every dim, shuffle the fact once), then a conditional revenue share
    // per year — the q14 ratio pattern over a two-nation-role join tree
    Query("q8_market_share", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_type") === "ECONOMY").select("p_partkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
      val c = t(s, dir, "customer")
      val cn = t(s, dir, "nation").select(col("n_nationkey").as("cn_nk"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val su = t(s, dir, "supplier")
      val sn = t(s, dir, "nation").select(col("n_nationkey").as("sn_nk"), col("n_name").as("supp_nation"))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      // broadcast() only the BOUNDED dims (nation=25, region=5): part,
      // supplier, customer all scale with the corpus, so their join
      // strategy is left to Catalyst/AQE stats (still broadcast at bench
      // scale, shuffle at 100 TB — a forced hint would OOM the driver)
      li.join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_nk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_nk"))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(
          round(lit(100.0) *
            dsum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0.0))) /
            dsum(rev), 4).as("mkt_share_pct"),
          count(lit(1)).as("cnt"))
        .orderBy("yr")
    },
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                  round(100.0 *
                    CAST(sum(CAST(CASE WHEN sn.n_name = 'NATION_3'
                      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
                    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
                  4) AS mkt_share_pct,
                  count(*) AS cnt
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN region ON cn.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
             AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
           GROUP BY yr ORDER BY yr"""),

    // TPC-H Q9-style profit by supplier nation and year (no partsupp table
    // in this corpus, so supply cost is proxied as 60% of retail price —
    // same operator shape: name-filtered part dim, two fact joins, signed
    // two-term aggregate). All money math in exact decimal: the per-row
    // difference of two products must round identically in both engines.
    Query("q9_product_profit", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
      val su = t(s, dir, "supplier")
      val sn = t(s, dir, "nation").select(col("n_nationkey").as("sn_nk"), col("n_name").as("nation"))
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      val revDec = col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1.0) - col("l_discount")).cast("decimal(9,4)")
      val costDec = col("p_retailprice").cast("decimal(18,4)") *
        col("l_quantity").cast("decimal(9,4)") * lit(0.6).cast("decimal(5,4)")
      // nation broadcast (bounded); part/supplier strategy left to AQE
      li.join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_nk"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("yr"))
        .agg(round(sum(revDec - costDec), 4).cast("double").as("profit"),
          count(lit(1)).as("cnt"))
        .orderBy("nation", "yr")
    },
      """SELECT sn.n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS yr,
                  CAST(round(sum(
                    CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(9,4))
                    - CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(9,4))
                      * CAST(0.6 AS DECIMAL(5,4))), 4) AS DOUBLE) AS profit,
                  count(*) AS cnt
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           JOIN orders ON l_orderkey = o_orderkey
           WHERE contains(p_name, 'widget')
           GROUP BY nation, yr ORDER BY nation, yr"""),

    // TPC-H Q11-style important values: per-part value with a HAVING
    // threshold relative to the GLOBAL total (scalar-aggregate broadcast).
    // The threshold compare is done in exact integer/decimal cross-products
    // (val*n*2 > total*3) — a derived avg would be double division, which
    // rounds engine-dependently.
    Query("q11_important_values", (s, dir) => {
      // cache v: both the global total and the final filter derive from it,
      // and Spark does not reuse non-identical subplans — uncached, the
      // lineitem scan+aggregate runs twice (2x the dominant cost at scale).
      // v is |parts|-sized, so the cache is small; Bench clears it per run.
      val v = CacheScope.cached(t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(dsum(col("l_extendedprice") * col("l_quantity")).as("val")))
      val tot = v.agg(
        sum(col("val").cast("decimal(18,4)")).cast("decimal(28,4)").as("total_val"),
        count(lit(1)).as("n_parts"))
      v.crossJoin(broadcast(tot))
        .filter(col("val").cast("decimal(18,4)") * col("n_parts") * lit(2) >
          col("total_val") * lit(3)) // val > 1.5 * avg, exactly
        .select("l_partkey", "val")
        .orderBy("l_partkey")
    },
      """WITH v AS (
             SELECT l_partkey,
                    CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS val
             FROM lineitem GROUP BY l_partkey),
           tot AS (SELECT CAST(sum(CAST(val AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS total_val,
                          count(*) AS n_parts FROM v)
           SELECT l_partkey, val FROM v, tot
           WHERE CAST(val AS DECIMAL(18,4)) * n_parts * 2 > total_val * 3
           ORDER BY l_partkey"""),

    // TPC-H Q12-style priority-by-shipping-class: the corpus has no
    // l_shipmode, so the class is derived from shipping DELAY (<=30 days
    // from order to ship = FAST) — same operator shape: fact join with a
    // pushed date-range filter and two conditional sums over a CASE bucket
    Query("q12_ship_delay_priority", (s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1998-01-01")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(when(datediff(col("l_shipdate"), col("o_orderdate")) <= 30, "FAST")
          .otherwise("SLOW").as("ship_class"))
        .agg(
          sum(when(hi, 1).otherwise(0)).as("high_line_count"),
          sum(when(hi, 0).otherwise(1)).as("low_line_count"))
        .orderBy("ship_class")
    },
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
                       THEN 'FAST' ELSE 'SLOW' END AS ship_class,
                  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY ship_class ORDER BY ship_class"""),

    // TPC-H Q16-style supplier counts: distinct-count per part attribute
    // triple, minus "complaint" suppliers (negative balance) via a
    // broadcast anti-join ahead of the aggregate
    Query("q16_supplier_cnt", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0).select("s_suppkey")
      li.join(p, col("l_partkey") === col("p_partkey")) // AQE picks broadcast at this SF
        .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    },
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
             AND NOT EXISTS (SELECT 1 FROM supplier
                             WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
           GROUP BY p_brand, p_type, p_size
           ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),

    // TPC-H Q20-style heavy shippers: (supplier, part) pairs whose one-year
    // shipped quantity clears a threshold — pushed date filter, one
    // two-key aggregate, then a broadcast name join; suppliers ranked by
    // how many parts they ship heavily
    Query("q20_heavy_shippers", (s, dir) => {
      val heavy = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 60)
      heavy.groupBy("l_suppkey").agg(count(lit(1)).as("n_heavy_parts"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select("s_name", "n_heavy_parts")
        .orderBy(desc("n_heavy_parts"), col("s_name"))
    },
      """WITH heavy AS (
             SELECT l_suppkey, l_partkey,
                    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
             FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             GROUP BY l_suppkey, l_partkey
             HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 60)
           SELECT s_name, count(*) AS n_heavy_parts
           FROM heavy JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY s_name ORDER BY n_heavy_parts DESC, s_name"""),

    // TPC-H Q21-style sole-failing-supplier: line items flagged R whose
    // order has OTHER suppliers (semi join) but no OTHER failing supplier
    // (anti join) — both joins carry a non-equi residual on suppkey
    Query("q21_sole_failing_supplier", (s, dir) => {
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
      val l1 = l.filter(col("l_returnflag") === "R")
      val l2 = l.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = l.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      l1.join(l2, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"), "left_semi")
        .join(l3, col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"), "left_anti")
        .groupBy("l_suppkey")
        .agg(countDistinct(col("l_orderkey")).as("numwait"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(desc("numwait"), col("s_name"))
    },
      """WITH l AS (SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem)
           SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
           FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
           WHERE l1.l_returnflag = 'R'
             AND EXISTS (SELECT 1 FROM l l2
                         WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             AND NOT EXISTS (SELECT 1 FROM l l3
                             WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                               AND l3.l_returnflag = 'R')
           GROUP BY s_name ORDER BY numwait DESC, s_name"""),

    // TPC-H Q2-flavored argmin join: per part (p_size=10), the supplier with
    // the lowest observed offer price — min-per-group then equality join back,
    // ties broken by lowest suppkey. (Price is compared raw: it's an input
    // double, bit-identical in both engines; a derived ratio would hit
    // engine-dependent rounding at .xxxx5 boundaries.)
    Query("q2_min_price_supplier", (s, dir) => {
      val offers = t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_size") === 10).select("p_partkey"), // AQE picks
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice").as("unit_price"))
      val minp = offers.groupBy(col("l_partkey").as("m_partkey"))
        .agg(min(col("unit_price")).as("min_price"))
      offers.join(minp, col("l_partkey") === col("m_partkey") && col("unit_price") === col("min_price"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(min(col("l_suppkey")).as("s_suppkey"), min(col("min_price")).as("min_price"))
        .orderBy("p_partkey")
    },
      """WITH offers AS (
             SELECT l_partkey, l_suppkey, l_extendedprice AS unit_price
             FROM lineitem JOIN part ON l_partkey = p_partkey
             WHERE p_size = 10),
           minp AS (SELECT l_partkey, min(unit_price) AS min_price FROM offers GROUP BY l_partkey)
           SELECT o.l_partkey AS p_partkey, min(o.l_suppkey) AS s_suppkey, min(m.min_price) AS min_price
           FROM offers o JOIN minp m ON o.l_partkey = m.l_partkey AND o.unit_price = m.min_price
           GROUP BY o.l_partkey ORDER BY p_partkey"""),

    // cross join (the one join type the reference never needs): all region
    // pairs — tiny dims only; a guard rail example, not a scale pattern
    Query("j11_cross_pairs", (s, dir) =>
      t(s, dir, "region").select(col("r_name").as("r_a"))
        .crossJoin(t(s, dir, "region").select(col("r_name").as("r_b")))
        .orderBy("r_a", "r_b"),
      """SELECT a.r_name AS r_a, b.r_name AS r_b
           FROM region a CROSS JOIN region b ORDER BY r_a, r_b"""),

    // offset pagination (the ORDER BY ... LIMIT ... OFFSET form of O2's
    // keyset pagination — exercises Dataset.offset)
    Query("o3_limit_offset", (s, dir) =>
      events(s, dir).select("event_id", "event_type", "day")
        .orderBy("event_id").offset(500).limit(100),
      s"""SELECT event_id, event_type, $dayE AS day FROM events
            ORDER BY event_id LIMIT 100 OFFSET 500"""),

    // INTERSECT (distinct set semantics): days that saw clicks AND errors
    Query("o5_intersect_days", (s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "click").select("day")
        .intersect(e.filter(col("event_type") === "error").select("day"))
        .orderBy("day")
    },
      s"""SELECT $dayE AS day FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT $dayE AS day FROM events WHERE event_type = 'error'
            ORDER BY day"""),

    // EXCEPT (distinct set semantics): the J1 missing-partition diff as a
    // set operation — source days the sink state lacks
    Query("o6_except_days", (s, dir) =>
      events(s, dir).select("day")
        .except(sinkState(s, dir).select("day"))
        .orderBy("day"),
      s"""SELECT $dayE AS day FROM events
            EXCEPT
            SELECT day FROM ($sinkSql)
            ORDER BY day"""),

    // explicit GROUPING SETS (the general form behind a8/a10): day totals
    // and type totals in one pass plus the grand total
    Query("a13_grouping_sets", (s, dir) => {
      events(s, dir).createOrReplaceTempView("events_with_day")
      s.sql("""SELECT coalesce(day, 'ALL') AS day, coalesce(event_type, 'ALL') AS event_type,
                      count(*) AS cnt
               FROM events_with_day
               GROUP BY GROUPING SETS ((day), (event_type), ())
               ORDER BY day, event_type""")
    },
      s"""SELECT coalesce($dayE, 'ALL') AS day, coalesce(event_type, 'ALL') AS event_type,
                   count(*) AS cnt
            FROM events
            GROUP BY GROUPING SETS (($dayE), (event_type), ())
            ORDER BY day, event_type"""),

    // fixed-width histogram of a measure (bucketed aggregation)
    Query("a14_value_histogram", (s, dir) =>
      events(s, dir)
        .select(floor(col("value") / lit(25.0)).cast("long").as("bucket"), col("value"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("bucket"),
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket, count(*) AS cnt,
                  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
           FROM events GROUP BY 1 ORDER BY 1"""),

    // lag/lead analytics: per-user inter-event gap and next event type
    Query("w6_lag_lead", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      Tables.loadEvents(s, dir)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"), col("event_type"))
        .withColumn("gap_ms", coalesce(col("ts_ms") - lag(col("ts_ms"), 1).over(w), lit(-1L)))
        .withColumn("next_type", coalesce(lead(col("event_type"), 1).over(w), lit("NONE")))
        .select("event_id", "user_id", "gap_ms", "next_type")
        .orderBy("event_id")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events)
           SELECT event_id, user_id,
                  coalesce(ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id), -1) AS gap_ms,
                  coalesce(lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id), 'NONE') AS next_type
           FROM e ORDER BY event_id"""),

    // frame-positional window battery: first/last/nth value over an
    // explicit unbounded frame (total order inside each partition — frame
    // semantics, not ranking, which w3/w7/w8 already cover)
    Query("w10_frame_battery", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.loadEvents(s, dir).filter(col("user_id") < 100)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"), col("value"))
        .withColumn("fv", first(col("value")).over(w))
        .withColumn("lv", last(col("value")).over(w))
        .withColumn("nv", coalesce(nth_value(col("value"), 2).over(w), lit(-1.0)))
        .select("event_id", "user_id", "fv", "lv", "nv")
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
                  first_value(value) OVER w AS fv,
                  last_value(value) OVER w AS lv,
                  coalesce(nth_value(value, 2) OVER w, -1.0) AS nv
           FROM events WHERE user_id < 100
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           ORDER BY event_id"""),

    // RANGE-frame window: per-user trailing 1-hour sum of value — a
    // value-based (not row-count) frame over event-time millis, summed in
    // exact decimal so the frame's accumulation order can't matter
    Query("w11_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
        .rangeBetween(-3600000L, Window.currentRow)
      Tables.loadEvents(s, dir).filter(col("user_id") < 100)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"), col("value"))
        .withColumn("trail_1h",
          sum(col("value").cast("decimal(18,4)")).over(w).cast("double"))
        .select("event_id", "user_id", "trail_1h")
        .orderBy("event_id")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
                      FROM events WHERE user_id < 100)
           SELECT event_id, user_id,
                  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
                    PARTITION BY user_id ORDER BY ts_ms
                    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail_1h
           FROM e ORDER BY event_id"""),

    // the remaining rank-function battery: dense_rank / cume_dist /
    // first_value / last_value over the per-type daily-count grid
    // (w7 ntile, w8 percent_rank cover the rest of the family)
    Query("w12_rank_battery", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy(col("c"), col("day"))
      val wf = Window.partitionBy("event_type").orderBy(col("c"), col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      dc.select(col("event_type"), col("day"), col("c"),
          dense_rank().over(w).as("drnk"),
          (floor(cume_dist().over(w) * lit(1e6) + lit(0.5)) / lit(1e6)).as("cume"),
          first(col("day")).over(wf).as("quietest_day"),
          last(col("day")).over(wf).as("busiest_day"))
        .orderBy("event_type", "day")
    },
      // w12: dense_rank / cume_dist / full-frame first+last over the
      // per-type daily grid
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2)
            SELECT event_type, day, c,
                   dense_rank() OVER w AS drnk,
                   floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cume,
                   first_value(day) OVER wf AS quietest_day,
                   last_value(day) OVER wf AS busiest_day
            FROM dc
            WINDOW w AS (PARTITION BY event_type ORDER BY c, day),
                   wf AS (PARTITION BY event_type ORDER BY c, day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY event_type, day"""),

    // ntile bucketing: account-balance quartiles within each market segment
    Query("w7_ntile_quartiles", (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("quartile", ntile(4).over(w))
        .groupBy("c_mktsegment", "quartile")
        .agg(count(lit(1)).as("cnt"),
          round(min(col("c_acctbal")), 4).as("min_bal"),
          round(max(col("c_acctbal")), 4).as("max_bal"))
        .orderBy("c_mktsegment", "quartile")
    },
      """WITH q AS (SELECT c_mktsegment, c_acctbal,
                        ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
                      FROM customer)
           SELECT c_mktsegment, CAST(quartile AS INTEGER) AS quartile, count(*) AS cnt,
                  round(min(c_acctbal), 4) AS min_bal, round(max(c_acctbal), 4) AS max_bal
           FROM q GROUP BY c_mktsegment, quartile ORDER BY c_mktsegment, quartile"""),

    // calendar decomposition: orders per (year, quarter, month)
    Query("f4_date_parts", (s, dir) =>
      t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"), col("o_totalprice"))
        .groupBy("y", "q", "m")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
        .orderBy("y", "q", "m"),
      """SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS y,
                  CAST(extract(quarter FROM o_orderdate) AS INTEGER) AS q,
                  CAST(extract(month FROM o_orderdate) AS INTEGER) AS m,
                  count(*) AS cnt,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
           FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // date-ARITHMETIC battery (f4 extracts parts; this computes with
    // them): ISO week start / week number, month end, calendar-clamped
    // add-month (Jan 31 + 1m = Feb 29), day diffs — the calendar ops an
    // incremental-sync window planner leans on, pinned cross-engine
    Query("f12_date_battery", (s, dir) =>
      events(s, dir).select(to_date(col("day")).as("d")).distinct()
        .select(col("d"),
          date_trunc("week", col("d")).cast("date").as("week_start"),
          last_day(col("d")).as("month_end"),
          add_months(col("d"), 1).as("plus_month"),
          weekofyear(col("d")).as("iso_week"),
          quarter(col("d")).as("qtr"),
          datediff(col("d"), to_date(lit("2024-01-01"))).as("days_since"))
        .orderBy("d"),
      // f12: both engines' week truncation is ISO-Monday; +INTERVAL
      // clamps like add_months; weekofyear is ISO in both
      s"""WITH dd AS (SELECT DISTINCT CAST($dayE AS DATE) AS d FROM events)
            SELECT d,
                   CAST(date_trunc('week', d) AS DATE) AS week_start,
                   last_day(d) AS month_end,
                   CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_month,
                   CAST(weekofyear(d) AS INTEGER) AS iso_week,
                   CAST(quarter(d) AS INTEGER) AS qtr,
                   CAST(datediff('day', DATE '2024-01-01', d) AS INTEGER) AS days_since
            FROM dd ORDER BY d"""),

    // string-function battery: case, substring, pad, replace, concat
    Query("f5_string_funcs", (s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") < 100)
        .select(
          col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_up"),
          substring(col("c_name"), 10, 9).as("digits"),
          concat_ws("-", col("c_mktsegment"), col("c_nationkey").cast("string")).as("tag"),
          regexp_replace(col("c_name"), "Customer#", "C-").as("short_name"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          length(col("c_name")).as("name_len"))
        .orderBy("c_custkey"),
      """SELECT c_custkey,
                  upper(c_mktsegment) AS seg_up,
                  substring(c_name, 10, 9) AS digits,
                  concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS tag,
                  regexp_replace(c_name, 'Customer#', 'C-', 'g') AS short_name,
                  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
                  CAST(length(c_name) AS INTEGER) AS name_len
           FROM customer WHERE c_custkey < 100 ORDER BY c_custkey"""),

    // JSON extraction from the raw props payload (schema-on-read over a
    // semi-structured column)
    // Spark 4 VARIANT ingestion — parse the props JSON ONCE into the
    // binary variant encoding and extract with variant_get (the
    // schema-on-read path for semi-structured columns at scan time; the
    // string-re-parse form is f6_json_extract). Aggregates over the
    // extracted field prove the typed round-trip.
    Query("f11_variant_agg", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      // Variant ingestion: same typed extraction via DuckDB JSON
      """SELECT event_type, count(*) AS n,
                  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
                  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
                  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
           FROM events GROUP BY 1 ORDER BY 1"""),

    // PERMISSIVE corrupt-record accounting — the malformed-input
    // resilience every large-scale ingest needs: stage an NDJSON export
    // with every 13th line deterministically mangled, read it back with
    // an explicit schema + _corrupt_record, and account good rows per
    // type vs corrupt rows. The corrupt line count is an exact
    // derivation from the source (event_id % 13), so the oracle needs no
    // access to the staged file.
    Query("s10_corrupt_records", (s, dir) => {
      val stage = scratchDir("s10", dir).toString
      val src = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), to_json(struct(
          col("event_id"), col("event_type"), col("value"))).as("line"))
        .select(when(col("event_id") % 13 === 0, concat(lit("{oops "), col("line")))
          .otherwise(col("line")).as("value"))
      src.coalesce(4).write.mode("overwrite").text(s"$stage/ndjson")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$stage/ndjson")
        .select(when(col("_corrupt_record").isNotNull, lit("_CORRUPT"))
          .otherwise(col("event_type")).as("event_type"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      // Corrupt-record accounting: the mangled-line set is event_id % 13
      // by construction
      """SELECT CASE WHEN event_id % 13 = 0 THEN '_CORRUPT' ELSE event_type END AS event_type,
                  count(*) AS n
           FROM events GROUP BY 1 ORDER BY 1"""),

    Query("f6_json_extract", (s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          coalesce(get_json_object(col("props"), "$.k").try_cast("int"), lit(-1)).as("k_int"))
        .orderBy("event_id"),
      """SELECT event_id,
                  json_extract_string(props, '$.k') AS k_str,
                  coalesce(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), -1) AS k_int
           FROM events ORDER BY event_id"""),

    // array-function battery over tokenized text: size, membership, slice,
    // distinct+sort, negative indexing — the ArrayType surface the
    // embeddings/documents extensions rest on
    // ANSI error-safety battery: Spark 4 runs ANSI mode, where /0, bad
    // casts, and out-of-bounds element_at THROW — the try_* family is the
    // lenient-per-row form (the reference's per-field try/except coercion,
    // data-s3-elastic-transfer.py:174-184, done declaratively)
    Query("f10_try_funcs", (s, dir) =>
      events(s, dir).select(
        col("event_id"),
        expr("try_divide(value, cast(event_id % 5 as double))").as("safe_div"),
        expr("try_cast(CASE WHEN event_id % 3 = 0 THEN cast(event_id AS STRING) " +
          "ELSE event_type END AS BIGINT)").as("parsed"),
        expr("try_element_at(split(day, '-'), cast(event_id % 4 + 1 as int))").as("day_part"))
        .orderBy("event_id"),
      s"""SELECT event_id,
                   value / nullif(CAST(event_id % 5 AS DOUBLE), 0.0) AS safe_div,
                   TRY_CAST(CASE WHEN event_id % 3 = 0 THEN CAST(event_id AS VARCHAR)
                            ELSE event_type END AS BIGINT) AS parsed,
                   (string_split($dayE, '-'))[CAST(event_id % 4 + 1 AS INTEGER)] AS day_part
            FROM events ORDER BY event_id"""),

    // regex battery: anchored group extraction, character-class strip,
    // boolean match, fixed-pattern occurrence count — all codegen'd
    // string expressions over the documents table
    Query("f9_regex_battery", (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
          length(regexp_replace(col("text"), "[^aeiou]", "")).as("n_vowels"),
          col("text").rlike("data").as("mentions_data"),
          ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
            .cast("int").as("n_the"))
        .orderBy("doc_id"),
      """SELECT doc_id,
                  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
                  CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS INTEGER) AS n_vowels,
                  regexp_matches(text, 'data') AS mentions_data,
                  CAST((length(text) - length(regexp_replace(text, 'the', '', 'g'))) / 3 AS INTEGER) AS n_the
           FROM documents ORDER BY doc_id"""),

    Query("f8_array_funcs", (s, dir) => {
      val toks = split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(
          col("doc_id"),
          size(toks).as("n"),
          array_contains(toks, "the").as("has_the"),
          concat_ws("|", slice(toks, 1, 5)).as("first5"),
          concat_ws("|", sort_array(array_distinct(toks))).as("sorted_distinct"),
          element_at(toks, -1).as("last_tok"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
                   CAST(len($toksE) AS INTEGER) AS n,
                   list_contains($toksE, 'the') AS has_the,
                   array_to_string(($toksE)[1:5], '|') AS first5,
                   array_to_string(list_sort(list_distinct($toksE)), '|') AS sorted_distinct,
                   ($toksE)[-1] AS last_tok
            FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),

    // ------------------------------------------- LLM-pipeline extensions
    Query("x_token_count", (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, CAST(len($toksE) AS INTEGER) AS n_tokens,
                   CAST(len(regexp_extract_all(trim(regexp_replace(text, '\\s+', ' ', 'g')),
                     '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_subwords
            FROM documents ORDER BY doc_id"""),

    // Sentence segmentation stats — the sentence-level member of the
    // quality battery (Gopher rules are word/char level): sentence
    // count = terminal-punctuation runs [.!?]+ (min 1 — an unpunctuated
    // doc is one sentence), mean words/sentence from the token count.
    // Pure scan-fused projections, codegen end to end, no shuffle.
    Query("x_sentence_stats", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
            .as("n_sentences"),
          TF.tokenCount(col("text")).as("n_tokens"))
        .withColumn("avg_sentence_len",
          floor(col("n_tokens").cast("double") / col("n_sentences").cast("double")
            * lit(1e4) + lit(0.5)) / lit(1e4))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
                   greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS INTEGER), 1) AS n_sentences,
                   CAST(len($toksE) AS INTEGER) AS n_tokens,
                   floor(CAST(len($toksE) AS DOUBLE)
                     / greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS INTEGER), 1)
                     * 1e4 + 0.5) / 1e4 AS avg_sentence_len
            FROM documents ORDER BY doc_id"""),

    // BPE merge discovery (graft.ext.Bpe): 8 greedy merges learned from
    // the word-frequency table — corpus-scale cost is the ONE word count,
    // every merge iteration is an aggregation over the bounded vocabulary.
    // Oracle is 8 unrolled DuckDB stages folding each merge by separator-
    // safe string replacement (chr(1)-wrapped tokens)
    Query("x_bpe_merges", (s, dir) => {
      import s.implicits._
      bpeLearned(s, dir).merges.toDF("rank", "lhs", "rhs", "merged", "cnt").orderBy("rank")
    },
      bpeSql),

    // BPE applied (graft.ext.Bpe.encodeTokenCounts): per-doc word and BPE
    // token counts after the 8 learned merges — the vocabulary is encoded
    // ONCE and broadcast; the corpus pass is explode + equi-join + re-agg,
    // the folds never run per corpus row
    Query("x_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Bpe.encodeTokenCounts(docs, "doc_id", TF.tokens(col("text")), bpeLearned(s, dir))
        .orderBy("doc_id")
    },
      bpeEncodeSql),

    // T5-style span corruption (graft.ext.Denoise): ~15% of each doc's
    // tokens chosen as length-3 spans via per-(doc, span) LCG offsets —
    // pure projection, reproducible across engines/partitionings; spans
    // collapse to sentinels in `corrupted`, removed text lands in `targets`
    Query("x_span_corruption", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id") +:
          graft.ext.Denoise.spanCorrupt(col("doc_id"), TF.tokens(col("text"))): _*)
        .orderBy("doc_id"),
      // span arithmetic mirrored operation-for-operation (double division +
      // floor in both engines; LCG mod chain on positive operands)
      s"""WITH d AS (SELECT doc_id, $toksE AS t FROM documents),
                p AS (SELECT doc_id, t, len(t) AS n,
                        CAST(floor(len(t) * 0.15 / 3) AS INTEGER) AS k FROM d),
                q AS (SELECT *, CASE WHEN k > 0 THEN CAST(floor(n / k) AS BIGINT)
                                     ELSE 9223372036854775807 END AS s FROM p)
           SELECT doc_id, CAST(n AS INTEGER) AS n_tokens, k AS n_spans,
                  array_to_string(list_filter(list_transform(range(0, n), p2 ->
                    CASE WHEN NOT (CAST(floor(p2 / s) AS BIGINT) < k
                               AND p2 >= CAST(floor(p2 / s) AS BIGINT) * s
                                   + ((doc_id * 1103515245 + (CAST(floor(p2 / s) AS BIGINT) + 1) * 12345) % 1000000007) % (s - 3 + 1)
                               AND p2 < CAST(floor(p2 / s) AS BIGINT) * s
                                   + ((doc_id * 1103515245 + (CAST(floor(p2 / s) AS BIGINT) + 1) * 12345) % 1000000007) % (s - 3 + 1) + 3)
                         THEN t[CAST(p2 AS INTEGER) + 1]
                         WHEN p2 = CAST(floor(p2 / s) AS BIGINT) * s
                                   + ((doc_id * 1103515245 + (CAST(floor(p2 / s) AS BIGINT) + 1) * 12345) % 1000000007) % (s - 3 + 1)
                         THEN '<extra_id_' || CAST(CAST(floor(p2 / s) AS INTEGER) AS VARCHAR) || '>'
                         ELSE '' END), x -> x <> ''), ' ') AS corrupted,
                  CASE WHEN k > 0 THEN array_to_string(list_transform(range(0, CAST(k AS BIGINT)), j ->
                    '<extra_id_' || CAST(CAST(j AS INTEGER) AS VARCHAR) || '> ' ||
                    array_to_string(list_slice(t,
                      CAST(j * s + ((doc_id * 1103515245 + (j + 1) * 12345) % 1000000007) % (s - 3 + 1) AS INTEGER) + 1,
                      CAST(j * s + ((doc_id * 1103515245 + (j + 1) * 12345) % 1000000007) % (s - 3 + 1) AS INTEGER) + 3), ' ')), ' ')
                       ELSE '' END AS targets
           FROM q ORDER BY doc_id"""),

    Query("x_quality_score", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("len"),
        round(TF.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TF.stopwordRatio(col("text")), 4).as("stop_ratio"),
        TF.qualityScore(col("text")).as("quality")
      ).orderBy("doc_id"),
      s"""SELECT doc_id, CAST(length(text) AS INTEGER) AS len,
                   round(CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END, 4) AS punct_ratio,
                   round(CASE WHEN len($toksE) = 0 THEN 0.0
                     ELSE CAST(len(list_filter($toksE, t -> list_contains($stopList, t))) AS DOUBLE) / len($toksE) END, 4) AS stop_ratio,
                   $qualityE AS quality
            FROM documents ORDER BY doc_id"""),

    // SKYLINE (Pareto-front) operator — the multi-objective selection
    // primitive the engine lacked: docs maximizing quality while
    // minimizing token count, with no other doc better-or-equal on both
    // and strictly better on one. Scale shape: a doc is dominated iff
    // max-quality over docs with STRICTLY fewer tokens ≥ its quality,
    // or a same-token doc has strictly higher quality — decomposed as
    // (1) a per-64-token-BUCKET best table (bounded grid; its prefix
    // window runs over buckets, not docs) broadcast back, (2) a
    // within-bucket range-frame running max, (3) a per-(bucket, tokens)
    // tie max. No global window over corpus rows, no self-join; the
    // oracle is the brute NOT-EXISTS dominance test.
    Query("x_skyline", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        TF.qualityScore(col("text")).as("quality"))
        .withColumn("bucket", floor(col("n_tokens") / lit(64)))
      val bmax = d.groupBy("bucket").agg(max(col("quality")).as("bq"))
      val wb = Window.partitionBy(constKey(col("bucket"))).orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
      val bpre = bmax.withColumn("lower_best", max(col("bq")).over(wb))
        .select(col("bucket"), col("lower_best"))
      val wlt = Window.partitionBy("bucket").orderBy(col("n_tokens"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val weq = Window.partitionBy("bucket", "n_tokens")
      d.join(broadcast(bpre), "bucket")
        .withColumn("lt_best", greatest(
          coalesce(max(col("quality")).over(wlt), lit(-1.0)),
          coalesce(col("lower_best"), lit(-1.0))))
        .withColumn("eq_best", max(col("quality")).over(weq))
        .filter(col("lt_best") < col("quality") && col("eq_best") <= col("quality"))
        .select("doc_id", "n_tokens", "quality")
        .orderBy("n_tokens", "doc_id")
    },
      // skyline: brute NOT-EXISTS dominance — the semantics the bucket
      // decomposition must reproduce exactly
      s"""WITH d AS (SELECT doc_id, CAST(len($toksE) AS INTEGER) AS n_tokens,
                              $qualityE AS quality
                       FROM documents)
            SELECT doc_id, n_tokens, quality FROM d a
            WHERE NOT EXISTS (SELECT 1 FROM d o
              WHERE o.n_tokens <= a.n_tokens AND o.quality >= a.quality
                AND (o.n_tokens < a.n_tokens OR o.quality > a.quality))
            ORDER BY n_tokens, doc_id"""),

    // encoding-damage battery (mojibake/controls/replacement-char
    // detection — the ingest-time screen a web corpus runs before any
    // text op): pure scan-fused projection of portable-regex counts.
    // n_nonascii/ascii_ratio profile the multilingual mix; n_repl
    // (U+FFFD), n_ctrl (C0/C1 minus tab/newline/CR) and n_moji (the
    // Ã/Â-prefixed UTF-8-as-Latin-1 double-encoding bigram) pin the
    // damage axes — zero on this clean corpus, and the ZERO is the claim
    // the oracle checks.
    Query("x_mojibake", (s, dir) => {
      def cnt(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("len"),
        cnt("[^\\x00-\\x7F]").as("n_nonascii"),
        // nullif guard: an empty doc yields NULL in BOTH engines (Spark's
        // non-ANSI 0/0 is NULL, DuckDB float 0/0 would be NaN)
        round(cnt("[^\\x00-\\x7F]").cast("double")
            / nullif(length(col("text")), lit(0)), 4)
          .as("nonascii_ratio"),
        cnt("�").as("n_repl"),
        cnt("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]").as("n_ctrl"),
        cnt("[ÃÂ][\\x80-\\xBF]").as("n_moji"))
        .orderBy("doc_id")
    },
      // mojibake battery: same portable regex classes (RE2 and Java agree
      // on \xNN code-point classes); the clean-corpus ZEROs on
      // repl/ctrl/moji are the pinned claim
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS len,
                  CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS INTEGER) AS n_nonascii,
                  round(CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS DOUBLE)
                    / nullif(length(text), 0), 4) AS nonascii_ratio,
                  CAST(len(regexp_extract_all(text, '�')) AS INTEGER) AS n_repl,
                  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS INTEGER) AS n_ctrl,
                  CAST(len(regexp_extract_all(text, '[ÃÂ][\x80-\xBF]')) AS INTEGER) AS n_moji
           FROM documents ORDER BY doc_id"""),

    // data-constrained epoch schedule (repetition planning for a token
    // budget): sqrt-temperature weights over per-source token counts,
    // budget T = 2× corpus tokens, epochs = min(4, T·w / n) — how many
    // times each source repeats before the 4-epoch value cliff. Exact
    // discipline: integer token counts; each sqrt rounded to 6 and
    // DECIMAL-summed (order-independent); double chain mirrored in the
    // oracle op-for-op.
    Query("x_epoch_schedule", (s, dir) => {
      val src = t(s, dir, "documents")
        .select(col("source"), size(TF.tokens(col("text"))).as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("n_tokens"))
        .withColumn("rs", round(sqrt(col("n_tokens").cast("double")), 6)
          .cast("decimal(18,6)"))
      val tot = src.agg(
        sum(col("rs")).as("sum_rs"), sum(col("n_tokens")).as("sum_n"))
      src.crossJoin(broadcast(tot))
        .withColumn("w", col("rs").cast("double") / col("sum_rs").cast("double"))
        .withColumn("epochs", round(least(
          (lit(2.0) * col("sum_n").cast("double")) * col("w") / col("n_tokens").cast("double"),
          lit(4.0)), 4))
        .select(col("source"), col("n_tokens"), round(col("w"), 6).as("weight"),
          col("epochs"), (col("epochs") > 1.0).as("repeated"))
        .orderBy("source")
    },
      // epoch schedule: sqrt rounded 6 → DECIMAL sum (order-independent);
      // the epochs double chain mirrors the Spark op order exactly and
      // uses the UNROUNDED weight
      s"""WITH src AS (SELECT source, CAST(sum(len($toksE)) AS BIGINT) AS n_tokens
                         FROM documents GROUP BY source),
                 s2 AS (SELECT source, n_tokens,
                          CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS rs
                        FROM src),
                 tot AS (SELECT CAST(sum(rs) AS DECIMAL(28,6)) AS sum_rs,
                           CAST(sum(n_tokens) AS BIGINT) AS sum_n FROM s2)
           SELECT source, n_tokens,
                  round(CAST(rs AS DOUBLE) / CAST(sum_rs AS DOUBLE), 6) AS weight,
                  round(least((2.0 * CAST(sum_n AS DOUBLE))
                      * (CAST(rs AS DOUBLE) / CAST(sum_rs AS DOUBLE))
                      / CAST(n_tokens AS DOUBLE), 4.0), 4) AS epochs,
                  (round(least((2.0 * CAST(sum_n AS DOUBLE))
                      * (CAST(rs AS DOUBLE) / CAST(sum_rs AS DOUBLE))
                      / CAST(n_tokens AS DOUBLE), 4.0), 4) > 1.0) AS repeated
           FROM s2, tot ORDER BY source"""),

    Query("x_lang_id", (s, dir) =>
      TF.withLangId(t(s, dir, "documents").select("doc_id", "text"), "text")
        .select("doc_id", "lang_pred")
        .orderBy("doc_id"),
      s"SELECT doc_id, lang_pred FROM ($langPredCte) ORDER BY doc_id"),

    Query("x_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      "SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM documents ORDER BY doc_id"),

    Query("x_dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text").orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt,
                  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           FROM documents GROUP BY fp ORDER BY keep_id"""),

    // n-gram novelty: per doc, the fraction of its distinct 3-gram
    // shingles whose FIRST corpus occurrence (min doc id) is this doc —
    // the memorization-risk / freshness signal of an incremental corpus.
    // One shuffle on the shingle value (min-over-window partitioned by
    // shingle, never global)
    Query("x_ngram_novelty", (s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("shingle"))
      sh.withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("shingle"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", round(col("n_novel") / col("n_shingles"), 4))
        .orderBy("doc_id")
    },
      s"""WITH ${shinglesSql("documents")},
                f AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY shingle) AS first_doc FROM e),
                g AS (SELECT doc_id, count(*) AS n_shingles,
                        CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                      FROM f GROUP BY doc_id)
           SELECT doc_id, n_shingles, n_novel, round(n_novel / n_shingles, 4) AS novelty
           FROM g ORDER BY doc_id"""),

    // C4-style line-level global dedup (graft.ext.Dedup.lineDedup): every
    // distinct line kept only at its first corpus-wide occurrence, docs
    // reassembled from survivors. The testdata has no newlines, so "lines"
    // are synthetic 10-token chunks (the operator takes any array<string>
    // splitter); one hash shuffle on the line value, window partitioned BY
    // LINE — never global
    Query("x_line_dedup", (s, dir) => {
      val toks = TF.tokens(col("text"))
      val nChunks = ceil(size(toks) / lit(10.0)).cast("int")
      val lines = when(nChunks <= 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(toks, i * 10 + 1, lit(10)), " ")))
      Dedup.lineDedup(t(s, dir, "documents"), "doc_id", lines, joiner = " ")
        .orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id, $toksE AS toks FROM documents),
                c AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(toks)/10.0) AS INTEGER)),
                        i -> array_to_string(list_slice(toks, i*10+1, i*10+10), ' ')) AS lines FROM d),
                e AS (SELECT doc_id, i AS pos, lines[i+1] AS line
                      FROM c, unnest(range(0, len(lines))) AS t(i)),
                w AS (SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM e),
                k AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS kept_text,
                             count(*) AS n_kept
                      FROM w WHERE rn = 1 GROUP BY doc_id)
           SELECT c.doc_id, coalesce(k.kept_text, '') AS kept_text,
                  coalesce(k.n_kept, 0) AS n_kept,
                  CAST(len(c.lines) AS INTEGER) AS n_total
           FROM c LEFT JOIN k USING (doc_id) ORDER BY c.doc_id"""),

    // rollup composing the extension columns: per predicted language,
    // document count and mean quality score
    Query("x_lang_quality_agg", (s, dir) =>
      TF.withLangId(t(s, dir, "documents").select("doc_id", "text"), "text")
        .select(col("lang_pred"), TF.qualityScore(col("text")).as("q"))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"), round(dsum(col("q")) / count(lit(1)), 4).as("avg_quality"))
        .orderBy("lang_pred"),
      s"""WITH lp AS ($langPredCte)
            SELECT lang_pred, count(*) AS n_docs,
                   round(CAST(sum(CAST($qualityE AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_quality
            FROM lp GROUP BY lang_pred ORDER BY lang_pred"""),

    // exact 3-gram Jaccard on a deterministic 25% sample (the oracle path;
    // scale path is x_minhash_lsh). Threshold 0.01: the synthetic corpus
    // has no true near-dups (max pairwise Jaccard ≈ 0.02), so this keeps
    // the check non-trivial.
    Query("x_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
        "doc_id", "text", n = 3, threshold = 0.01)
        .orderBy("doc_a", "doc_b"),
      s"""WITH ${shinglePairsSql("documents WHERE doc_id % 4 = 0")}
            SELECT doc_a, doc_b,
                   round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) AS jaccard
            FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
            WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.01
            ORDER BY doc_a, doc_b"""),

    // train/val/test SPLIT-LEAKAGE audit — the eval-hygiene step after
    // splitting: near-duplicate pairs that STRADDLE a split boundary leak
    // eval answers into training. Splits are assigned by portable md5
    // hash (8/1/1), near-dups are planted 90%-truncated copies under
    // fresh ids (so copies hash into random splits and leakage exists by
    // construction), pairs come from the exact Jaccard path, and the
    // report counts pairs per unordered split combo with a leaky flag.
    Query("x_split_leakage", (s, dir) => {
      val corp = plantedCorpus(s, dir, 0.9)
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 10
      val assigned = corp.select(col("doc_id"),
        when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test").as("split"))
      Dedup.ngramJaccardPairs(corp, "doc_id", "text", n = 3, threshold = 0.5)
        .join(assigned.select(col("doc_id").as("doc_a"), col("split").as("__sa")), Seq("doc_a"))
        .join(assigned.select(col("doc_id").as("doc_b"), col("split").as("__sb")), Seq("doc_b"))
        .select(least(col("__sa"), col("__sb")).as("split_a"),
          greatest(col("__sa"), col("__sb")).as("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaky", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    },
      // split leakage: the truncated-copy corpus + exact-Jaccard pair
      // CTEs, split via the portable md5-bucket idiom, unordered combos
      // by least/greatest
      s"""WITH ${plantedCorpusSql(0.9)},
                 ${shinglePairsSql("corp")},
                 pairs AS (SELECT doc_a, doc_b
                           FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
                           WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.5),
                 asg AS (SELECT doc_id,
                           CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10 <= 7 THEN 'train'
                                WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10 = 8 THEN 'val'
                                ELSE 'test' END AS split
                         FROM corp),
                 lab AS (SELECT least(a.split, b.split) AS split_a, greatest(a.split, b.split) AS split_b
                         FROM pairs JOIN asg a ON pairs.doc_a = a.doc_id
                                    JOIN asg b ON pairs.doc_b = b.doc_id)
           SELECT split_a, split_b, count(*) AS n_pairs, split_a <> split_b AS leaky
           FROM lab GROUP BY split_a, split_b ORDER BY split_a, split_b"""),

    // leakage-FREE splitting — the repair for what x_split_leakage
    // detects: near-dup clusters are resolved first (connected
    // components over the exact pairs) and the WHOLE cluster is assigned
    // by its representative's hash, so no duplicate pair can straddle a
    // boundary BY CONSTRUCTION (n_leaky = 0 is structural: every pair is
    // inside a cluster, every cluster inside one split — the oracle pins
    // it). Per-split doc counts cross the oracle exactly.
    Query("x_leakfree_split", (s, dir) => {
      val corp = plantedCorpus(s, dir, 0.9)
      // the pair miner feeds BOTH the cluster contraction and the leak
      // count — materialize it once (Spark won't reuse non-identical
      // subplans; uncached this ran the shingle join twice)
      val pairs = Dedup.ngramJaccardPairs(corp, "doc_id", "text", n = 3, threshold = 0.5)
        .localCheckpoint()
      val cc = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
      val rep = corp.select(col("doc_id"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("rep"))
      val bucket = conv(substring(md5(col("rep").cast("string")), 1, 6), 16, 10)
        .cast("long") % 10
      val assigned = rep.select(col("doc_id"),
        when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test").as("split"))
      val leaks = pairs
        .join(assigned.select(col("doc_id").as("doc_a"), col("split").as("__sa")), Seq("doc_a"))
        .join(assigned.select(col("doc_id").as("doc_b"), col("split").as("__sb")), Seq("doc_b"))
        .agg(coalesce(sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)), lit(0L))
          .as("n_leaky"))
      assigned.groupBy("split").agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(leaks))
        .withColumn("leakfree", col("n_leaky") === 0)
        .orderBy("split")
    },
      // leak-free split: the same corpus/pair CTEs + recursive CC, split
      // by cluster-representative hash; n_leaky = 0 is structural and
      // pinned, per-split counts exact
      s"""WITH RECURSIVE ${plantedCorpusSql(0.9)},
                 ${shinglePairsSql("corp")},
                 pairs AS (SELECT doc_a, doc_b
                           FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
                           WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.5),
                 und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                         UNION SELECT doc_b, doc_a FROM pairs),
                 reach(a, b) AS (
                   SELECT a, a FROM (SELECT DISTINCT a FROM und)
                   UNION
                   SELECT u.a, r.b FROM und u JOIN reach r ON u.b = r.a),
                 cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
                 rep AS (SELECT c.doc_id, coalesce(cc.cluster_id, c.doc_id) AS rep
                         FROM corp c LEFT JOIN cc USING (doc_id)),
                 asg AS (SELECT doc_id,
                           CASE WHEN CAST(('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 6)) AS BIGINT) % 10 <= 7 THEN 'train'
                                WHEN CAST(('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 6)) AS BIGINT) % 10 = 8 THEN 'val'
                                ELSE 'test' END AS split
                         FROM rep)
           SELECT split, count(*) AS n_docs, CAST(0 AS BIGINT) AS n_leaky, TRUE AS leakfree
           FROM asg GROUP BY split ORDER BY split"""),

    // asymmetric CONTAINMENT near-dup (Broder): C(a→b) = |S(a)∩S(b)|/|S(a)|
    // catches a short doc embedded verbatim in a long one, where Jaccard
    // stays low because the union is dominated by the long side. The corpus
    // has no natural containment pairs, so plant them deterministically:
    // each sampled doc plus a copy truncated to its first 30% of chars —
    // C(frag→orig) ≈ 1 while J ≈ 0.3, and the reverse direction falls
    // below the 0.5 gate, demonstrating the asymmetry. Exactly oracled
    // (same shingle algebra in DuckDB).
    Query("x_containment", (s, dir) => {
      val corp = plantedCorpus(s, dir, 0.3)
      Dedup.ngramContainmentPairs(corp, "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },
      // same shingle CTEs as x_ngram_jaccard over the 30%-fragment corpus;
      // ordered pairs (a <> b), score = shared / |S(a)|
      s"""WITH ${plantedCorpusSql(0.3)},
                 ${shinglePairsSql("corp", "<>")}
            SELECT doc_a, doc_b,
                   round(CAST(shared AS DOUBLE) / x.nsh, 4) AS containment,
                   round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) AS jaccard
            FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
            WHERE round(CAST(shared AS DOUBLE) / x.nsh, 4) >= 0.5
            ORDER BY doc_a, doc_b"""),

    // link-graph authority scoring (PageRank) — the crawl-quality signal a
    // corpus pipeline feeds into mixture/frontier policies. The corpus has
    // no link column, so the graph is derived deterministically: node =
    // doc_id (contiguous 0..N-1 in the testdata), edges doc → (doc·m + m)
    // mod N for m ∈ {2,3,5}, and every doc_id ≡ 9 (mod 10) is left with NO
    // out-edges to exercise the dangling-mass redistribution. 8 damped
    // iterations; per-edge contributions decimal-summed (LinkRank scaladoc)
    // so ranks are partitioning-independent and exactly oracled.
    Query("x_pagerank", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val edges = linkEdges(docs)
      LinkRank.pageRank(docs, "doc_id", edges, "src", "dst", iterations = 8)
        .select(col("node").as("doc_id"), col("pr").as("pagerank"))
        .orderBy("doc_id")
    },
      s"""WITH $linkEdgesSql,
                 deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
                 p0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / nn.n, 12) AS pr
                        FROM nodes CROSS JOIN nn),
                 $prIters
            SELECT node AS doc_id, pr AS pagerank FROM p8 ORDER BY doc_id"""),

    // near-dup cluster RESOLUTION: connected components over the exact
    // n-gram Jaccard pairs (same pair set as x_ngram_jaccard) — every doc
    // labeled with the min doc id of its transitive duplicate cluster via
    // alternating large-star/small-star contraction (diameter-independent;
    // graft.ext.Dedup.connectedComponents)
    Query("x_dedup_clusters", (s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
          "doc_id", "text", n = 3, threshold = 0.01),
        "doc_a", "doc_b")
        .orderBy("id"),
      s"""WITH RECURSIVE ${shinglePairsSql("documents WHERE doc_id % 4 = 0")},
                 pairs AS (
                   SELECT doc_a, doc_b FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
                   WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.01),
                 und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                         UNION SELECT doc_b, doc_a FROM pairs),
                 reach(a, b) AS (
                   SELECT a, a FROM (SELECT DISTINCT a FROM und)
                   UNION
                   SELECT u.a, r.b FROM und u JOIN reach r ON u.b = r.a)
            SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a ORDER BY id"""),

    // cluster REPRESENTATIVE selection: near-dup clusters keep their
    // best-QUALITY member (ties → min id), not the arbitrary min-id — the
    // dedup policy a real corpus pipeline wants (drop the truncated copy,
    // keep the original). Two bounded aggregations over the cluster table;
    // rounded-4 quality compares exactly cross-engine
    Query("x_dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.01),
        "doc_a", "doc_b")
      val q = docs.select(col("doc_id").as("id"), TF.qualityScore(col("text")).as("quality"))
      keepBest(clusters, q)
    },
      s"""WITH RECURSIVE ${shinglePairsSql("documents WHERE doc_id % 4 = 0")},
                 pairs AS (
                   SELECT doc_a, doc_b FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
                   WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.01),
                 und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                         UNION SELECT doc_b, doc_a FROM pairs),
                 reach(a, b) AS (
                   SELECT a, a FROM (SELECT DISTINCT a FROM und)
                   UNION
                   SELECT u.a, r.b FROM und u JOIN reach r ON u.b = r.a),
                 cl AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a),
                 q AS (SELECT doc_id AS id, $qualityE AS quality FROM documents WHERE doc_id % 4 = 0),
                 $keepBestSql"""),

    // SemDeDup-style semantic dedup, composed end-to-end: projection-grid
    // candidate pairs (Dedup.semanticGridPairs — 9·|corpus| probe rows
    // through ONE (cx,cy) equi-join, never all-pairs) → connected
    // components → keep the best-quality member per cluster. The grid is
    // a Rademacher projection (exact ±1 arithmetic), so unlike k-means
    // cells the whole composition is engine-portable and exactly oracled
    Query("x_semantic_dedup", (s, dir) => {
      val pairs = Dedup.semanticGridPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        rp2Signs, cellWidth = 8.0, threshold = 0.38)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val q = t(s, dir, "documents")
        .select(col("doc_id").as("id"), TF.qualityScore(col("text")).as("quality"))
      keepBest(clusters, q)
    },
      s"""WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                      FROM embeddings),
                pr AS (SELECT vec_id, v,
                         CAST(floor((list_dot_product(v, ${rp2Lit(0)}) / sqrt(2.0)) / 8.0) AS BIGINT) AS cx,
                         CAST(floor((list_dot_product(v, ${rp2Lit(1)}) / sqrt(2.0)) / 8.0) AS BIGINT) AS cy
                       FROM e),
                pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                            round(list_dot_product(a.v, b.v) /
                              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
                          FROM pr a JOIN pr b
                          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.vec_id < b.vec_id),
                sel AS (SELECT id_a, id_b FROM pairs WHERE cos >= 0.38),
                und AS (SELECT id_a AS a, id_b AS b FROM sel UNION SELECT id_b, id_a FROM sel),
                reach(a, b) AS (
                  SELECT a, a FROM (SELECT DISTINCT a FROM und)
                  UNION
                  SELECT u.a, r.b FROM und u JOIN reach r ON u.b = r.a),
                cl AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a),
                q AS (SELECT doc_id AS id, $qualityE AS quality FROM documents),
                $keepBestSql"""),

    // DBSCAN over a PLANTED density corpus (graft.ext.Dbscan): every
    // 4th base vector gets three ±0.06 single-dim perturbed copies (a
    // 4-point dense blob whose members all have ≥3 ε-neighbors → core),
    // every 20th additionally a +0.195-dim-2 satellite (exactly ONE
    // neighbor — the base point — → border; the copies sit at
    // √(0.195²+0.06²) ≈ 0.204 > ε); everything unplanted is noise
    // (nearest natural neighbors are ≥1.06 apart on this corpus).
    // Candidates come from the Lipschitz-exact projection grid
    // (cellWidth 1.2 ≥ √64/√2·ε — see Dbscan doc), so the oracle's
    // brute-force neighborhoods double as the grid-completeness proof.
    Query("x_dbscan", (s, dir) => {
      // BOUNDED audit set (vec_id < 2000): density clustering with a FIXED
      // eps over a bounded space is not linearly scalable for ANY engine —
      // a corpus that densifies makes every ε-ball (and so the true DBSCAN
      // pair set) grow super-linearly, and the sf1 scaling point measured
      // exactly that (the candidate join spilled tens of GB). The operator
      // stays distributed (grid-probe candidate join, linear in the pair
      // set — ShuffleAuditSpec); the AUDIT SET is what a user sizes.
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 2000)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      // portable single-dim bump: concat/slice, identical in DuckDB list algebra
      def bump(d0: Int, delta: Double) =
        concat(slice(col("v"), 1, d0),
          array(element_at(col("v"), d0 + 1) + lit(delta)),
          slice(col("v"), d0 + 2, 63 - d0))
      def planted(idOff: Long, mod: Int, d0: Int, delta: Double) =
        base.filter(col("vec_id") % mod === 0)
          .select((col("vec_id") + idOff).as("vec_id"), bump(d0, delta).as("v"))
      // planted-id spacing lives in Dbscan (shared with DbscanSpec so the
      // query and its test cannot drift): 10M apart, collision-free
      // against any corpus whose vec_ids stay under 10M
      val sp = graft.ext.Dbscan.PlantedIdSpacing
      val corpus = base
        .unionAll(planted(sp, 4, 0, 0.06))
        .unionAll(planted(2 * sp, 4, 0, -0.06))
        .unionAll(planted(3 * sp, 4, 1, 0.06))
        .unionAll(planted(graft.ext.Dbscan.SatellitePlantOffset, 20, 2, 0.195))
      // 6-row sign matrix: rows 1–2 share rp2Signs' MD5-keyed bytes, but
      // RpProject scales by 1/√nProj, so with nProj=6 every projection
      // (and hence every grid cell assignment) shrinks by 1/√3 vs the
      // 2-row grid — harmlessly: cellWidth 1.2 still exceeds the exact
      // completeness bound √64/√6·eps ≈ 0.653, and epsPairs' √2-based
      // band stays a conservative superset for any nProj ≥ 2. Rows 3–6
      // are extra Lipschitz band filters that prune candidates before
      // the vector fetch — a pure superset filter, the exact-distance
      // pair set (and the oracle's brute-force check) is untouched.
      // Measured ~2x on this query.
      graft.ext.Dbscan.dbscan(corpus, "vec_id", "v",
          graft.functions.RpProject.signMatrix(6, 64),
          cellWidth = 1.2, eps = 0.2, minPts = 3, nProj = 6)
        .orderBy("id")
    },
      // DBSCAN: brute-force neighborhoods + recursive-CTE core closure
      """WITH RECURSIVE b AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                      FROM embeddings WHERE vec_id < 2000),
                corp AS (
                  SELECT vec_id, v FROM b
                  UNION ALL SELECT vec_id + 10000000, [v[1] + 0.06] || v[2:64] FROM b WHERE vec_id % 4 = 0
                  UNION ALL SELECT vec_id + 20000000, [v[1] - 0.06] || v[2:64] FROM b WHERE vec_id % 4 = 0
                  UNION ALL SELECT vec_id + 30000000, v[1:1] || [v[2] + 0.06] || v[3:64] FROM b WHERE vec_id % 4 = 0
                  UNION ALL SELECT vec_id + 40000000, v[1:2] || [v[3] + 0.195] || v[4:64] FROM b WHERE vec_id % 20 = 0),
                p AS (SELECT a.vec_id AS ia, c.vec_id AS ib,
                        floor(sqrt(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.v)
                          + list_dot_product(c.v, c.v)) * 1e6 + 0.5) / 1e6 AS d
                      FROM corp a JOIN corp c ON a.vec_id < c.vec_id),
                e AS (SELECT ia, ib FROM p WHERE d <= 0.2),
                sym AS (SELECT ia AS u, ib AS v FROM e UNION ALL SELECT ib AS u, ia AS v FROM e),
                core AS (SELECT u AS id FROM sym GROUP BY 1 HAVING count(*) >= 3),
                ce AS (SELECT u, v FROM sym
                       WHERE u IN (SELECT id FROM core) AND v IN (SELECT id FROM core)),
                r AS (SELECT id, id AS reach FROM core
                      UNION
                      SELECT r.id, ce.v AS reach FROM r JOIN ce ON ce.u = r.reach),
                cl AS (SELECT id, min(reach) AS cluster_id FROM r GROUP BY 1),
                bd AS (SELECT s.u AS id, min(cl.cluster_id) AS cluster_id
                       FROM sym s JOIN cl ON cl.id = s.v
                       WHERE s.u NOT IN (SELECT id FROM core) GROUP BY 1)
           SELECT c.vec_id AS id,
                  CASE WHEN cl.id IS NOT NULL THEN 'core'
                       WHEN bd.id IS NOT NULL THEN 'border'
                       ELSE 'noise' END AS role,
                  coalesce(cl.cluster_id, bd.cluster_id) AS cluster_id
           FROM corp c LEFT JOIN cl ON cl.id = c.vec_id LEFT JOIN bd ON bd.id = c.vec_id
           ORDER BY id"""),

    // the composed C4-style cleaning pipeline: quality filter → exact dedup
    // (keep min id per fingerprint) → deterministic per-language sample.
    // One declarative plan: two window functions and a projection — each
    // stage shuffles once on its own key, nothing funnels through the driver
    Query("x_clean_pipeline", (s, dir) => {
      val f = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality"),
          TF.fingerprint(col("text")).as("fp"))
        .filter(col("quality") >= 0.15) // ≈ corpus median; range is 0.03–0.32
      val dedupW = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val h = (col("doc_id") * lit(2654435761L) + lit(17L)) % lit(1000000007L)
      val sampleW = Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))
      f.withColumn("rn", row_number().over(dedupW)).filter(col("rn") === 1).drop("rn")
        .withColumn("rnk", row_number().over(sampleW)).filter(col("rnk") <= 50)
        .select("doc_id", "lang", "quality", "rnk")
        .orderBy("lang", "rnk")
    },
      s"""WITH f AS (SELECT doc_id, lang, $qualityE AS quality,
                         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
                       FROM documents),
                 flt AS (SELECT * FROM f WHERE quality >= 0.15),
                 dd AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                                       FROM flt) WHERE rn = 1),
                 sm AS (SELECT *, row_number() OVER (PARTITION BY lang
                          ORDER BY (doc_id * 2654435761 + 17) % 1000000007, doc_id) AS rnk FROM dd)
            SELECT doc_id, lang, quality, CAST(rnk AS INTEGER) AS rnk
            FROM sm WHERE rnk <= 50 ORDER BY lang, rnk"""),

    // incremental exact dedup: the "new batch vs existing corpus" shape —
    // batch (doc_id >= 250) dedupes within itself then anti-joins the
    // existing corpus's fingerprint column; the corpus text is never
    // rescanned. Output: surviving new docs.
    Query("x_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250)
      Dedup.exactIncremental(batch, "doc_id", "text",
        existing.select(TF.fingerprint(col("text")).as("fp")))
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    },
      """WITH fp AS (SELECT doc_id, source, lang,
                  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
                FROM documents),
                known AS (SELECT DISTINCT f FROM fp WHERE doc_id < 250),
                batch AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
                                         FROM fp WHERE doc_id >= 250) WHERE rn = 1)
           SELECT doc_id, source, lang FROM batch
           WHERE NOT EXISTS (SELECT 1 FROM known WHERE known.f = batch.f)
           ORDER BY doc_id"""),

    // SRP near-dup agreement gate: on a corpus of sampled embeddings plus
    // planted exact copies, the bucketed scale path must recover EVERY
    // pair the quadratic exact path finds at cos >= 0.999 — duplicate-
    // grade pairs land in the same bucket in every table structurally
    // (identical vectors, identical signs), so n_missed = 0 is a hard
    // invariant, not a probabilistic hope. Both pair sets are computed
    // in-plan; the oracle recomputes the exact side and pins the zero.
    Query("x_embed_lsh_agreement", (s, dir) => {
      val base = t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), col("embedding"))
      val corpus = base.unionByName(
        base.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      val exact = Dedup.embeddingNearDup(corpus, "vec_id", "embedding", 0.999)
      val lsh = Dedup.embeddingNearDupLsh(corpus, "vec_id", "embedding", 0.999)
      val missed = exact.select("id_a", "id_b")
        .join(lsh.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
    },
      """WITH s0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings WHERE vec_id % 20 = 0),
                c AS (SELECT vec_id, v FROM s0
                      UNION ALL SELECT vec_id + 1000000, v FROM s0),
                p AS (SELECT round(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
                      FROM c a JOIN c b ON a.vec_id < b.vec_id)
           SELECT count(*) AS n_exact, CAST(0 AS BIGINT) AS n_missed
           FROM p WHERE cos >= 0.999"""),

    // the FULL training-data prep pipeline composed end-to-end, reported
    // as a stage funnel: held-out split → deterministic mixture sampling →
    // quality filter → exact dedup → benchmark decontamination → sequence
    // packing. Every stage is the engine operator the standalone x_*
    // entries gate individually; the funnel pins that they COMPOSE (each
    // count is the downstream operator's actual input). Six aggregates
    // over one lineage — at 100 TB you'd persist s2/s3 between stages; the
    // report shape is unchanged.
    Query("x_train_funnel", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train0 = docs.filter(col("doc_id") % 97 =!= 0)
      // Stages 0–3 as PER-ROW FLAGS over ONE scan (the union-of-aggregates
      // form re-ran the scan+mixture+quality lineage once per stage
      // count): _f1 = mixture keep (the exact sampleMixture predicate via
      // Mixture.keepPredicate), _f2 = _f1 && quality, _f3 = _f2 && dedup
      // winner. The dedup window partitions by (_f2, fingerprint), so
      // rows that reach the dedup stage rank exactly as before (all have
      // _f2 = true) and dropped rows can never influence a rank. Counts
      // are sums of flags — identical values, one pass.
      val flagged = CacheScope.cached(train0
        .withColumn("_f1", Mixture.keepPredicate("source", "text",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1))
        .withColumn("_f2", col("_f1") && TF.qualityScore(col("text")) >= 0.15)
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_f2"), TF.fingerprint(col("text")))
            .orderBy(col("doc_id"))))
        .withColumn("_f3", col("_f2") && col("_rn") === 1))
      val s3 = flagged.filter(col("_f3")).drop("_f1", "_f2", "_rn", "_f3")
      val s4 = Decontaminate.decontaminate(s3, bench, "doc_id", "text", n = 4)
      val packs = Packing.packSequences(s4, "doc_id", TF.tokenCount(col("text")), budget = 256)
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
      // coalesce: on an EMPTY train0 sum() is NULL where the previous
      // per-stage count(1) form returned 0 — preserve the zero-count edge
      val early = flagged.agg(
          count(lit(1)).as("n0"),
          coalesce(sum(col("_f1").cast("long")), lit(0L)).as("n1"),
          coalesce(sum(col("_f2").cast("long")), lit(0L)).as("n2"),
          coalesce(sum(col("_f3").cast("long")), lit(0L)).as("n3"))
        .selectExpr("stack(4, '0_train', n0, '1_mixture', n1, " +
          "'2_quality', n2, '3_dedup', n3) as (stage, n)")
      early
        .unionByName(stage("4_decontam", s4))
        .unionByName(stage("5_packs", packs.select("pack_id").distinct()))
        .orderBy("stage")
    },
      // the funnel mirrors each stage's standalone oracle formulation;
      // packs = closed form (spans tile contiguously from 0)
      s"""WITH base AS (SELECT doc_id, source, text, $toksE AS w FROM documents),
                 train0 AS (SELECT * FROM base WHERE doc_id % 97 <> 0),
                 s1 AS (SELECT * FROM train0
                        WHERE CAST(('0x' || substring(md5(text), 1, 6)) AS INTEGER) <
                          CASE source WHEN 'src0' THEN 16777216 WHEN 'src1' THEN 8388608
                                      WHEN 'src2' THEN 4194304 ELSE 1677722 END),
                 s2 AS (SELECT * FROM s1 WHERE $qualityE >= 0.15),
                 s3 AS (SELECT * FROM (SELECT *, row_number() OVER (
                          PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                          ORDER BY doc_id) AS rn FROM s2) WHERE rn = 1),
                 bg AS (SELECT DISTINCT array_to_string(w[i:i+3], ' ') AS g
                        FROM base, unnest(range(1, len(w) - 2)) u(i) WHERE doc_id % 97 = 0),
                 contam AS (SELECT DISTINCT t.doc_id
                            FROM (SELECT doc_id, array_to_string(w[i:i+3], ' ') AS g
                                  FROM s3, unnest(range(1, len(w) - 2)) u(i)) t
                            JOIN bg USING (g)),
                 s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
                 packs AS (SELECT (sum(CAST(len(w) AS BIGINT)) - 1) // 256 + 1 AS n FROM s4)
            SELECT * FROM (
              SELECT '0_train' AS stage, count(*) AS n FROM train0
              UNION ALL SELECT '1_mixture', count(*) FROM s1
              UNION ALL SELECT '2_quality', count(*) FROM s2
              UNION ALL SELECT '3_dedup', count(*) FROM s3
              UNION ALL SELECT '4_decontam', count(*) FROM s4
              UNION ALL SELECT '5_packs', CAST(n AS BIGINT) FROM packs
            ) ORDER BY stage"""),

    // (the four approximate rows, in gated_by.json's order: see [[remaining]])
    // LSH-bucketed ANN (scale path); rows-only check (recall vs brute
    // force asserted in ScalaTest)
    Query.gated("x_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      "x_ann_lsh_recall: recall@10 >= 90% per query-id decile vs the exact bruteTopK"),

    // IVF-bucketed ANN (data-adaptive scale path; centroid cells instead of
    // hyperplane buckets); rows-only check (recall asserted in ScalaTest)
    Query.gated("x_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val nl = Similarity.adaptiveNLists(e)
      // probe fraction preserved at this entry's original 4/16 — the
      // plumbing row's selectivity dial; the 14/16 recall-gated form is
      // x_ann_ivf_recall
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
          nLists = nl, nProbe = Similarity.probeFor(nl, 4, 16))
        .orderBy("query_id", "rank")
    },
      "x_ann_ivf_recall: recall@10 >= 90% per query-id decile vs the exact bruteTopK"),

    // MinHash+LSH near-dup over ALL documents — banded candidate join, no
    // O(n²); rows-only check (xxhash64 signatures aren't SQL-portable)
    Query.gated("x_minhash_lsh", (s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text", n = 3,
        bands = 16, rowsPerBand = 4, threshold = 0.3)
        .orderBy("doc_a", "doc_b"),
      "x_lsh_exact_agreement: banded-candidate agreement vs exact n-gram Jaccard pairs"),

    // LSH ⊇ exact AGREEMENT gate (round-3 verdict #3): the corpus has no
    // natural near-dups (max pairwise J ≈ 0.02), so construct them
    // deterministically — every sampled doc unioned with a copy truncated
    // to its first 90% of characters (true Jaccard ≈ 0.8–0.97 between
    // original and copy; identical construction in SQL). Every exact pair
    // with Jaccard above the S-curve knee (0.8 — per-pair detection
    // ≥ 99.98% at b=16, r=4, and deterministic given fixed hash seeds)
    // must appear in the MinHash/LSH candidate set: the oracle pins
    // n_missed = 0, and n_exact pins the exact path on the same corpus.
    // This upgrades x_minhash_lsh from unchecked to superset-gated.
    Query("x_lsh_exact_agreement", (s, dir) => {
      val corp = plantedCorpus(s, dir, 0.9)
      // cache: both the count and the anti-join read the exact pair set,
      // and Spark won't reuse non-identical subplans
      val exact = CacheScope.cached(
        Dedup.ngramJaccardPairs(corp, "doc_id", "text", n = 3, threshold = 0.8))
      val cand = Dedup.minhashLsh(corp, "doc_id", "text", n = 3,
        bands = 16, rowsPerBand = 4, threshold = 0.5)
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(
        exact.join(cand.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti")
          .agg(count(lit(1)).as("n_missed")))
    },
      s"""WITH ${plantedCorpusSql(0.9)},
                 ${shinglePairsSql("corp")}
            SELECT count(*) AS n_exact, CAST(0 AS BIGINT) AS n_missed
            FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
            WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.8"""),

    // incremental LSH index maintenance (the x_ivf_incremental pattern
    // for the dedup family): the banded signature table IS the
    // persistable index — signatures depend only on the document, so an
    // append computes ONLY the delta's signatures and joins them against
    // the persisted bands (delta-sized work, zero base text I/O). Delta =
    // 90%-truncated copies of every 4th doc (guaranteed near-dups → the
    // gate can't pass vacuously); the report full-outer-compares the
    // incremental pair set against a from-scratch rebuild restricted to
    // delta-touching pairs — match_full flips FALSE (oracle hash red) if
    // pair discovery ever depends on batch context.
    Query("x_lsh_incremental", (s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "text")
      val delta = truncatedCopies(base.filter(col("doc_id") % 4 === 0), 0.9)
      Dedup.minhashLshIncrementalReport(base, delta, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
    },
      // gate pattern (x_ivf_incremental style): n_delta is exact, the
      // booleans are forced by the deterministic-signature invariant —
      // batch-context-dependent pair discovery flips match_full
      """SELECT CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
                  TRUE AS has_pairs, TRUE AS match_full
           FROM documents"""),

    // SimHash near-dup pairs, chunk-bucketed candidates; rows-only check
    // (xxhash64 signatures aren't SQL-portable) — the signature semantics
    // are hamming-gated by x_simhash_exact_agreement below.
    Query.gated("x_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b"),
      "x_simhash_exact_agreement + x_simhash_scurve: Hamming-pair agreement and collision S-curve vs exact Jaccard"),

    // SimHash ↔ exact agreement gate, the cousin of x_lsh_exact_agreement:
    // on the same deterministic near-dup corpus (90% truncated copies),
    // every exact pair with Jaccard >= 0.8 must have SimHash hamming
    // distance <= 16 — far below the ~32 expectation for unrelated docs,
    // so the 64-bit signature provably orders similarity. (Measured max
    // hamming on these pairs: 13 at sf0.1, 11 at sf0.01 — the sketch is
    // deterministic, so the margin is real, not statistical.) The oracle
    // pins n_exact via the SQL-portable exact path and n_far = 0. The
    // chunk-bucketed candidate path (maxHamming <= 3) stays rows-only: it
    // intentionally targets much nearer duplicates than Jaccard 0.8.
    Query("x_simhash_exact_agreement", (s, dir) => {
      val corp = plantedCorpus(s, dir, 0.9)
      val exact = Dedup.ngramJaccardPairs(corp, "doc_id", "text", n = 3, threshold = 0.8)
      val sh = Dedup.simhashSignatures(corp, "doc_id", "text")
      exact
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .select(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("hamming") > 16, 1L).otherwise(0L)).as("n_far"))
    },
      // same exact-pair CTE as x_lsh_exact_agreement; the SimHash side
      // (n_far: hamming > 16 violations) is pinned at 0
      s"""WITH ${plantedCorpusSql(0.9)},
                 ${shinglePairsSql("corp")}
            SELECT count(*) AS n_exact, CAST(0 AS BIGINT) AS n_far
            FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
            WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.8"""),

    // SimHash S-curve characterization: co-shingled pairs banded by EXACT
    // n-gram Jaccard (dup >= 0.8 > related >= 0.3 > background), with the
    // per-band Hamming mass folded into one separation gate — mean Hamming
    // of dup pairs + 8 bits <= mean Hamming of background pairs, compared
    // as exact integer cross-products so no float crosses the oracle. The
    // band pair counts are exactly oracled; the gate is the heavy-hitters
    // pattern (a bool the hash-family guarantee forces TRUE). This is the
    // tuning table for simhashPairs' maxHamming knob: it shows what
    // Hamming radius separates which similarity grade on THIS corpus.
    Query("x_simhash_scurve", (s, dir) => {
      val corp = plantedCorpus(s, dir, 0.9)
      val exact = Dedup.ngramJaccardPairs(corp, "doc_id", "text", n = 3, threshold = 0.0)
      val sh = Dedup.simhashSignatures(corp, "doc_id", "text")
      val banded = exact
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .select(col("jaccard"), bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .withColumn("band",
          when(col("jaccard") >= 0.8, "1_dup")
            .when(col("jaccard") >= 0.3, "2_related")
            .otherwise("3_background"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"), sum(col("hamming")).as("hsum"))
      val gate = banded.agg(
        max(when(col("band") === "1_dup", col("hsum"))).as("hd"),
        max(when(col("band") === "1_dup", col("n_pairs"))).as("nd"),
        max(when(col("band") === "3_background", col("hsum"))).as("hb"),
        max(when(col("band") === "3_background", col("n_pairs"))).as("nb"))
        // coalesce: an empty extreme band (impossible on this corpus, but
        // the gate must not turn NULL if the sample ever degenerates)
        .select(coalesce(
          (col("hd") + lit(8L) * col("nd")) * col("nb") <= col("hb") * col("nd"),
          lit(true)).as("sep_ok"))
      banded.select(col("band"), col("n_pairs"))
        .crossJoin(broadcast(gate))
        .orderBy("band")
    },
      s"""WITH ${plantedCorpusSql(0.9)},
                 ${shinglePairsSql("corp")},
                 j AS (SELECT round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) AS jac
                       FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id)
            SELECT CASE WHEN jac >= 0.8 THEN '1_dup'
                        WHEN jac >= 0.3 THEN '2_related'
                        ELSE '3_background' END AS band,
                   count(*) AS n_pairs, TRUE AS sep_ok
            FROM j GROUP BY 1 ORDER BY 1"""),

    // brute-force cosine top-5 for 10 query vectors (exact ANN baseline)
    Query("x_embed_cosine_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 10),
                s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                        list_dot_product(q.vq, e.v) /
                          (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS score
                      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
                r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, neighbor_id) AS rank
                      FROM s)
           SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 4) AS score
           FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),

    // Matryoshka (nested-truncation) retrieval eval — the MRL deployment
    // question: how much top-k quality survives serving only the leading
    // d of 64 dims? Ground truth = full-dim brute top-10; per
    // d ∈ {8,16,32} the same brute pass runs on slice(embedding, 1, d),
    // and recall@10 per (d, query) comes from an inner join of the
    // (query, neighbor) pair sets. Every pass keeps the
    // corpus-scan + broadcast-queries plan (zero corpus shuffle); the
    // recall join is top-k × queries × |d| — metadata. The left join
    // onto the (d, query) grid keeps zero-recall rows visible.
    Query("x_matryoshka_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      def topk(d: DataFrame) =
        Similarity.bruteTopK(d, d.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
      val ground = topk(e).select(col("query_id"), col("neighbor_id"))
      val per = Seq(8, 16, 32).map { d =>
        topk(e.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding")))
          .select(lit(d).as("d"), col("query_id"), col("neighbor_id"))
      }.reduce(_ unionAll _)
      val hits = per.join(ground, Seq("query_id", "neighbor_id"))
        .groupBy("d", "query_id").agg(count(lit(1)).as("n_hits"))
      per.select("d", "query_id").distinct()
        .join(hits, Seq("d", "query_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall", col("n_hits").cast("double") / lit(10.0))
        .orderBy("d", "query_id")
    },
      // Matryoshka: the same brute ranking at each truncated dim
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
                ds(d) AS (VALUES (8), (16), (32)),
                t AS (SELECT d, vec_id, v[1:d] AS v FROM e, ds
                      UNION ALL SELECT 64 AS d, vec_id, v FROM e),
                q AS (SELECT d, vec_id AS query_id, v AS vq FROM t WHERE vec_id < 10),
                s AS (SELECT q.d, q.query_id, t.vec_id AS neighbor_id,
                        list_dot_product(q.vq, t.v) /
                          (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(t.v, t.v))) AS score
                      FROM t JOIN q ON t.d = q.d AND t.vec_id <> q.query_id),
                r AS (SELECT d, query_id, neighbor_id,
                        row_number() OVER (PARTITION BY d, query_id
                          ORDER BY round(score, 6) DESC, neighbor_id) AS rank
                      FROM s),
                k AS (SELECT d, query_id, neighbor_id FROM r WHERE rank <= 10),
                g AS (SELECT query_id, neighbor_id FROM k WHERE d = 64),
                h AS (SELECT k.d, k.query_id, count(*) AS n_hits
                      FROM k JOIN g USING (query_id, neighbor_id) WHERE k.d <> 64 GROUP BY 1, 2),
                grid AS (SELECT DISTINCT d, query_id FROM k WHERE d <> 64)
           SELECT d, query_id, coalesce(n_hits, 0) AS n_hits,
                  coalesce(n_hits, 0) / 10.0 AS recall
           FROM grid LEFT JOIN h USING (d, query_id) ORDER BY d, query_id"""),

    // per-dimension embedding standardization (z-score feature scaling —
    // ANN/quantizer prep): dim stats from EXACT decimal (S, Q) sums (a18
    // discipline, scale 8 to keep float precision); map-side combine means
    // the shuffle carries only partitions×dims partial rows, and the
    // |dims|-row stats table broadcasts back onto the scan. The `+ 0.0`
    // after round normalizes NEGATIVE ZERO: a z in (-5e-5, 0) rounds to
    // -0.0 in DuckDB but +0.0 through Spark's BigDecimal HALF_UP — one
    // such row exists at sf0.01 and flipped the r4–r6 hash compare; +0.0
    // is exact on every other value.
    Query("x_embed_standardize", (s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
        .withColumn("x", col("xf").cast("double"))
        .withColumn("xdec", col("x").cast("decimal(18,8)"))
      val st = dims.groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum(col("xdec")).cast("double").as("s"),
        sum(col("xdec") * col("xdec")).cast("double").as("qq"))
      dims.join(broadcast(st), "dim")
        .withColumn("z", round((col("x") - col("s") / col("n")) /
          sqrt((col("qq") - col("s") * col("s") / col("n")) / (col("n") - 1)), 4) + lit(0.0))
        .select(col("vec_id"), col("dim"), col("z"))
        .orderBy("vec_id", "dim")
    },
      """WITH dims AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim, CAST(embedding[i] AS DOUBLE) AS x
                         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
                st AS (SELECT dim, count(*) AS n,
                         CAST(sum(CAST(x AS DECIMAL(18,8))) AS DOUBLE) AS s,
                         CAST(sum(CAST(x AS DECIMAL(18,8)) * CAST(x AS DECIMAL(18,8))) AS DOUBLE) AS qq
                       FROM dims GROUP BY dim)
           SELECT d.vec_id, d.dim,
                  round((d.x - st.s / st.n) / sqrt((st.qq - st.s * st.s / st.n) / (st.n - 1)), 4) + 0.0 AS z
           FROM dims d JOIN st USING (dim) ORDER BY d.vec_id, d.dim"""),

    // nearest-class-mean (NCM) classification — the O(labels) companion
    // to x_knn_classify for corpus-scale weak labeling: ONE aggregation
    // fits the per-label centroids (labels × dims numbers — broadcast
    // scale at any corpus size), and scoring is an equi-join on dim +
    // per-(query,label) rollup instead of a per-query corpus scan.
    // Decimal-summed dots/norms (order-independent), round-6 ordering
    // with label tiebreak, round-4 of the RAW quotient crosses the
    // oracle (never re-round a rounded value — the double-rounding trap).
    Query("x_ncm_classify", (s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "xf")))
        .withColumn("x", col("xf").cast("double"))
      val cent = dims.groupBy("label", "dim").agg(
        round(sum(col("x").cast("decimal(18,8)")).cast("double") / count(lit(1)), 6).as("m"))
      val q = dims.filter(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("dim"), col("x").as("qx"))
      val sc = q.join(broadcast(cent), Seq("dim"))
        .groupBy("query_id", "label")
        .agg(
          sum((col("qx") * col("m")).cast("decimal(28,12)")).cast("double").as("dot"),
          sum((col("qx") * col("qx")).cast("decimal(28,12)")).cast("double").as("q2"),
          sum((col("m") * col("m")).cast("decimal(28,12)")).cast("double").as("m2"))
      val raw = col("dot") / (sqrt(col("q2")) * sqrt(col("m2")))
      sc.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(round(raw, 6).desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("label").as("pred_class"), round(raw, 4).as("score"))
        .orderBy("query_id")
    },
      // NCM: same exploded-dims discipline as x_embed_standardize;
      // centroid means round-6, decimal dots/norms, raw-quotient round-4
      """WITH dims AS (SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS dim, CAST(embedding[i] AS DOUBLE) AS x
                         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
                cent AS (SELECT label, dim,
                           round(CAST(sum(CAST(x AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6) AS m
                         FROM dims GROUP BY label, dim),
                q AS (SELECT vec_id AS query_id, dim, x AS qx FROM dims WHERE vec_id < 100),
                sc AS (SELECT q.query_id, c.label,
                         CAST(sum(CAST(q.qx * c.m AS DECIMAL(28,12))) AS DOUBLE) AS dot,
                         CAST(sum(CAST(q.qx * q.qx AS DECIMAL(28,12))) AS DOUBLE) AS q2,
                         CAST(sum(CAST(c.m * c.m AS DECIMAL(28,12))) AS DOUBLE) AS m2
                       FROM q JOIN cent c USING (dim) GROUP BY 1, 2),
                r AS (SELECT query_id, label,
                        round(dot / (sqrt(q2) * sqrt(m2)), 4) AS score,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY round(dot / (sqrt(q2) * sqrt(m2)), 6) DESC, label) AS rn
                      FROM sc)
           SELECT query_id, label AS pred_class, score FROM r WHERE rn = 1 ORDER BY query_id"""),

    // hard-negative mining (graft.ext.Similarity.hardNegativesTopK):
    // per query, top-5 most similar vectors with a DIFFERENT label — the
    // label inequality rides in the broadcast join condition, the corpus
    // never shuffles
    Query("x_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegativesTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id", "rank")
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS vq, label AS ql FROM e WHERE vec_id < 10),
                s AS (SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
                        list_dot_product(q.vq, e.v) /
                          (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS score
                      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
                r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, neighbor_id) AS rank
                      FROM s)
           SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, neg_label, round(score, 4) AS score
           FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),

    // Margin-based mining (Artetxe–Schwenk, the CCMatrix/bitext-mining
    // scorer): per query, the top-1 neighbor's cosine RATIO-normalized
    // by the mean of both directions' top-4 neighborhoods — absolute
    // cosine thresholds fail where local density varies; the margin
    // doesn't. Forward pass = one broadcast-query sweep; the backward
    // neighborhoods only need the ≤|Q| distinct top-1 ids, so the second
    // sweep broadcasts that derived set — the corpus is never shuffled.
    // Plus the mutual-NN flag (b's top-1 is a), the classic alignment
    // filter. Decimal top-4 sums; margin floor-4.
    Query("x_margin_mining", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      val fwd = Similarity.bruteTopK(e, q, "vec_id", "embedding", k = 4).localCheckpoint()
      val t1 = fwd.filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("nn_id"), col("score"))
      val fsum = fwd.groupBy("query_id")
        .agg(sum(col("score").cast("decimal(18,4)")).as("s_fwd"))
      val bset = e.join(t1.select(col("nn_id").as("vec_id")).distinct(), "vec_id")
      val bwd = Similarity.bruteTopK(e, bset, "vec_id", "embedding", k = 4).localCheckpoint()
      val bsum = bwd.groupBy(col("query_id").as("nn_id"))
        .agg(sum(col("score").cast("decimal(18,4)")).as("s_bwd"))
      val b1 = bwd.filter(col("rank") === 1)
        .select(col("query_id").as("nn_id"), col("neighbor_id").as("b_top1"))
      t1.join(fsum, "query_id").join(broadcast(bsum), "nn_id").join(broadcast(b1), "nn_id")
        .select(col("query_id"), col("nn_id"), col("score"),
          f4(col("score") * lit(8.0) / (col("s_fwd") + col("s_bwd")).cast("double")).as("margin"),
          (col("b_top1") === col("query_id")).as("mutual"))
        .orderBy("query_id")
    },
      // margin mining: brute top-4 both directions (round-6 tiebreak,
      // round-4 scores), decimal neighborhood sums, floor-4 margin
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 100),
                s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                        list_dot_product(q.vq, e.v) /
                          (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS score
                      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
                r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, neighbor_id) AS rank
                      FROM s),
                fwd AS (SELECT query_id, rank, neighbor_id, round(score, 4) AS score FROM r WHERE rank <= 4),
                t1 AS (SELECT query_id, neighbor_id AS nn_id, score FROM fwd WHERE rank = 1),
                fsum AS (SELECT query_id, sum(CAST(score AS DECIMAL(18,4))) AS s_fwd FROM fwd GROUP BY 1),
                bq AS (SELECT DISTINCT nn_id FROM t1),
                eb AS (SELECT e.vec_id AS bq_id, e.v AS vb FROM e JOIN bq ON e.vec_id = bq.nn_id),
                s2 AS (SELECT eb.bq_id, e.vec_id AS neighbor_id,
                         list_dot_product(eb.vb, e.v) /
                           (sqrt(list_dot_product(eb.vb, eb.vb)) * sqrt(list_dot_product(e.v, e.v))) AS score
                       FROM e CROSS JOIN eb WHERE e.vec_id <> eb.bq_id),
                r2 AS (SELECT *, row_number() OVER (PARTITION BY bq_id ORDER BY round(score, 6) DESC, neighbor_id) AS rank
                       FROM s2),
                bwd AS (SELECT bq_id, rank, neighbor_id, round(score, 4) AS score FROM r2 WHERE rank <= 4),
                bsum AS (SELECT bq_id AS nn_id, sum(CAST(score AS DECIMAL(18,4))) AS s_bwd FROM bwd GROUP BY 1),
                b1 AS (SELECT bq_id AS nn_id, neighbor_id AS b_top1 FROM bwd WHERE rank = 1)
           SELECT t1.query_id, t1.nn_id, t1.score,
                  floor(t1.score * 8.0 / CAST(s_fwd + s_bwd AS DOUBLE) * 1e4 + 0.5) / 1e4 AS margin,
                  b_top1 = t1.query_id AS mutual
           FROM t1 JOIN fsum USING (query_id) JOIN bsum USING (nn_id) JOIN b1 USING (nn_id)
           ORDER BY t1.query_id"""),

    // Contrastive-training triplet mining: per anchor, the most similar
    // SAME-label vector (positive) and the most similar DIFFERENT-label
    // vector (hard negative), with the margin between them and the
    // semi-hard flag (margin < 0.05) that a triplet-loss sampler feeds
    // on. Both sides are the broadcast-query zero-corpus-shuffle plan of
    // x_hard_negatives; swap in the IVF candidate path (the
    // x_hard_negatives_ivf pattern) when the anchor set outgrows a
    // broadcast.
    Query("x_triplet_mining", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
      val pos = Similarity.hardPositivesTopK(e, q, "vec_id", "embedding", "label", k = 1)
        .select(col("query_id"), col("neighbor_id").as("pos_id"), col("score").as("pos_score"))
      val neg = Similarity.hardNegativesTopK(e, q, "vec_id", "embedding", "label", k = 1)
        .select(col("query_id"), col("neighbor_id").as("neg_id"), col("score").as("neg_score"))
      pos.join(neg, "query_id")
        .withColumn("margin",
          floor((col("pos_score") - col("neg_score")) * lit(1e4) + lit(0.5)) / lit(1e4))
        .withColumn("semi_hard", col("margin") < 0.05)
        .orderBy("query_id")
    },
      // triplet mining: same-label and different-label brute rank-1
      // (round-6 tiebreak, round-4 scores), floor-4 margin
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS vq, label AS ql FROM e WHERE vec_id < 50),
                sp AS (SELECT q.query_id, e.vec_id AS pos_id,
                         list_dot_product(q.vq, e.v) /
                           (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS score
                       FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id AND e.label = q.ql),
                rp AS (SELECT query_id, pos_id, round(score, 4) AS pos_score,
                         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, pos_id) AS rk
                       FROM sp),
                sn AS (SELECT q.query_id, e.vec_id AS neg_id,
                         list_dot_product(q.vq, e.v) /
                           (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS score
                       FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
                rn AS (SELECT query_id, neg_id, round(score, 4) AS neg_score,
                         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, neg_id) AS rk
                       FROM sn),
                j AS (SELECT rp.query_id, rp.pos_id, rp.pos_score, rn.neg_id, rn.neg_score,
                        floor((rp.pos_score - rn.neg_score) * 1e4 + 0.5) / 1e4 AS margin
                      FROM rp JOIN rn ON rp.query_id = rn.query_id AND rp.rk = 1 AND rn.rk = 1)
           SELECT query_id, pos_id, pos_score, neg_id, neg_score, margin,
                  margin < 0.05 AS semi_hard
           FROM j ORDER BY query_id"""),

    // hard negatives over IVF candidates — the corpus-scale miner (an
    // all-corpus query set can't broadcast): candidates from the coarse
    // cell join instead of the brute cross product, recall@10-gated per
    // decile against the exact miner (the x_ann_ivf_recall pattern; vote-
    // agreement gating is the recorded round-7 negative result)
    Query("x_hard_negatives_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      Similarity.recallByDecile(
        Similarity.hardNegativesTopK(e, q, "vec_id", "embedding", "label", k = 10),
        {
          val nl = Similarity.adaptiveNLists(e)
          Similarity.hardNegativesIvfTopK(e, q, "vec_id", "embedding", "label", k = 10,
            nLists = nl, nProbe = Similarity.probeFor(nl))
        },
        minRecallPct = 90)
    },
      recallByDecileSql),

    // embedding near-dup pairs on a deterministic 20% sample
    // exact brute pair mining over a BOUNDED audit sample (vec_id < 2000
    // fixes it at 400 vectors at every SF — a corpus-proportional sample
    // made the documented-quadratic exact form measure 52× at the sf1
    // scaling point); the corpus-scale path is the SRP-bucketed
    // embeddingNearDupLsh, agreement-gated by x_embed_lsh_agreement
    Query("x_embed_neardup", (s, dir) =>
      Dedup.embeddingNearDup(
        t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0 && col("vec_id") < 2000),
        "vec_id", "embedding", threshold = 0.18)
        .orderBy("id_a", "id_b"),
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                      FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 2000),
                p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                        round(list_dot_product(a.v, b.v) /
                          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
                      FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id)
           SELECT id_a, id_b, cos FROM p WHERE cos >= 0.18 ORDER BY id_a, id_b"""),

    // ANN recall GATES: recall@10 of each approximate path against the
    // exact brute-force baseline, per query-id decile, 100 queries — the
    // correctness signal the rows-only x_ann_* entries lack. Params are
    // tuned so every decile clears 90% on this corpus: the synthetic
    // embeddings are near-isotropic (same-label cosine ≈ cross-label ≈ 0 —
    // measured), the HARDEST case for space-partitioning ANN, which is why
    // IVF must probe 14/16 cells here; clustered real-world embeddings
    // reach the same recall at much lower probe fractions. The gate bool is
    // pure integer arithmetic (Σhits·100 ≥ Σtruth·90) — exact in any engine.
    Query("x_ann_lsh_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      Similarity.recallByDecile(
        Similarity.bruteTopK(e, q, "vec_id", "embedding", 10),
        Similarity.lshTopK(e, q, "vec_id", "embedding", 10, nBits = 4, tables = 8, probes = 3),
        minRecallPct = 90)
    },
      // recall gates: the oracle pins the report shape (10 deciles × 10
      // queries × 10 truth rows) and recall_ok = TRUE for every decile —
      // if either ANN path's recall drops below 90% in any decile, the
      // Spark side emits FALSE and the hash compare goes red
      recallByDecileSql),

    Query("x_ann_ivf_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      Similarity.recallByDecile(
        Similarity.bruteTopK(e, q, "vec_id", "embedding", 10),
        {
          val nl = Similarity.adaptiveNLists(e)
          Similarity.ivfTopK(e, q, "vec_id", "embedding", 10,
            nLists = nl, nProbe = Similarity.probeFor(nl))
        },
        minRecallPct = 90)
    },
      recallByDecileSql),

    // corpus-level character-trigram frequency profile, top 20 (native
    // CharNgrams expression; the interpreted HOF form measured ~2 s at sf0.1)
    Query("x_char_ngrams", (s, dir) =>
      Tables.spread(t(s, dir, "documents"))
        .select(TF.normalizeWs(lower(col("text"))).as("tn"))
        .select(explode(graft.functions.CharNgrams.charNgrams(col("tn"), 3)).as("gram"))
        .filter(length(col("gram")) === 3)
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram")).limit(20),
      """WITH n AS (SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS tn FROM documents),
                g AS (SELECT unnest(list_transform(generate_series(1, greatest(length(tn) - 2, 1)),
                        i -> tn[i:i+2])) AS gram FROM n)
           SELECT gram, count(*) AS cnt FROM g WHERE length(gram) = 3
           GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20"""),

    // per-vector L2 norm (vector-math surface with a scalar, oracle-able output)
    Query("x_embed_norms", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.l2Norm(col("embedding")), 4).as("norm"))
        .orderBy("vec_id"),
      """SELECT vec_id,
                  round(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                              list_transform(embedding, x -> CAST(x AS DOUBLE)))), 4) AS norm
           FROM embeddings ORDER BY vec_id"""),

    // Rademacher random projection (Johnson–Lindenstrauss) 64→16: the
    // cheap dimensionality reduction a pipeline runs before clustering /
    // coarse ANN. Deterministic ±1 sign matrix (MD5 parity, RpProject
    // .signMatrix) rendered into BOTH engines; projection is one fused
    // codegen loop per row (native RpProject), oracle is 16
    // list_dot_product columns over the same literal matrix — identical
    // op order. Output dims are emitted as 16 SCALAR columns y00..y15
    // (not one array column): the driver's pandas-side canonical sort
    // can't order an ndarray cell (observed r4–r6 harness TypeError), and
    // scalar columns hash identically anyway. Two-step select keeps the
    // projection computed ONCE (CollapseProject won't inline a non-cheap
    // expr referenced 16×).
    Query("x_rp_project", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.RpProject.rpProject(col("embedding"), rpSigns, 16).as("yv"))
        .select(col("vec_id") +: (0 until 16).map(j =>
          // + 0.0 normalizes negative zero (see x_embed_standardize)
          (round(element_at(col("yv"), j + 1), 6) + lit(0.0)).as(f"y$j%02d")): _*)
        .orderBy("vec_id"),
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                       FROM embeddings)
            SELECT vec_id, ${rpYSql.zipWithIndex.map { case (y, j) =>
              s"round($y, 6) + 0.0 AS y${"%02d".format(j)}" }.mkString(", ")}
            FROM e ORDER BY vec_id"""),

    // JL distance-preservation gate for x_rp_project: deterministic pair
    // sample (v ↔ (7v+3) mod N — never a self-pair for the testdata Ns),
    // pairwise L2 in original vs projected space, per-decile distortion
    // report. k=16 gives sd(ratio) ≈ √(2/k) ≈ 0.35 per pair, so the GATE
    // is on the per-decile MEAN (n≥50 ⇒ se ≤ 0.05): mean ∈ [0.8, 1.2].
    // At corpus scale this report runs on exactly such a bounded sample —
    // the projection itself stays a pure scan-speed map.
    Query("x_rp_distortion", (s, dir) => {
      val VF = graft.functions.VectorFunctions
      val base = t(s, dir, "embeddings")
      val nRow = base.agg(count(lit(1)).as("n"))
      val proj = base.crossJoin(broadcast(nRow)).select(
        col("vec_id"), col("n"),
        VF.toDouble(col("embedding")).as("emb"),
        graft.functions.RpProject.rpProject(col("embedding"), rpSigns, 16).as("y"))
      val a = proj.select(col("vec_id").as("id_a"),
        ((col("vec_id") * 7 + 3) % col("n")).as("id_b"),
        col("emb").as("e_a"), col("y").as("y_a"))
      val b = proj.select(col("vec_id").as("id_b"), col("emb").as("e_b"), col("y").as("y_b"))
      a.join(b, "id_b")
        .withColumn("d_orig", sqrt(VF.sqDist(col("e_a"), col("e_b"))))
        .withColumn("d_proj", sqrt(VF.sqDist(col("y_a"), col("y_b"))))
        .filter(col("d_orig") > 0)
        .withColumn("ratio", round(col("d_proj") / col("d_orig"), 4))
        .groupBy((col("id_a") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_pairs"),
          round(sum(col("ratio").cast("decimal(18,4)")).cast("double") / count(lit(1)), 4)
            .as("mean_ratio"),
          min(col("ratio")).as("min_ratio"),
          max(col("ratio")).as("max_ratio"))
        .withColumn("jl_gate", col("mean_ratio").between(0.8, 1.2))
        .orderBy("decile")
    },
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
                 e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                       FROM embeddings),
                 proj AS (SELECT vec_id, emb, [${rpYSql.mkString(", ")}] AS y FROM e),
                 p AS (SELECT a.vec_id AS id_a, a.emb AS e_a, a.y AS y_a, b.emb AS e_b, b.y AS y_b
                       FROM (SELECT proj.*, (vec_id * 7 + 3) % nn.n AS pid FROM proj CROSS JOIN nn) a
                       JOIN proj b ON a.pid = b.vec_id),
                 d AS (SELECT id_a,
                         sqrt(list_dot_product(list_transform(range(1, 65), i -> e_a[i] - e_b[i]),
                                               list_transform(range(1, 65), i -> e_a[i] - e_b[i]))) AS d_orig,
                         sqrt(list_dot_product(list_transform(range(1, 17), i -> y_a[i] - y_b[i]),
                                               list_transform(range(1, 17), i -> y_a[i] - y_b[i]))) AS d_proj
                       FROM p),
                 r AS (SELECT id_a % 10 AS decile, round(d_proj / d_orig, 4) AS ratio
                       FROM d WHERE d_orig > 0),
                 g AS (SELECT decile, count(*) AS n_pairs,
                         round(CAST(sum(CAST(ratio AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS mean_ratio,
                         min(ratio) AS min_ratio, max(ratio) AS max_ratio
                       FROM r GROUP BY decile)
            SELECT decile, n_pairs, mean_ratio, min_ratio, max_ratio,
                   mean_ratio BETWEEN 0.8 AND 1.2 AS jl_gate
            FROM g ORDER BY decile"""),

    // per-source corpus profile: doc counts + char-length stats by origin
    Query("x_source_stats", (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          round(dsum(col("n_chars")) / count(lit(1)), 4).as("avg_chars"))
        .orderBy("source"),
      """SELECT source, count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                  round(CAST(sum(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_chars
           FROM documents GROUP BY source ORDER BY source"""),

    // Jensen–Shannon divergence + vocabulary Jaccard between every
    // source PAIR's unigram distributions — the mixture-design
    // complement to x_source_mixture/x_dsir_weights: how far apart are
    // the sources a sampler is blending? Zero-smoothing JSD via the
    // intersection identity: words exclusive to one side contribute
    // p·ln2, and Σ_{A\B} p_a = 1 − Σ_{A∩B} p_a, so ONE self-join on the
    // word key (sa < sb) yields the whole metric — no full-outer join,
    // no per-pair vocab union. Per-word intersection terms floor-9 +
    // DECIMAL(28,9)-summed (JSD terms are tiny); exclusive-mass tail is
    // one shared double tree; ln 2 is COMPUTED in both engines. Work:
    // one token-count shuffle, then |vocab|·|source-pairs| grid rows.
    Query("x_jsd_sources", (s, dir) => {
      val wc = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .localCheckpoint() // both self-join sides + the per-source totals
      val tot = wc.groupBy("source").agg(
        sum(col("c")).as("n_tok"), count(lit(1)).as("n_vocab"))
      val a = wc.select(col("source").as("source_a"), col("w"), col("c").as("ca"))
        .join(broadcast(tot.select(col("source").as("source_a"),
          col("n_tok").as("na"), col("n_vocab").as("va"))), "source_a")
      val b = wc.select(col("source").as("source_b"), col("w"), col("c").as("cb"))
        .join(broadcast(tot.select(col("source").as("source_b"),
          col("n_tok").as("nb"), col("n_vocab").as("vb"))), "source_b")
      val pa = col("ca").cast("double") / col("na").cast("double")
      val pb = col("cb").cast("double") / col("nb").cast("double")
      val term = f9d(pa * log(lit(2.0) * pa / (pa + pb))
        + pb * log(lit(2.0) * pb / (pa + pb)))
      val int = a.join(b, Seq("w")).filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_common"),
          max(col("na")).as("na"), max(col("nb")).as("nb"),
          max(col("va")).as("va"), max(col("vb")).as("vb"),
          sum(col("ca")).as("sca"), sum(col("cb")).as("scb"),
          sum(term).cast("double").as("t_int"))
      val ma = col("sca").cast("double") / col("na").cast("double")
      val mb = col("scb").cast("double") / col("nb").cast("double")
      int.select(col("source_a"), col("source_b"), col("n_common"),
          f6(col("n_common").cast("double")
            / (col("va") + col("vb") - col("n_common")).cast("double")).as("jaccard"),
          f6(lit(0.5) * (col("t_int")
            + (lit(1.0) - ma) * log(lit(2.0)) + (lit(1.0) - mb) * log(lit(2.0)))).as("jsd"))
        .orderBy("source_a", "source_b")
    },
      // JSD via the intersection identity (exclusive mass = 1 − Σ_int p),
      // floor-9 + decimal(28,9) intersection terms, computed ln(2.0)
      s"""WITH wc AS (SELECT source, w, count(*) AS c
                      FROM (SELECT source, unnest($toksE) AS w FROM documents)
                      GROUP BY 1, 2),
                tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS n_vocab
                        FROM wc GROUP BY 1),
                pr AS (SELECT a.source AS source_a, b.source AS source_b, a.w,
                         a.c AS ca, b.c AS cb, ta.n_tok AS na, tb.n_tok AS nb,
                         ta.n_vocab AS va, tb.n_vocab AS vb
                       FROM wc a JOIN wc b ON a.w = b.w AND a.source < b.source
                       JOIN tot ta ON ta.source = a.source
                       JOIN tot tb ON tb.source = b.source),
                tm AS (SELECT source_a, source_b, na, nb, va, vb, ca, cb,
                         CAST(floor((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                             * ln(2.0 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                               / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))
                           + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
                             * ln(2.0 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                               / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))))
                           * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS term
                       FROM pr),
                agg AS (SELECT source_a, source_b, count(*) AS n_common,
                          max(na) AS na, max(nb) AS nb, max(va) AS va, max(vb) AS vb,
                          CAST(sum(ca) AS BIGINT) AS sca, CAST(sum(cb) AS BIGINT) AS scb,
                          CAST(sum(term) AS DOUBLE) AS t_int
                        FROM tm GROUP BY 1, 2)
           SELECT source_a, source_b, n_common,
                  floor(CAST(n_common AS DOUBLE) / CAST(va + vb - n_common AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard,
                  floor(0.5 * (t_int
                    + (1.0 - CAST(sca AS DOUBLE) / CAST(na AS DOUBLE)) * ln(2.0)
                    + (1.0 - CAST(scb AS DOUBLE) / CAST(nb AS DOUBLE)) * ln(2.0)) * 1e6 + 0.5) / 1e6 AS jsd
           FROM agg ORDER BY source_a, source_b"""),

    // language-ID evaluation: confusion counts of predicted vs labeled lang
    Query("x_lang_confusion", (s, dir) =>
      TF.withLangId(t(s, dir, "documents").select("doc_id", "lang", "text"), "text")
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "lang_pred"),
      s"""WITH lp AS ($langPredCte)
            SELECT d.lang, lp.lang_pred, count(*) AS cnt
            FROM lp JOIN documents d ON lp.doc_id = d.doc_id
            GROUP BY d.lang, lp.lang_pred ORDER BY d.lang, lp.lang_pred"""),

    // curriculum ordering: docs ranked easy→hard by quality score via the
    // DISTRIBUTED global ordinal (graft.ops.Batching.globalOrdinal — no
    // single-task window), split into 4 equal tiers by ceil-division of
    // the ordinal; the total count rides a broadcast 1-row aggregate.
    // The ordinal key packs (quality, doc_id) into one long so ties are
    // deterministic; round() before the cast because Spark truncates
    // double→long where DuckDB rounds
    Query("x_curriculum", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("q"))
        .withColumn("key",
          round(col("q") * 1e4, 0).cast("long") * lit(10000000L) + col("doc_id"))
      val ranked = Batching.globalOrdinal(d, "key", "rn")
      val tot = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("tier", expr("(rn * 4 + n - 1) div n").cast("int"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("q")), 4).as("min_q"),
          round(max(col("q")), 4).as("max_q"),
          round(dsum(col("q")) / count(lit(1)), 4).as("avg_q"))
        .orderBy("tier")
    },
      s"""WITH d AS (SELECT doc_id, $qualityE AS q FROM documents),
                k AS (SELECT doc_id, q,
                        CAST(round(q * 1e4, 0) AS BIGINT) * 10000000 + doc_id AS key FROM d),
                r AS (SELECT q, row_number() OVER (ORDER BY key) AS rn,
                             count(*) OVER () AS n FROM k),
                ti AS (SELECT q, CAST((rn * 4 + n - 1) // n AS INTEGER) AS tier FROM r)
           SELECT tier, count(*) AS n_docs,
                  round(min(q), 4) AS min_q, round(max(q), 4) AS max_q,
                  round(CAST(sum(CAST(q AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_q
           FROM ti GROUP BY tier ORDER BY tier"""),

    // TF-IDF-style top-3 terms per document over a bounded corpus slice:
    // term frequencies and document frequencies as two aggregations, the
    // corpus size broadcast as a scalar, per-doc ranking by score. The
    // inverse-document-frequency factor is the RATIONAL (n+1)/(df+1), not
    // ln(n/df): a single small-integer division is bit-identical across
    // engines, where JVM Math.log and libm ln are only 1-ulp-accurate and
    // can flip a rounded score or a rank at a boundary (NOTES.md parity
    // lessons — same monotonicity in df, so the ranking semantics hold)
    // BM25 (k1=1.2, b=0.75) top terms per document — TF-IDF's production
    // sibling: length-normalized tf saturation plus a smoothed ln idf. The
    // whole score is per-row IEEE double arithmetic written identically in
    // both engines; dl/avgdl are exact (integer-valued doubles, sums below
    // 2^53), so only ln's last-ulp could differ — the 4-decimal round
    // absorbs it away from .00005 boundaries (exactness verified at all
    // three SFs by the gate)
    Query("x_bm25_top_terms", (s, dir) => {
      val (_, tf, dfreq, stats, _) = bm25Parts(t(s, dir, "documents").filter(col("doc_id") < 50))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(stats))
        .withColumn("score", round(bm25Idf * bm25Tf, 4))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "score")
        .orderBy("doc_id", "rnk")
    },
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
             toks AS (SELECT doc_id,
                        CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS DOUBLE) AS dl,
                        unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
                      FROM docs),
             tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM toks GROUP BY doc_id, term),
             dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
             stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
                       FROM (SELECT DISTINCT doc_id, dl FROM toks)),
             scored AS (SELECT tf.doc_id, tf.term,
                          -- every constant forced to DOUBLE: bare literals are
                          -- DECIMALs in DuckDB, whose exact arithmetic diverges
                          -- from Spark's per-row IEEE doubles (2.2 is not
                          -- binary-exact)
                          round(ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
                                ((tf * CAST(2.2 AS DOUBLE)) /
                                 (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))), 4) AS score
                        FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
             r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
                   FROM scored)
           SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, score
           FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"""),

    // BM25 SEARCH (retrieval, not term profiling): rank the FULL corpus
    // for 5 data-derived queries of 4 terms each (the 20 highest-df terms,
    // round-robin assigned — deterministic and oracle-recomputable). The
    // plan is the production IR shape: the query-term table (broadcast,
    // metadata-scale) probes the (doc, term) posting lists in one
    // equi-join — the corpus is scored only where a query term matches,
    // never scanned per query. Per-term scores round-6 → DECIMAL sums
    // (order-independent), ranking on the exact decimal, round-4 output
    // AFTER the decimal sum (the r8 decimal-then-cast lesson).
    Query("x_bm25_search", (s, dir) =>
      bm25TopK(s, dir)
        .select(col("query_id"), col("rnk"), col("doc_id"), col("n_terms_matched"),
          round(col("sdec"), 4).cast("double").as("score"))
        .orderBy("query_id", "rnk"),
      // BM25 search: identical posting-list algebra; per-term round-6 →
      // DECIMAL sums, rank on the exact decimal, round-4 after the sum
      bm25Oracle(
        """SELECT query_id, CAST(rnk AS INTEGER) AS rnk, doc_id, n_terms_matched,
                  CAST(round(sdec, 4) AS DOUBLE) AS score
           FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // Query-likelihood retrieval with Dirichlet smoothing (Zhai & Lafferty,
    // μ=100) — the language-model scorer beside x_bm25_search, over the
    // SAME data-derived queries so the two rankings are comparable:
    // score(q,d) = Σ_{t∈q∩d} ln(1 + tf/(μ·P(t|C))) + |q|·ln(μ/(dl+μ)),
    // i.e. matched-term sums over the posting-list probe plus a
    // per-doc-length prior — round-6 decimal-summed, (sdec DESC, doc_id)
    // top-10. Same scale shape as BM25: broadcast query terms, one
    // (query, doc) shuffle, candidates only (never all docs × queries).
    Query("x_ql_retrieval", (s, dir) => {
      val (toks, tf, _, _, qterms) = bm25Parts(t(s, dir, "documents"))
      val cft = toks.groupBy("term").agg(count(lit(1)).as("cf"))
      val tott = toks.agg(count(lit(1)).as("total"))
      val dls = toks.select("doc_id", "dl").distinct()
      val mt = tf.join(broadcast(qterms), "term")
        .join(cft, "term").crossJoin(broadcast(tott))
        .withColumn("ts", round(log(lit(1.0) + col("tf").cast("double")
            / (lit(100.0) * (col("cf").cast("double") / col("total").cast("double")))), 6)
          .cast("decimal(18,6)"))
      val mg = mt.groupBy("query_id", "doc_id")
        .agg(sum(col("ts")).as("ms"), count(lit(1)).as("n_terms_matched"))
      val sc = mg.join(dls, "doc_id")
        .withColumn("sdec", col("ms") +
          round(lit(4.0) * log(lit(100.0) / (col("dl") + lit(100.0))), 6).cast("decimal(18,6)"))
      val w = Window.partitionBy("query_id").orderBy(col("sdec").desc, col("doc_id"))
      sc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
        .select(col("query_id"), col("rnk"), col("doc_id"), col("n_terms_matched"),
          col("sdec").cast("double").as("score"))
        .orderBy("query_id", "rnk")
    },
      // QL: Dirichlet mu=100 over the same query terms — matched-term
      // sums + the doc-length prior
      bm25Oracle(
        """, cft AS (SELECT term, count(*) AS cf FROM toks GROUP BY 1),
             tott AS (SELECT count(*) AS total FROM toks),
             dls AS (SELECT DISTINCT doc_id, dl FROM toks),
             mt AS (SELECT qt.query_id, tf.doc_id,
                      CAST(round(ln(1.0 + tf / (100.0 * (cf / CAST(total AS DOUBLE)))), 6) AS DECIMAL(18,6)) AS ts
                    FROM tf JOIN qt USING (term) JOIN cft USING (term) CROSS JOIN tott),
             mg AS (SELECT query_id, doc_id, sum(ts) AS ms, count(*) AS n_terms_matched
                    FROM mt GROUP BY 1, 2),
             sc AS (SELECT m.query_id, m.doc_id, m.n_terms_matched,
                      m.ms + CAST(round(4.0 * ln(100.0 / (d.dl + 100.0)), 6) AS DECIMAL(18,6)) AS sdec
                    FROM mg m JOIN dls d USING (doc_id)),
             rr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sdec DESC, doc_id) AS rnk
                    FROM sc)
           SELECT query_id, CAST(rnk AS INTEGER) AS rnk, doc_id, n_terms_matched,
                  CAST(sdec AS DOUBLE) AS score
           FROM rr WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // reciprocal-rank fusion (Cormack 2009, k=60): the standard hybrid
    // retrieval combiner — here fusing the BM25 score ranking with the
    // coverage ranking (terms matched) over the same top-10, re-ranked
    // by RRF = Σ 1/(60+rank). Shares bm25TopK; both divisions are the
    // identical IEEE tree, and the two-term sum has a fixed order.
    Query("x_rrf", (s, dir) => {
      val top = bm25TopK(s, dir).select(col("query_id"), col("rnk"), col("doc_id"),
        col("n_terms_matched"), col("sdec"))
      val r2 = top.withColumn("rnk2", row_number().over(
        Window.partitionBy("query_id").orderBy(col("n_terms_matched").desc, col("doc_id"))))
      val scored = r2.withColumn("rrf",
        lit(1.0) / (lit(60.0) + col("rnk").cast("double"))
          + lit(1.0) / (lit(60.0) + col("rnk2").cast("double")))
      scored.withColumn("rrf_rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))))
        .select(col("query_id"), col("rrf_rank"), col("doc_id"),
          (floor(col("rrf") * lit(1e6) + lit(0.5)) / lit(1e6)).as("rrf_score"))
        .orderBy("query_id", "rrf_rank")
    },
      // RRF: same top-10, coverage re-rank, 1/(60+r) fixed-order sum
      bm25Oracle(
        """, top AS (SELECT query_id, CAST(rnk AS INTEGER) AS rnk, doc_id, n_terms_matched
                     FROM r WHERE rnk <= 10),
              r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY n_terms_matched DESC, doc_id) AS INTEGER) AS rnk2
                     FROM top),
              sc AS (SELECT query_id, doc_id,
                       1.0 / (60.0 + CAST(rnk AS DOUBLE)) + 1.0 / (60.0 + CAST(rnk2 AS DOUBLE)) AS rrf
                     FROM r2),
              rr AS (SELECT query_id, doc_id, rrf,
                       row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rrf_rank
                     FROM sc)
           SELECT query_id, CAST(rrf_rank AS INTEGER) AS rrf_rank, doc_id,
                  floor(rrf * 1e6 + 0.5) / 1e6 AS rrf_score
           FROM rr ORDER BY query_id, rrf_rank""")),

    // NDCG@10 of the BM25 ranking (graded relevance = #query terms
    // matched) — the ranking-evaluation loop as one plan, sharing the
    // bm25TopK pipeline. Gains 2^rel−1 come from an explicit integer
    // CASE (libm pow never enters); discounts ln(r+1)/ln 2 are the
    // identical double tree; per-query DCG/IDCG terms floor-6 +
    // DECIMAL-summed; the ideal ordering re-ranks the SAME top-10 by
    // (rel DESC, doc_id).
    Query("x_ndcg", (s, dir) => {
      val top = bm25TopK(s, dir).select(col("query_id"), col("rnk"), col("doc_id"),
        col("n_terms_matched").cast("int").as("rel"))
      def gain(rel: Column) = when(rel === 1, 1.0).when(rel === 2, 3.0)
        .when(rel === 3, 7.0).otherwise(15.0)
      def term(pos: Column, rel: Column) =
        (floor(gain(rel) / (log(pos.cast("double") + lit(1.0)) / log(lit(2.0)))
          * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)")
      val dcg = top.groupBy("query_id")
        .agg(sum(term(col("rnk"), col("rel"))).as("dcg"))
      val ideal = top.withColumn("irnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("rel").desc, col("doc_id"))))
      val idcg = ideal.groupBy(col("query_id").as("qid2"))
        .agg(sum(term(col("irnk"), col("rel"))).as("idcg"))
      dcg.join(idcg, col("query_id") === col("qid2"))
        .select(col("query_id"),
          col("dcg").cast("double").as("dcg"),
          col("idcg").cast("double").as("idcg"),
          (floor(col("dcg").cast("double") / col("idcg").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)).as("ndcg"))
        .orderBy("query_id")
    },
      // NDCG@10: integer CASE gains, ln-ratio discounts, floor-6 +
      // decimal DCG/IDCG, ideal = same top-10 re-ranked (rel DESC, doc)
      bm25Oracle(
        """, top AS (SELECT query_id, CAST(rnk AS INTEGER) AS pos, doc_id,
                            n_terms_matched AS rel
                     FROM r WHERE rnk <= 10),
              ideal AS (SELECT query_id, rel,
                          row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS pos
                        FROM top),
              dcg AS (SELECT query_id,
                        sum(CAST(floor((CASE WHEN rel = 1 THEN 1.0 WHEN rel = 2 THEN 3.0
                                             WHEN rel = 3 THEN 7.0 ELSE 15.0 END)
                          / (ln(CAST(pos AS DOUBLE) + 1.0) / ln(2.0)) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS dcg
                      FROM top GROUP BY 1),
              idcg AS (SELECT query_id,
                         sum(CAST(floor((CASE WHEN rel = 1 THEN 1.0 WHEN rel = 2 THEN 3.0
                                              WHEN rel = 3 THEN 7.0 ELSE 15.0 END)
                           / (ln(CAST(pos AS DOUBLE) + 1.0) / ln(2.0)) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS idcg
                       FROM ideal GROUP BY 1)
           SELECT dcg.query_id, CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
                  floor(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ndcg
           FROM dcg JOIN idcg ON dcg.query_id = idcg.query_id ORDER BY dcg.query_id""")),

    // Mean-average-precision eval — completes the IR-metric suite
    // (NDCG graded, RRF fused, RBO rank-similarity, AUC threshold-free):
    // binary relevance = matched ≥ 2 query terms over the shared BM25
    // top-10; AP = Σ_{k rel} P@k / R via a per-query prefix-sum window
    // (rank-bounded input, never corpus-scale); P@k terms floor-round to
    // 6 dp and DECIMAL-sum. Queries with no relevant docs report AP 0
    // rather than dropping out.
    Query("x_map_eval", (s, dir) => {
      val top = bm25TopK(s, dir).select(col("query_id"), col("rnk"),
        (col("n_terms_matched") >= 2).cast("int").as("rel"))
      val w = Window.partitionBy("query_id").orderBy("rnk")
      top.withColumn("cum", sum(col("rel")).over(w))
        .withColumn("pterm", when(col("rel") === 1,
          (floor(col("cum").cast("double") / col("rnk").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
            .cast("decimal(28,6)")))
        .groupBy("query_id").agg(
          sum(col("rel")).cast("long").as("n_rel"),
          coalesce(sum(col("pterm")), lit(0).cast("decimal(28,6)")).as("sum_p"))
        .select(col("query_id"), col("n_rel"),
          when(col("n_rel") === 0, lit(0.0)).otherwise(
            floor(col("sum_p").cast("double") / col("n_rel").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("ap"))
        .orderBy("query_id")
    },
      // MAP over the shared BM25 ranking, binary relevance = >=2 terms
      bm25Oracle(
        """, top AS (SELECT query_id, CAST(rnk AS INTEGER) AS pos,
                            CASE WHEN n_terms_matched >= 2 THEN 1 ELSE 0 END AS rel
                     FROM r WHERE rnk <= 10),
              pr AS (SELECT query_id, pos, rel,
                       sum(rel) OVER (PARTITION BY query_id ORDER BY pos) AS cum
                     FROM top),
              ap AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel,
                       coalesce(sum(CASE WHEN rel = 1
                         THEN CAST(floor(CAST(cum AS DOUBLE) / pos * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) END),
                         0) AS sum_p
                     FROM pr GROUP BY 1)
           SELECT query_id, n_rel,
                  CASE WHEN n_rel = 0 THEN 0.0
                       ELSE floor(CAST(sum_p AS DOUBLE) / n_rel * 1e6 + 0.5) / 1e6 END AS ap
           FROM ap ORDER BY query_id""")),

    // Incremental BM25 index maintenance: document-frequency tables are
    // MERGEABLE — a new-docs delta batch contributes its own df counts
    // and the index is the per-term SUM, never a recompute over the
    // base corpus (the x_dedup_incremental discipline applied to the
    // retrieval index). This query rebuilds the top-20 df ranking from
    // base(80%) + delta(20%) partial counts; the oracle recomputes from
    // the full corpus in one pass — hash equality IS the mergeability
    // proof.
    Query("x_bm25_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      def dfOf(d: DataFrame): DataFrame = d
        .select(col("doc_id"),
          explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
        .distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val base = dfOf(docs.filter(col("doc_id") % 5 =!= 0))
      val delta = dfOf(docs.filter(col("doc_id") % 5 === 0))
      val merged = base.unionByName(delta)
        .groupBy("term").agg(sum(col("df")).as("df"))
      merged.orderBy(col("df").desc, col("term")).limit(20)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(constKey(col("df"))).orderBy(col("df").desc, col("term"))))
        .select(col("rnk"), col("term"), col("df"))
        .orderBy("rnk")
    },
      // incremental BM25 stats: full-corpus one-pass df recompute — the
      // mergeability check against the Spark base+delta sum
      """WITH toks AS (SELECT DISTINCT doc_id,
                        unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
                      FROM documents),
                dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
                top AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rnk
                        FROM dfreq QUALIFY rnk <= 20)
           SELECT CAST(rnk AS INTEGER) AS rnk, term, df FROM top ORDER BY rnk"""),

    // Pseudo-relevance-feedback query expansion (RM3-lite): the top-5
    // non-query terms of each query's top-3 BM25 docs, weighted by
    // tf·idf summed across the feedback docs — the standard recall-
    // boosting rewrite before a second retrieval pass. Reuses the exact
    // bm25Parts frames; round-6 per-doc-term weights + decimal sums;
    // original query terms anti-joined out; top-5 per query via
    // WindowGroupLimit.
    Query("x_query_expansion", (s, dir) => {
      val (_, tf, dfreq, stats, qterms) = bm25Parts(t(s, dir, "documents"))
      val top3 = bm25TopK(s, dir).filter(col("rnk") <= 3).select("query_id", "doc_id")
      val cand = tf.join(top3, "doc_id")
        .join(dfreq, "term").crossJoin(broadcast(stats))
        .withColumn("tw", round(bm25Idf * col("tf").cast("double"), 6).cast("decimal(18,6)"))
        .join(qterms, Seq("query_id", "term"), "left_anti")
        .groupBy("query_id", "term")
        .agg(count(lit(1)).as("n_docs_in"), sum(col("tw")).as("wdec"))
      val w = Window.partitionBy("query_id").orderBy(col("wdec").desc, col("term"))
      cand.withColumn("exp_rank", row_number().over(w)).filter(col("exp_rank") <= 5)
        .select(col("query_id"), col("exp_rank"), col("term"), col("n_docs_in"),
          col("wdec").cast("double").as("weight"))
        .orderBy("query_id", "exp_rank")
    },
      // query expansion: top-3 feedback docs, tf·idf round-6 + decimal
      // sums, query terms excluded, top-5 per query
      bm25Oracle(
        """, top3 AS (SELECT query_id, doc_id FROM r WHERE rnk <= 3),
              cand AS (SELECT t3.query_id, tf.term,
                         count(*) AS n_docs_in,
                         sum(CAST(round(ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
                           * CAST(tf.tf AS DOUBLE), 6) AS DECIMAL(18,6))) AS wdec
                       FROM tf JOIN top3 t3 USING (doc_id)
                       JOIN dfreq USING (term) CROSS JOIN stats
                       LEFT JOIN qt ON qt.query_id = t3.query_id AND qt.term = tf.term
                       WHERE qt.term IS NULL
                       GROUP BY 1, 2),
              rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY wdec DESC, term) AS exp_rank
                     FROM cand)
           SELECT query_id, CAST(exp_rank AS INTEGER) AS exp_rank, term, n_docs_in,
                  CAST(wdec AS DOUBLE) AS weight
           FROM rk WHERE exp_rank <= 5 ORDER BY query_id, exp_rank""")),

    // Expected Reciprocal Rank @10 (Chapelle 2009) of the BM25 ranking —
    // the cascade-model metric NDCG's static discount can't express:
    // ERR = Σ_r R_r/r · Π_{i<r}(1−R_i) with stopping probability
    // R = (2^min(rel,4)−1)/16. The four R values are DYADIC (x/16), so
    // the cumulative continue-products are EXACT doubles (≤10 four-bit
    // mantissas < 53 bits); per-rank terms floor-6 + DECIMAL-sum. Spark
    // folds the per-query top-10 in an aggregate HOF; DuckDB replays the
    // identical product via a windowed product() — both bit-equal
    // because every multiplication is exact.
    Query("x_err_rank", (s, dir) => {
      val top = bm25TopK(s, dir).select(col("query_id"), col("rnk"),
        col("n_terms_matched").cast("int").as("rel"))
      val arr = top.groupBy("query_id")
        .agg(sort_array(collect_list(struct(col("rnk"), col("rel")))).as("a"))
      val folded = arr.withColumn("st", expr(
        """aggregate(a,
             named_struct('p', CAST(1.0 AS DOUBLE), 'terms', CAST(array() AS ARRAY<DOUBLE>)),
             (st, e) -> named_struct(
               'p', st.p * (1.0D - (CASE WHEN e.rel <= 1 THEN 0.0625D WHEN e.rel = 2 THEN 0.1875D WHEN e.rel = 3 THEN 0.4375D ELSE 0.9375D END)),
               'terms', concat(st.terms, array(
                 floor((CASE WHEN e.rel <= 1 THEN 0.0625D WHEN e.rel = 2 THEN 0.1875D WHEN e.rel = 3 THEN 0.4375D ELSE 0.9375D END) * st.p / CAST(e.rnk AS DOUBLE) * 1e6 + 0.5D) / 1e6))))"""))
      folded.select(col("query_id"), explode(col("st.terms")).as("term"))
        .groupBy("query_id").agg(
          count(lit(1)).as("n_top"),
          sum(col("term").cast("decimal(28,6)")).cast("double").as("err"))
        .orderBy("query_id")
    },
      // ERR: dyadic stopping probs make the continue-product exact; the
      // windowed product() replays Spark's fold multiplication-for-
      // multiplication; per-rank terms floor-6 + decimal sums
      bm25Oracle(
        """, top AS (SELECT query_id, CAST(rnk AS INTEGER) AS rnk,
                            CAST(n_terms_matched AS INTEGER) AS rel
                     FROM r WHERE rnk <= 10),
              pr AS (SELECT query_id, rnk, rel,
                       coalesce(product(CAST(1.0 AS DOUBLE)
                           - (CASE WHEN rel <= 1 THEN CAST(0.0625 AS DOUBLE)
                                   WHEN rel = 2 THEN CAST(0.1875 AS DOUBLE)
                                   WHEN rel = 3 THEN CAST(0.4375 AS DOUBLE)
                                   ELSE CAST(0.9375 AS DOUBLE) END))
                         OVER (PARTITION BY query_id ORDER BY rnk
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         CAST(1.0 AS DOUBLE)) AS p
                     FROM top),
              tm AS (SELECT query_id,
                       CAST(floor((CASE WHEN rel <= 1 THEN CAST(0.0625 AS DOUBLE)
                                        WHEN rel = 2 THEN CAST(0.1875 AS DOUBLE)
                                        WHEN rel = 3 THEN CAST(0.4375 AS DOUBLE)
                                        ELSE CAST(0.9375 AS DOUBLE) END)
                         * p / CAST(rnk AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS term
                     FROM pr)
           SELECT query_id, count(*) AS n_top, CAST(sum(term) AS DOUBLE) AS err
           FROM tm GROUP BY 1 ORDER BY 1""")),

    // Held-out LM evaluation — the proper train/test form of the LM
    // battery (x_bigram_lm fits in-sample; x_perplexity_prune scores
    // with a fixed model): an interpolated bigram LM (λ=0.75 bigram
    // MLE + 0.25 add-1 unigram over the TRAIN vocab) is fit on the
    // even-doc split and scored on the odd-doc split, reporting
    // per-source held-out cross-entropy and perplexity. Count tables
    // shuffle on token keys (map-side combined); scoring is three
    // left equi-joins; λ is dyadic so every probability is the same
    // IEEE chain in both engines; −ln p floor-6 + DECIMAL-sum.
    Query("x_lm_heldout", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toksArr = split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")
      val train = docs.filter(col("doc_id") % 2 === 0)
      val held = docs.filter(col("doc_id") % 2 === 1)
      val uni = train.select(explode(toksArr).as("w")).groupBy("w").agg(count(lit(1)).as("cw"))
      val nv = uni.agg(sum(col("cw")).as("n"), count(lit(1)).as("v"))
      val bi = train.select(toksArr.as("toks")).filter(size(col("toks")) >= 2)
        .select(explode(graft.functions.WordNgrams.wordNgrams(col("toks"), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cab"))
        .select(split(col("bg"), " ").getItem(0).as("a"),
          split(col("bg"), " ").getItem(1).as("b"), col("cab"))
      val ctx = bi.groupBy("a").agg(sum(col("cab")).as("ca"))
      val hb = held.select(col("source"), toksArr.as("toks")).filter(size(col("toks")) >= 2)
        .select(col("source"),
          explode(graft.functions.WordNgrams.wordNgrams(col("toks"), 2)).as("bg"))
        .select(col("source"), split(col("bg"), " ").getItem(0).as("a"),
          split(col("bg"), " ").getItem(1).as("b"))
      hb.join(bi, Seq("a", "b"), "left")
        .join(ctx, Seq("a"), "left")
        .join(uni.select(col("w").as("b"), col("cw")), Seq("b"), "left")
        .crossJoin(broadcast(nv))
        .withColumn("p",
          lit(0.75) * when(col("cab").isNotNull,
            col("cab").cast("double") / col("ca").cast("double")).otherwise(lit(0.0))
          + lit(0.25) * (coalesce(col("cw"), lit(0L)).cast("double") + lit(1.0))
            / (col("n").cast("double") + col("v").cast("double")))
        .withColumn("term",
          (floor(-log(col("p")) * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)"))
        .groupBy("source").agg(count(lit(1)).as("n_scored"), sum(col("term")).as("sh"))
        .withColumn("cross_entropy",
          floor(col("sh").cast("double") / col("n_scored").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .withColumn("perplexity",
          floor(exp(col("cross_entropy")) * lit(1e2) + lit(0.5)) / lit(1e2))
        .select("source", "n_scored", "cross_entropy", "perplexity")
        .orderBy("source")
    },
      // held-out interpolated LM: same counts/probability chain
      """WITH tk AS (SELECT doc_id, source,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                       FROM documents),
                uni AS (SELECT term, count(*) AS cw
                        FROM (SELECT unnest(tk) AS term FROM tk WHERE doc_id % 2 = 0) GROUP BY 1),
                nv AS (SELECT CAST(sum(cw) AS BIGINT) AS n, count(*) AS v FROM uni),
                tbg AS (SELECT tk[i] AS a, tk[i+1] AS b, count(*) AS cab
                        FROM tk, unnest(generate_series(1, len(tk) - 1)) AS u(i)
                        WHERE doc_id % 2 = 0 AND len(tk) >= 2 GROUP BY 1, 2),
                ctx AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM tbg GROUP BY 1),
                hb AS (SELECT source, tk[i] AS a, tk[i+1] AS b
                       FROM tk, unnest(generate_series(1, len(tk) - 1)) AS u(i)
                       WHERE doc_id % 2 = 1 AND len(tk) >= 2),
                sc AS (SELECT hb.source,
                         0.75 * (CASE WHEN tbg.cab IS NOT NULL
                                 THEN CAST(tbg.cab AS DOUBLE) / ctx.ca ELSE 0.0 END)
                         + 0.25 * (CAST(coalesce(uni.cw, 0) AS DOUBLE) + 1.0)
                           / (CAST(nv.n AS DOUBLE) + nv.v) AS p
                       FROM hb
                       LEFT JOIN tbg ON tbg.a = hb.a AND tbg.b = hb.b
                       LEFT JOIN ctx ON ctx.a = hb.a
                       LEFT JOIN uni ON uni.term = hb.b
                       CROSS JOIN nv),
                ag AS (SELECT source, count(*) AS n_scored,
                         sum(CAST(floor(-ln(p) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS sh
                       FROM sc GROUP BY 1),
                ce AS (SELECT source, n_scored,
                         floor(CAST(sh AS DOUBLE) / n_scored * 1e4 + 0.5) / 1e4 AS cross_entropy
                       FROM ag)
           SELECT source, n_scored, cross_entropy,
                  floor(exp(cross_entropy) * 1e2 + 0.5) / 1e2 AS perplexity
           FROM ce ORDER BY source"""),

    // PMI collocations (corpus linguistics' bigram-association score —
    // the phrase-mining step behind tokenizer/vocab decisions): adjacent
    // word pairs with count >= 5, pmi = ln((n_ab/B)/((n_a/T)(n_b/T))).
    // Two counting aggregations (bigrams via the native WordNgrams
    // kernel, cached — the count>=5 table and the B total share one
    // pass); the hot-pair table joins the unigram counts PLAIN (vocab is
    // 10^8+ at web scale — AQE picks broadcast only when it fits, the
    // BPE size-gating lesson); top-50 via TakeOrdered, never a global
    // window. Docs under 2 tokens are excluded from the bigram side on
    // both engines (the kernel emits a whole-text pseudo-gram for those).
    Query("x_collocations", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toksArr = split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")
      val uni = docs.select(explode(toksArr).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
      val tot = uni.agg(sum(col("n")).as("t"))
      val bgAll = CacheScope.cached(docs.select(toksArr.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(graft.functions.WordNgrams.wordNgrams(col("toks"), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n_ab"))
      ) // hot-pair filter and the B total share this table
      val btot = bgAll.agg(sum(col("n_ab")).as("bt"))
      val bi = bgAll.filter(col("n_ab") >= 5)
        .withColumn("a", split(col("bg"), " ").getItem(0))
        .withColumn("b", split(col("bg"), " ").getItem(1))
      val scored = bi
        .join(uni.select(col("term").as("a"), col("n").as("n_a")), "a")
        .join(uni.select(col("term").as("b"), col("n").as("n_b")), "b")
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(btot))
        .withColumn("pmi", round(
          log((col("n_ab").cast("double") / col("bt").cast("double")) /
            ((col("n_a").cast("double") / col("t").cast("double")) *
              (col("n_b").cast("double") / col("t").cast("double")))), 6))
      scored.orderBy(col("pmi").desc, col("a"), col("b")).limit(50)
        .select("a", "b", "n_ab", "n_a", "n_b", "pmi")
    },
      // collocations: same bigram/unigram counts, ln of the identical
      // double quotient chain, round-6
      """WITH tk AS (SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk FROM documents),
                un AS (SELECT term, count(*) AS n
                       FROM (SELECT unnest(tk) AS term FROM tk) GROUP BY term),
                tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM un),
                bgr AS (SELECT array_to_string(tk[i:i+1], ' ') AS bg
                        FROM tk, unnest(generate_series(1, len(tk) - 1)) AS u(i)
                        WHERE len(tk) >= 2),
                bga AS (SELECT bg, count(*) AS n_ab FROM bgr GROUP BY bg),
                btot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS bt FROM bga),
                bi AS (SELECT n_ab, string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b
                       FROM bga WHERE n_ab >= 5),
                sc AS (SELECT a, b, n_ab, ua.n AS n_a, ub.n AS n_b,
                         round(ln((CAST(n_ab AS DOUBLE) / bt) /
                           ((CAST(ua.n AS DOUBLE) / t) * (CAST(ub.n AS DOUBLE) / t))), 6) AS pmi
                       FROM bi JOIN un ua ON bi.a = ua.term JOIN un ub ON bi.b = ub.term
                       CROSS JOIN tot CROSS JOIN btot)
           SELECT a, b, n_ab, n_a, n_b, pmi FROM sc ORDER BY pmi DESC, a, b LIMIT 50"""),

    // Positional phrase search — the exact-phrase counterpart of
    // x_bm25_search's bag-of-words ranking: consecutive-token adjacency
    // via a positional-postings equi-join on (doc_id, pos+1) — each
    // posting matches at most one successor, so the join is LINEAR in
    // corpus tokens, never quadratic. Self-probing: the corpus's top
    // bigram (count desc, lexicographic tiebreak — a TakeOrdered top-1,
    // no global window) becomes the query phrase, so the query is
    // corpus-independent. Returns per-doc hit counts, the inverted
    // positional-index access path a 100 TB phrase query needs (probe
    // broadcast, postings never reshuffled).
    Query("x_phrase_search", (s, dir) => {
      val toksArr = split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")
      val tk = t(s, dir, "documents").select(col("doc_id"), posexplode(toksArr))
        .select(col("doc_id"), col("pos"), col("col").as("term"))
      val bg = tk.join(
        tk.select(col("doc_id"), (col("pos") - 1).as("pos"), col("term").as("nxt")),
        Seq("doc_id", "pos"))
      val top = bg.groupBy(col("term"), col("nxt")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"), col("nxt")).limit(1)
        .select(col("term"), col("nxt"))
      bg.join(broadcast(top), Seq("term", "nxt"))
        .groupBy("doc_id")
        .agg(first(concat_ws(" ", col("term"), col("nxt"))).as("phrase"),
          count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },
      // phrase search: positional adjacency, corpus top bigram as probe
      """WITH tk AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                       FROM documents),
                bg AS (SELECT doc_id, tk[i] AS term, tk[i+1] AS nxt
                       FROM tk, unnest(generate_series(1, len(tk) - 1)) AS u(i)
                       WHERE len(tk) >= 2),
                top AS (SELECT term, nxt
                        FROM (SELECT term, nxt, count(*) AS n FROM bg GROUP BY 1, 2)
                        ORDER BY n DESC, term, nxt LIMIT 1)
           SELECT doc_id, term || ' ' || nxt AS phrase, count(*) AS n_hits
           FROM bg JOIN top USING (term, nxt)
           GROUP BY 1, 2 ORDER BY doc_id"""),

    // Class-based TF-IDF (the BERTopic c-TF-IDF form) — topic signature
    // terms PER SOURCE rather than per document: treat each source's
    // concatenated text as one class document, score
    // tf_norm · ln(1 + A/f_t) with A = mean tokens/source and f_t the
    // corpus term frequency, keep the top 5 terms per source. Two
    // map-side-combined count aggregations; ranking is a per-source
    // window over the source-term table (WindowGroupLimit ships ≤5 per
    // source). The "what is this source about" curation view.
    Query("x_ctfidf_terms", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("term"))
      val st = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val srcTot = st.groupBy("source").agg(sum(col("tf")).as("n_src"))
      val corpusF = st.groupBy("term").agg(sum(col("tf")).as("f"))
      val a = srcTot.agg((sum(col("n_src")).cast("double")
        / count(lit(1)).cast("double")).as("a"))
      val scored = st.join(srcTot, "source").join(corpusF, "term").crossJoin(broadcast(a))
        .withColumn("score",
          floor(col("tf").cast("double") / col("n_src").cast("double")
            * log(lit(1.0) + col("a") / col("f").cast("double"))
            * lit(1e6) + lit(0.5)) / lit(1e6))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("score").desc, col("term"))))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("term"), col("tf"), col("score"))
        .orderBy("source", "rk")
    },
      // c-TF-IDF: per-source class signature terms
      s"""WITH tk AS (SELECT source, unnest($toksE) AS term FROM documents),
                st AS (SELECT source, term, count(*) AS tf FROM tk GROUP BY 1, 2),
                tot AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_src FROM st GROUP BY 1),
                cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS f FROM st GROUP BY 1),
                a AS (SELECT CAST(sum(n_src) AS DOUBLE) / count(*) AS a FROM tot),
                sc AS (SELECT st.source, st.term, st.tf,
                         floor(CAST(st.tf AS DOUBLE) / n_src * ln(1.0 + a / f) * 1e6 + 0.5) / 1e6 AS score
                       FROM st JOIN tot USING (source) JOIN cf USING (term) CROSS JOIN a),
                r AS (SELECT source, term, tf, score,
                        row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rk
                      FROM sc)
           SELECT source, CAST(rk AS INTEGER) AS rk, term, tf, score
           FROM r WHERE rk <= 5 ORDER BY source, rk"""),

    Query("x_tfidf_top_terms", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
      val toks = docs.select(col("doc_id"),
        explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * ((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1))), 4))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "score")
        .orderBy("doc_id", "rnk")
    },
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
             toks AS (SELECT doc_id,
                        unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
                      FROM docs),
             tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
             dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
             n AS (SELECT count(*) AS n_docs FROM docs),
             scored AS (SELECT tf.doc_id, tf.term,
                          round(tf * (CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 4) AS score
                        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
             r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
                   FROM scored)
           SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, score
           FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"""),

    // sequence packing (concat-and-chunk, 256-token packs): every document
    // span cut into the fixed-budget packs it overlaps — the padding-free
    // context-window fill step of a training pipeline. Global token
    // offsets via the distributed prefix-sum (graft.ext.Packing), never a
    // single-task window.
    Query("x_seq_packing", (s, dir) =>
      Packing.packSequences(t(s, dir, "documents"), "doc_id", TF.tokenCount(col("text")), budget = 256)
        .orderBy("doc_id", "pack_id"),
      // concat-and-chunk packing: exclusive prefix-sum of token counts in
      // doc_id order, then every 256-token boundary a doc's span crosses
      s"""WITH t AS (SELECT doc_id, CAST(len($toksE) AS BIGINT) AS n FROM documents),
                 c AS (SELECT doc_id, n,
                         CAST(sum(n) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS s
                       FROM t WHERE n > 0),
                 e AS (SELECT doc_id, n, s, unnest(range(s // 256, (s + n - 1) // 256 + 1)) AS p FROM c)
            SELECT doc_id, n AS n_tokens, s AS tok_start, CAST(p AS BIGINT) AS pack_id,
                   CAST(least(s + n, (p + 1) * 256) - greatest(s, p * 256) AS BIGINT) AS toks_in_pack
            FROM e ORDER BY doc_id, pack_id"""),

    // length bucketing for pad-to-max batches (the packing alternative
    // when examples can't concatenate): per-bucket token stats +
    // padding_waste = n*max - sum, with the zz_all corpus row showing the
    // waste bucketing avoids. One map-side-combined groupBy
    Query("x_length_buckets", (s, dir) =>
      Packing.lengthBucketStats(
        t(s, dir, "documents"), TF.tokenCount(col("text")), Seq(32, 48, 64, 80)),
      s"""WITH d AS (SELECT len($toksE) AS n FROM documents),
                 lb AS (SELECT CASE WHEN n < 32 THEN 'b00_lt032'
                                    WHEN n < 48 THEN 'b01_032_048'
                                    WHEN n < 64 THEN 'b02_048_064'
                                    WHEN n < 80 THEN 'b03_064_080'
                                    ELSE 'b04_ge080' END AS bucket, n FROM d),
                 g AS (SELECT bucket, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens,
                              max(n) AS max_tokens FROM lb GROUP BY 1),
                 a AS (SELECT 'zz_all' AS bucket, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens,
                              max(n) AS max_tokens FROM lb),
                 u AS (SELECT * FROM g UNION ALL SELECT * FROM a)
            SELECT bucket, n_docs, sum_tokens, max_tokens,
                   CAST(max_tokens * n_docs - sum_tokens AS BIGINT) AS padding_waste
            FROM u ORDER BY bucket"""),

    // benchmark decontamination audit: per held-out benchmark doc
    // (doc_id % 97 = 0), how many training docs share a word 4-gram with
    // it (test-set leakage detection; broadcast n-gram probe, the corpus
    // never shuffles — graft.ext.Decontaminate)
    Query("x_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4)
        .orderBy("bench_doc_id")
    },
      // word 4-grams; i ranges 1 .. len(w)-3 (all docs have >=10 tokens,
      // so the short-doc fallback branch of Dedup.shingles never fires)
      s"""WITH words AS (SELECT doc_id, $toksE AS w FROM documents),
                 bg AS (SELECT DISTINCT doc_id AS bench_doc_id, array_to_string(w[i:i+3], ' ') AS g
                        FROM words, unnest(range(1, len(w) - 2)) u(i) WHERE doc_id % 97 = 0),
                 tg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g
                        FROM words, unnest(range(1, len(w) - 2)) u(i) WHERE doc_id % 97 <> 0),
                 hits AS (SELECT bench_doc_id, count(DISTINCT doc_id) AS n_contam_docs,
                                 count(*) AS n_hits
                          FROM tg JOIN bg USING (g) GROUP BY 1)
            SELECT d.doc_id AS bench_doc_id,
                   CAST(coalesce(h.n_contam_docs, 0) AS BIGINT) AS n_contam_docs,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
            FROM documents d LEFT JOIN hits h ON h.bench_doc_id = d.doc_id
            WHERE d.doc_id % 97 = 0 ORDER BY 1"""),

    // heavy hitters: exact tokens above 2% corpus frequency, each checked
    // against the one-pass bounded-memory freqItems sketch whose guarantee
    // forces in_sketch TRUE (graft.ext.Sketches — the sketch is the scale
    // path, the exact list is the verifiable gate)
    Query("x_heavy_hitters", (s, dir) =>
      Sketches.heavyHittersChecked(
        t(s, dir, "documents").select(explode(TF.tokens(col("text"))).as("term")),
        "term", num = 1, denom = 50)
        .orderBy("key"),
      // exact heavy hitters (> 2%); in_sketch is TRUE by the freqItems
      // containment guarantee — the oracle pins the gate
      s"""WITH toks AS (SELECT unnest($toksE) AS key FROM documents),
                 tot AS (SELECT count(*) AS n FROM toks)
            SELECT key, count(*) AS cnt, TRUE AS in_sketch
            FROM toks, tot GROUP BY key, tot.n HAVING count(*) * 50 > tot.n * 1
            ORDER BY key"""),

    // count-min sketch point frequencies: exact top-20 token counts each
    // carrying the CMS two-sided guarantee (never undercounts; over by at
    // most ceil(eps*N)) — deterministic bits under the fixed seed. The
    // sketch is the mergeable one-pass scale path for point-frequency
    // queries; the exact top list is the verifiable gate (graft.ext.Sketches)
    Query("x_count_min", (s, dir) =>
      Sketches.countMinChecked(
        t(s, dir, "documents").select(explode(TF.tokens(col("text"))).as("term")),
        "term", topK = 20, eps = 1e-4, confidence = 0.99, seed = 42)
        .orderBy(col("cnt").desc, col("key")),
      // exact top-20 token counts (ties broken by key at the rank-20
      // boundary); both CMS bounds are deterministic TRUE under the seed
      s"""WITH toks AS (SELECT unnest($toksE) AS key FROM documents)
            SELECT key, CAST(count(*) AS BIGINT) AS cnt,
                   TRUE AS lower_ok, TRUE AS upper_ok
            FROM toks GROUP BY key
            ORDER BY cnt DESC, key LIMIT 20"""),

    // overlapping token-window chunking (RAG/embedding prep): 64-token
    // windows at stride 48 — chunk construction is scan-speed per-row
    // HOF work (TextFunctions.chunkTokens), the explode happens only at
    // the consumer
    Query("x_doc_chunks", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TF.chunkTokens(col("text"), 64, 48)).as(Seq("chunk_idx", "chunk_text")))
        .withColumn("n_chunk_tokens", size(split(col("chunk_text"), " ")))
        .orderBy("doc_id", "chunk_idx"),
      s"""WITH words AS (SELECT doc_id, $toksE AS w FROM documents),
                 c AS (SELECT doc_id, w,
                         CASE WHEN len(w) <= 64 THEN 1
                              ELSE CAST((len(w) - 64 + 47) // 48 AS INTEGER) + 1 END AS nc
                       FROM words),
                 e AS (SELECT doc_id, w, unnest(range(0, nc)) AS i FROM c)
            SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                   array_to_string(w[i*48+1 : i*48+64], ' ') AS chunk_text,
                   CAST(len(w[i*48+1 : i*48+64]) AS INTEGER) AS n_chunk_tokens
            FROM e ORDER BY doc_id, chunk_idx"""),

    // intra-document repetition profile (Gopher-style quality signal):
    // duplicated bigram/trigram fractions, pure per-row HOF arithmetic
    Query("x_repetition", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(TF.ngramsAll(col("text"), 2)).as("n_bigrams"),
        size(array_distinct(TF.ngramsAll(col("text"), 2))).as("n_distinct_bigrams"),
        TF.repetitionRatio(col("text"), 2).as("rep2"),
        TF.repetitionRatio(col("text"), 3).as("rep3"))
        .orderBy("doc_id"),
      // duplicated-n-gram slots; all docs have >=10 tokens so the
      // short-doc branch never fires
      s"""WITH words AS (SELECT doc_id, $toksE AS w FROM documents),
                 g AS (SELECT doc_id,
                         list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) AS g2,
                         list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) AS g3
                       FROM words)
            SELECT doc_id, CAST(len(g2) AS INTEGER) AS n_bigrams,
                   CAST(len(list_distinct(g2)) AS INTEGER) AS n_distinct_bigrams,
                   round(1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4) AS rep2,
                   round(1 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4) AS rep3
            FROM g ORDER BY doc_id"""),

    // deterministic mixture sampling audit: per-source corpus vs kept
    // counts under content-hash thresholds (src0 keep-all, src1 half,
    // src2 quarter, everything else 10%) — reproducible downsampling with
    // no rand() state, one scan (graft.ext.Mixture)
    Query("x_source_mixture", (s, dir) =>
      Mixture.mixtureReport(t(s, dir, "documents"), "source", "text",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .orderBy("source"),
      // thresholds are round(rate * 2^24): 1.0 -> 16777216, 0.5 -> 8388608,
      // 0.25 -> 4194304, default 0.1 -> 1677722
      """WITH k AS (SELECT source, CAST(('0x' || substring(md5(text), 1, 6)) AS INTEGER) AS h
                      FROM documents)
           SELECT source, count(*) AS n_total,
                  CAST(sum(CASE WHEN h < (CASE source WHEN 'src0' THEN 16777216
                                                      WHEN 'src1' THEN 8388608
                                                      WHEN 'src2' THEN 4194304
                                                      ELSE 1677722 END)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                  round(CAST(sum(CASE WHEN h < (CASE source WHEN 'src0' THEN 16777216
                                                            WHEN 'src1' THEN 8388608
                                                            WHEN 'src2' THEN 4194304
                                                            ELSE 1677722 END)
                                 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS kept_rate
           FROM k GROUP BY source ORDER BY source"""),

    // product-quantization ANN (graft.ext.PQ): 64-dim float vectors
    // compressed to 16 4-bit-ish codes, searched by ADC table lookups,
    // shortlist reranked exactly — recall@10-gated per decile. The
    // compressed scan is the 100 TB memory-bandwidth path; the gate
    // measures what the compression cost (min decile 0.98 at sf0.1).
    // int8 scalar quantization (SQ8): 4x-compressed corpus scored
    // asymmetrically (exact query vs dequantized codes), exact rerank of
    // the shortlist — the storage-tier below PQ; same per-decile recall
    // gate. SQ8 distortion is tiny (<0.4% of each dim's span), so the gate
    // holds at a much smaller shortlist than PQ needs
    Query("x_sq_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      Similarity.recallByDecile(
        Similarity.bruteTopK(e, q, "vec_id", "embedding", 10),
        Similarity.sqTopK(e, q, "vec_id", "embedding", 10, dim = 64, shortlist = 50),
        minRecallPct = 95)
    },
      recallByDecileSql),

    // binary (1-bit) quantization — the 64x end of the compression ladder:
    // one long per vector, Hamming (bit_count(xor)) shortlist, exact
    // rerank; same per-decile recall gate. One-bit distortion on this
    // isotropic corpus needs a deeper shortlist than SQ8's to hold 90%
    Query("x_bq_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      Similarity.recallByDecile(
        Similarity.bruteTopK(e, q, "vec_id", "embedding", 10),
        Similarity.bqTopK(e, q, "vec_id", "embedding", 10, dim = 64, shortlist = 400),
        minRecallPct = 90)
    },
      recallByDecileSql),

    Query("x_pq_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      val model = PQ.train(e, "vec_id", "embedding", dim = 64, m = 16, k = 32)
      Similarity.recallByDecile(
        Similarity.bruteTopK(e, q, "vec_id", "embedding", 10),
        PQ.adcTopK(e, q, "vec_id", "embedding", 10, model, shortlist = 300),
        minRecallPct = 90)
    },
      recallByDecileSql),

    // IVF-PQ composition (coarse cells route, PQ codes score, exact
    // rerank) — both approximations compound, so the same per-decile
    // recall gate is the contract; probe/shortlist sized for the
    // compounded loss on this worst-case isotropic corpus
    Query("x_ivfpq_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      // iters=0 = the deterministic hash-ranked sample (the ivfTopK
      // quantizer); the kmeans-refined variant is gated separately
      val (cents, _) = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 16, iters = 0, dim = 64)
      val model = PQ.train(e, "vec_id", "embedding", dim = 64, m = 16, k = 32)
      Similarity.recallByDecile(
        Similarity.bruteTopK(e, q, "vec_id", "embedding", 10),
        PQ.ivfAdcTopK(e, q, "vec_id", "embedding", 10, cents, nProbe = 15, model, shortlist = 400),
        minRecallPct = 90)
    },
      recallByDecileSql),

    // IVF over k-means-TRAINED centroids (3 Lloyd iterations refining the
    // hash-sampled quantizer), recall@10-gated per decile like
    // x_ann_ivf_recall — proves the trained coarse quantizer holds the
    // same recall bar as the probe-heavy sampled one
    Query("x_kmeans_ivf_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      val (cents, _) = Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 16, iters = 3, dim = 64)
      Similarity.recallByDecile(
        Similarity.bruteTopK(e, q, "vec_id", "embedding", 10),
        Similarity.ivfTopKWith(e, q, "vec_id", "embedding", 10, cents, nProbe = 14),
        minRecallPct = 90)
    },
      recallByDecileSql),

    // PII redaction (graft.ext.Scrub): deterministic PII salted into the
    // text ON BOTH SIDES (the synthetic corpus contains none), then
    // counted and masked by RE2/Java-portable regexes in one scan-fused
    // projection — redacting 100 TB is a map over the scan, zero shuffle
    Query("x_pii_redact", (s, dir) => {
      val salted = t(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now")))
            .when(col("doc_id") % 3 === 1,
              concat(lit(" server 10.0."), (col("doc_id") % 256).cast("string"),
                lit("."), (col("doc_id") % 100).cast("string"), lit(" up")))
            .otherwise(
              concat(lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
                lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
                lit(" today")))).as("text"))
      Scrub.redactPii(salted, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("text").as("redacted"))
        .orderBy("doc_id")
    },
      // PII patterns are the Scrub.* constants verbatim (RE2-compatible);
      // DuckDB regexp_replace needs the 'g' flag to match Java's
      // replace-all
      s"""WITH salted AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 3 = 0
                                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                                  WHEN doc_id % 3 = 1
                                  THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || ' up'
                                  ELSE ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                             END AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '${Scrub.emailRe}')) AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(text, '${Scrub.ipv4Re}')) AS INTEGER) AS n_ips,
                   CAST(len(regexp_extract_all(text, '${Scrub.phoneRe}')) AS INTEGER) AS n_phones,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '${Scrub.emailRe}', '<EMAIL>', 'g'),
                     '${Scrub.ipv4Re}', '<IP>', 'g'),
                     '${Scrub.phoneRe}', '<PHONE>', 'g') AS redacted
            FROM salted ORDER BY doc_id"""),

    // cross-document boilerplate removal (RefinedWeb/C4-style repeated-line
    // dedup over 4-token segments): segment doc-frequency is the one
    // corpus exchange; the hot set joins back BROADCAST and each doc is
    // rebuilt by a per-row array filter — corpus text never shuffles
    Query("x_boilerplate", (s, dir) =>
      Scrub.removeBoilerplate(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", m = 4, minDf = 3)
        .select(col("doc_id"), col("n_segs"), col("n_removed"),
          col("text").as("clean_text"))
        .orderBy("doc_id"),
      s"""WITH words AS (SELECT doc_id, $toksE AS w FROM documents),
                 segl AS (SELECT doc_id,
                            list_transform(range(0, CAST(ceil(len(w) / 4.0) AS BIGINT)),
                              i -> array_to_string(w[i*4+1 : i*4+4], ' ')) AS segs
                          FROM words),
                 e AS (SELECT doc_id, unnest(list_distinct(segs)) AS seg FROM segl),
                 hot AS (SELECT seg FROM e GROUP BY seg HAVING count(*) >= 3),
                 bad AS (SELECT doc_id, list(seg) AS bads FROM e JOIN hot USING (seg) GROUP BY doc_id)
            SELECT s.doc_id, CAST(len(segs) AS INTEGER) AS n_segs,
                   CAST(len(segs) - len(list_filter(segs, x -> NOT list_contains(coalesce(b.bads, []), x))) AS INTEGER) AS n_removed,
                   coalesce(array_to_string(list_filter(segs, x -> NOT list_contains(coalesce(b.bads, []), x)), ' '), '') AS clean_text
            FROM segl s LEFT JOIN bad b USING (doc_id) ORDER BY doc_id"""),

    // cross-source contamination matrix: 10-token segments shared between
    // DIFFERENT sources — the provenance-leakage report run before
    // train/eval splits are drawn by source. Distinct (segment, source)
    // pairs self-join on the segment key (co-partitioned, multiplicity
    // bounded by source count); document text never rides an exchange
    // beyond its own distinct segments.
    Query("x_source_contamination", (s, dir) => {
      val seg = Tables.spread(t(s, dir, "documents"))
        .select(col("source"),
          explode(array_distinct(Scrub.segments(col("text"), 10))).as("seg"))
        // full segments only: the ceil-truncated 1-2 token tails are
        // common phrases, not provenance evidence
        .filter(size(split(col("seg"), " ")) === 10)
        .distinct()
      val a = seg.select(col("seg"), col("source").as("src_a"))
      val b = seg.select(col("seg"), col("source").as("src_b"))
      a.join(b, Seq("seg")).filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
        .orderBy("src_a", "src_b")
    },
      // contamination matrix: same ceil-truncated 10-token segmentation as
      // the Spark side; distinct (segment, source) self-join
      s"""WITH t AS (SELECT source, $toksE AS w FROM documents),
                 segl AS (SELECT source,
                            list_transform(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT)),
                              i -> array_to_string(w[i*10+1 : i*10+10], ' ')) AS segs
                          FROM t),
                 s AS (SELECT DISTINCT source, seg
                       FROM (SELECT source, unnest(segs) AS seg FROM segl)
                       WHERE len(string_split(seg, ' ')) = 10),
                 p AS (SELECT a.source AS src_a, b.source AS src_b
                       FROM s a JOIN s b ON a.seg = b.seg AND a.source < b.source)
           SELECT src_a, src_b, count(*) AS n_shared
           FROM p GROUP BY 1, 2 ORDER BY 1, 2"""),

    // winnowing fingerprints (Schleimer et al. SIGMOD'03): window-min of
    // 24-bit k-gram hashes — any shared 6-token run between two docs is
    // guaranteed a shared fingerprint at ~2/(w+1) gram density; pure
    // per-row HOF projection (TextFunctions.winnowFingerprints)
    Query("x_winnow_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.winnowFingerprints(col("text"), 3, 4).as("__fps"))
        .select(col("doc_id"), size(col("__fps")).as("n_fps"),
          concat_ws(",", transform(col("__fps"), x => x.cast("string"))).as("fp_str"))
        .orderBy("doc_id"),
      // k=3, w=4: grams mirror ngramsAll (whole text when < k tokens),
      // windows mirror sequence(1, nh-3)/slice(hs, i, 4)
      s"""WITH words AS (SELECT doc_id, $toksE AS w FROM documents),
                 g AS (SELECT doc_id,
                         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                              ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS grams
                       FROM words),
                 h AS (SELECT doc_id,
                         list_transform(grams, g2 -> CAST(('0x' || substring(md5(g2), 1, 6)) AS BIGINT)) AS hs
                       FROM g),
                 f AS (SELECT doc_id, list_sort(list_distinct(
                         CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                              ELSE list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3])) END)) AS fps
                       FROM h)
            SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps,
                   array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ',') AS fp_str
            FROM f ORDER BY doc_id"""),

    // MOSS-style plagiarism pairs (Schleimer et al. SIGMOD'03 §4) on the
    // winnowing fingerprints: docs sharing >= 5 rare fingerprints. The
    // candidate generator is a fingerprint equi-join — the LSH-band
    // shape, never all-pairs — and ubiquitous fingerprints (df > 20,
    // boilerplate phrases) are dropped first, which both removes the
    // no-signal matches and bounds the join's df² skew at corpus scale.
    Query("x_winnow_pairs", (s, dir) => {
      // cache: the df rollup and BOTH pair-join sides read the exploded
      // fingerprint table, and Spark won't reuse non-identical subplans —
      // uncached this replans 4 corpus scans (the x_lsh_exact_agreement
      // precedent; Bench clears the cache between runs)
      val fps = CacheScope.cached(Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"), explode(TF.winnowFingerprints(col("text"), 3, 4)).as("fp")))
      val rare = fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= 20), Seq("fp"))
      val a = rare.select(col("fp"), col("doc_id").as("doc_a"))
      val b = rare.select(col("fp"), col("doc_id").as("doc_b"))
      a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy("doc_a", "doc_b")
    },
      // same winnow CTE, then: unnest → df filter → fp self-join → pair
      // rollup — every step mirrored op-for-op
      s"""WITH words AS (SELECT doc_id, $toksE AS w FROM documents),
                 g AS (SELECT doc_id,
                         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                              ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END AS grams
                       FROM words),
                 h AS (SELECT doc_id,
                         list_transform(grams, g2 -> CAST(('0x' || substring(md5(g2), 1, 6)) AS BIGINT)) AS hs
                       FROM g),
                 f AS (SELECT doc_id, list_sort(list_distinct(
                         CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                              ELSE list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3])) END)) AS fps
                       FROM h),
                 e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
                 dfc AS (SELECT fp, count(*) AS df FROM e GROUP BY fp),
                 r AS (SELECT e.doc_id, e.fp FROM e JOIN dfc USING (fp) WHERE dfc.df <= 20),
                 p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
                       FROM r a JOIN r b USING (fp) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 5
            ORDER BY doc_a, doc_b"""),

    // temperature-weighted mixture (alpha = 1/2): per-domain keep rates
    // sqrt(n_min/n) computed FROM the data (skewed domain derived
    // deterministically from doc_id since the synthetic sources are
    // uniform); sqrt is IEEE-correctly-rounded so the integer threshold is
    // bit-identical in both engines (graft.ext.Mixture)
    Query("x_temperature_mix", (s, dir) =>
      Mixture.sqrtTemperatureReport(
        t(s, dir, "documents").withColumn("domain",
          when(col("doc_id") % 7 === 0, lit("rare"))
            .when(col("doc_id") % 7 <= 2, lit("mid"))
            .otherwise(lit("common"))),
        "domain", "text")
        .orderBy("source"),
      """WITH doms AS (SELECT CASE WHEN doc_id % 7 = 0 THEN 'rare'
                                     WHEN doc_id % 7 <= 2 THEN 'mid'
                                     ELSE 'common' END AS source, text
                         FROM documents),
                c AS (SELECT source, count(*) AS n_total FROM doms GROUP BY source),
                m AS (SELECT min(n_total) AS n_min FROM c),
                r AS (SELECT source, n_total,
                             round(sqrt(CAST(n_min AS DOUBLE) / n_total), 6) AS target_rate,
                             CAST(round(sqrt(CAST(n_min AS DOUBLE) / n_total) * 16777216, 0) AS BIGINT) AS thresh
                      FROM c, m)
           SELECT source, r.n_total, r.target_rate,
                  CAST(sum(CASE WHEN CAST(('0x' || substring(md5(d.text), 1, 6)) AS INTEGER) < r.thresh
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           FROM doms d JOIN r USING (source)
           GROUP BY source, r.n_total, r.target_rate ORDER BY source"""),

    // k-NN majority-vote classification (embedding-space weak labeling):
    // modal class among the 10 exact nearest neighbors, ties to the
    // smallest class — bruteTopK's plan with the label riding the corpus
    // side (Similarity.knnClassify); swap in IVF/LSH candidates at scale
    // label-noise audit (Confident-Learning-style kNN disagreement): each
    // sampled vector is re-labeled by its 10 nearest neighbors' majority
    // vote over the REAL label column; per label the disagreement count
    // and rate flag suspect annotation slices. The headline rides the
    // CORPUS-SCALE candidate path (IVF cell equi-join — an all-corpus
    // audit can't broadcast its query side): at nProbe = nLists the
    // result is EXACTLY the brute knnClassify (pinned in SimilaritySpec),
    // so the exact oracle stays green while the plan is the one that
    // survives 100 TB; production dials nProbe down under the
    // x_label_noise_ivf per-decile recall gate. Plan pinned in PlanSpec:
    // the corpus side is never broadcast.
    Query("x_label_noise", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // nLists stays FIXED here, not adaptive: this audit probes EVERY
      // cell (nProbe = nLists, the exact-equivalence construction), so a
      // √N quantizer adds √N-per-row assignment cost with zero candidate
      // reduction (measured +30% at sf1). The selective paths that
      // benefit from √N cells are the gated ones (x_label_noise_ivf,
      // x_ann_ivf_recall, x_hard_negatives_ivf — all adaptive).
      Similarity.knnClassifyIvf(e, e.filter(col("vec_id") < 100),
          "vec_id", "embedding", "label", k = 10, nLists = 16, nProbe = 16)
        .join(e.select(col("vec_id").as("query_id"), col("label")), Seq("query_id"))
        .groupBy("label").agg(
          count(lit(1)).as("n"),
          sum(when(col("pred_class") =!= col("label"), 1L).otherwise(0L)).as("n_flagged"),
          round(sum(when(col("pred_class") =!= col("label"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 4).as("noise_rate"))
        .orderBy("label")
    },
      // mirrors the x_embed_cosine_topk cosine/rank formulation, then the
      // vote layer; corpus and queries are disjoint so no self-pair guard
      // label noise: the knn-classify oracle chain over the REAL label,
      // joined back to the true label and aggregated per label
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS vq, label AS true_label FROM e WHERE vec_id < 100),
                s AS (SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS cls,
                        list_dot_product(q.vq, e.v) /
                          (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS score
                      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
                r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, neighbor_id) AS rank
                      FROM s),
                votes AS (SELECT query_id, cls, count(*) AS votes FROM r WHERE rank <= 10 GROUP BY 1, 2),
                pick AS (SELECT query_id, cls AS pred_class,
                           row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, cls) AS rn FROM votes),
                pr AS (SELECT p.query_id, p.pred_class, q.true_label
                       FROM pick p JOIN q ON p.query_id = q.query_id WHERE p.rn = 1)
           SELECT true_label AS label, count(*) AS n,
                  CAST(sum(CASE WHEN pred_class <> true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
                  round(CAST(sum(CASE WHEN pred_class <> true_label THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 4) AS noise_rate
           FROM pr GROUP BY 1 ORDER BY 1"""),

    // the corpus-scale label-noise candidate path: the audit's kNN
    // neighbors come from the IVF cell join (Similarity.knnNeighborsIvf —
    // an all-corpus-vs-corpus audit can't broadcast its query side), and
    // this query IS the recall gate: candidate recall@10 per query-id
    // decile against the exact knnNeighbors set, >= 90% or recall_ok goes
    // FALSE and the oracle hash goes red (the x_hard_negatives_ivf
    // pattern). knnClassifyIvf at nProbe = nLists ≡ knnClassify exactly
    // (pinned in SimilaritySpec).
    Query("x_label_noise_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 100)
      Similarity.recallByDecile(
        Similarity.knnNeighbors(e, q, "vec_id", "embedding", "label", k = 10),
        {
          val nl = Similarity.adaptiveNLists(e)
          Similarity.knnNeighborsIvf(e, q, "vec_id", "embedding", "label", k = 10,
            nLists = nl, nProbe = Similarity.probeFor(nl))
        },
        minRecallPct = 90)
    },
      recallByDecileSql),

    Query("x_knn_classify", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnClassify(
        e.filter(col("vec_id") >= 100).withColumn("cls", col("vec_id") % 5),
        e.filter(col("vec_id") < 100),
        "vec_id", "embedding", "cls", k = 10)
        .orderBy("query_id")
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 100),
                c AS (SELECT vec_id AS neighbor_id, vec_id % 5 AS cls, v FROM e WHERE vec_id >= 100),
                s AS (SELECT q.query_id, c.neighbor_id, c.cls,
                        list_dot_product(q.vq, c.v) /
                          (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(c.v, c.v))) AS score
                      FROM c CROSS JOIN q),
                r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, neighbor_id) AS rank
                      FROM s),
                v AS (SELECT query_id, cls, count(*) AS votes FROM r WHERE rank <= 10 GROUP BY 1, 2),
                p AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, cls) AS rn FROM v)
           SELECT query_id, cls AS pred_class, votes FROM p WHERE rn = 1 ORDER BY query_id"""),

    // incremental IVF index maintenance: the quantizer freezes at base
    // build; an append assigns ONLY the delta (no re-cluster, no base
    // I/O). The report full-outer-compares the incrementally-maintained
    // index against a from-scratch rebuild — match_full goes FALSE (and
    // the oracle hash red) if assignment ever depends on batch context
    Query("x_ivf_incremental", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 4 =!= 0)
      Similarity.ivfIncrementalReport(
        base, e.filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", nLists = Similarity.adaptiveNLists(base))
    },
      // gate pattern: the oracle pins the report shape and expected
      // totals; match_full=TRUE is forced by the frozen-quantizer
      // invariant — an assignment that depends on batch context flips it
      """SELECT greatest(CAST(16 AS BIGINT), CAST(ceil(sqrt(CAST(
                    sum(CASE WHEN vec_id % 4 != 0 THEN 1 ELSE 0 END) AS DOUBLE))) AS BIGINT))
                    AS n_cells,
                  count(*) AS n_indexed,
                  CAST(sum(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
                  TRUE AS match_full
           FROM embeddings"""),

    // unigram-LM quality scoring (graft.ext.LmScore — the CCNet perplexity
    // recipe at order 0): min-count vocab fit (one map-side-combined
    // count; the threshold, not a top-K sort, caps it), broadcast probe,
    // per-doc mean log-prob + OOV ratio; per-token log-probs rounded to 6
    // and summed as DECIMAL so the aggregate is partitioning-independent.
    // minCount=500 splits the corpus's one rare token from the rest at
    // every SF; production would use a corpus-fraction threshold.
    Query("x_unigram_lm", (s, dir) =>
      LmScore.scoreDocs(t(s, dir, "documents"), "doc_id", "text", minCount = 500)
        .orderBy("doc_id"),
      // add-one smoothing: p = (c+1)/(N+V+1), OOV is the same formula at
      // c = 0; per-token ln rounded to 6 and summed as DECIMAL(18,6)
      s"""WITH toks AS (SELECT doc_id, unnest($toksE) AS tok FROM documents),
                 cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
                 voc AS (SELECT tok, c FROM cnt WHERE c >= 500),
                 tot AS (SELECT (SELECT sum(c) FROM cnt) AS n, (SELECT count(*) FROM voc) AS v),
                 sc AS (SELECT t.doc_id,
                          CAST(round(ln((coalesce(vc.c, 0) + 1.0) / (tot.n + tot.v + 1)), 6) AS DECIMAL(18,6)) AS lp,
                          CASE WHEN vc.tok IS NULL THEN 1 ELSE 0 END AS oov
                        FROM toks t LEFT JOIN voc vc USING (tok), tot)
            SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
                   round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS mean_logp,
                   round(CAST(sum(oov) AS DOUBLE) / count(*), 4) AS oov_ratio
            FROM sc GROUP BY doc_id ORDER BY doc_id"""),

    // DoReMi-style mixture reweighting, one exponentiated-gradient step:
    // per-source loss = −mean unigram-LM log-prob (the proxy-model
    // signal), weights w_s ∝ exp(η·L_s) from uniform at η = 0.1 —
    // harder-to-model sources get upweighted, the core move of
    // loss-driven domain reweighting. Rides the SAME broadcast-vocab LM
    // as x_unigram_lm (one token shuffle); losses floor-4, exp terms
    // floor-9, the K-source normalizer a decimal sum. Feeds
    // x_source_mixture/x_temperature_mix with learned instead of
    // hand-set proportions.
    Query("x_doremi_step", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = LmScore.scoreDocs(docs, "doc_id", "text", minCount = 500)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
      val perSrc = scored.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("mean_logp").cast("decimal(18,4)")).cast("double").as("slp"))
        .withColumn("loss", f4(-(col("slp") / col("n_docs").cast("double"))))
        .withColumn("ex", f9(exp(lit(0.1) * col("loss"))))
      val tot = perSrc.agg(sum(col("ex").cast("decimal(28,9)")).cast("double").as("exs"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("loss"),
          f6(col("ex") / col("exs")).as("weight"))
        .orderBy("source")
    },
      // DoReMi step: the unigram-LM CTE, per-source decimal loss means,
      // floor-9 exp terms, decimal normalizer
      s"""WITH toks AS (SELECT doc_id, unnest($toksE) AS tok FROM documents),
                 cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
                 voc AS (SELECT tok, c FROM cnt WHERE c >= 500),
                 tot AS (SELECT (SELECT sum(c) FROM cnt) AS n, (SELECT count(*) FROM voc) AS v),
                 sc AS (SELECT t.doc_id,
                          CAST(round(ln((coalesce(vc.c, 0) + 1.0) / (tot.n + tot.v + 1)), 6) AS DECIMAL(18,6)) AS lp
                        FROM toks t LEFT JOIN voc vc USING (tok), tot),
                 dm AS (SELECT doc_id, round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS mean_logp
                        FROM sc GROUP BY doc_id),
                 ps AS (SELECT d.source, count(*) AS n_docs,
                          CAST(sum(CAST(dm.mean_logp AS DECIMAL(18,4))) AS DOUBLE) AS slp
                        FROM dm JOIN documents d USING (doc_id) GROUP BY 1),
                 lx AS (SELECT source, n_docs,
                          floor(-(slp / CAST(n_docs AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS loss
                        FROM ps),
                 ex AS (SELECT source, n_docs, loss,
                          floor(exp(CAST(0.1 AS DOUBLE) * loss) * 1e9 + 0.5) / 1e9 AS ex
                        FROM lx),
                 nz AS (SELECT CAST(sum(CAST(ex AS DECIMAL(28,9))) AS DOUBLE) AS exs FROM ex)
            SELECT source, n_docs, loss,
                   floor(ex / exs * 1e6 + 0.5) / 1e6 AS weight
            FROM ex CROSS JOIN nz ORDER BY source"""),

    // perplexity-band pruning (the CCNet/Gopher-style middle-band keep):
    // per source, docs are deciled by unigram mean log-prob and the
    // extreme deciles dropped — too-predictable (boilerplate) AND
    // too-surprising (gibberish) both leave. Rank-based deciles over the
    // round-4 score with doc_id tiebreak (the rank-quantile discipline),
    // per-source window (distributed), exact per-source keep profile.
    Query("x_perplexity_prune", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = LmScore.scoreDocs(docs, "doc_id", "text", minCount = 500)
      val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
      scored.join(docs.select("doc_id", "source"), Seq("doc_id"))
        .withColumn("decile",
          ntile(10).over(bySrc.orderBy(col("mean_logp"), col("doc_id"))))
        .filter(col("decile") >= 2 && col("decile") <= 9)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          round(dsum(col("mean_logp")) / count(lit(1)), 4).as("kept_logp_mean"))
        .orderBy("source")
    },
      // perplexity pruning: the unigram-LM CTE + per-source ntile(10)
      // over (mean_logp, doc_id), middle-band keep, decimal-mean rollup
      s"""WITH toks AS (SELECT doc_id, unnest($toksE) AS tok FROM documents),
                 cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
                 voc AS (SELECT tok, c FROM cnt WHERE c >= 500),
                 tot AS (SELECT (SELECT sum(c) FROM cnt) AS n, (SELECT count(*) FROM voc) AS v),
                 sc AS (SELECT t.doc_id,
                          CAST(round(ln((coalesce(vc.c, 0) + 1.0) / (tot.n + tot.v + 1)), 6) AS DECIMAL(18,6)) AS lp
                        FROM toks t LEFT JOIN voc vc USING (tok), tot),
                 dscore AS (SELECT doc_id, round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS mean_logp
                            FROM sc GROUP BY doc_id),
                 dec AS (SELECT ds.doc_id, ds.mean_logp, d.source,
                           ntile(10) OVER (PARTITION BY d.source ORDER BY ds.mean_logp, ds.doc_id) AS decile
                         FROM dscore ds JOIN documents d USING (doc_id))
           SELECT source, count(*) AS n_kept,
                  round(CAST(sum(CAST(mean_logp AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS kept_logp_mean
           FROM dec WHERE decile BETWEEN 2 AND 9
           GROUP BY source ORDER BY source"""),

    // bigram-LM quality scoring (CCNet at order 1): transition-level
    // perplexity proxy + unseen-transition ratio — catches shuffled-word
    // gibberish whose every TOKEN is in-vocab. Same broadcast-model /
    // decimal-sum discipline as x_unigram_lm (graft.ext.LmScore)
    Query("x_bigram_lm", (s, dir) =>
      LmScore.scoreBigrams(t(s, dir, "documents"), "doc_id", "text",
        uniMinCount = 500, biMinCount = 5)
        .orderBy("doc_id"),
      // bigrams via range(1, len(w)) (end-exclusive → i, i+1 pairs); the
      // same add-one formula and DECIMAL(18,6) transition-sum as the
      // unigram oracle; c1 keys on the bigram's FIRST token
      s"""WITH words AS (SELECT doc_id, $toksE AS w FROM documents),
                 bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i+1])) AS bg
                        FROM words),
                 c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg HAVING count(*) >= 5),
                 toks AS (SELECT unnest(w) AS tok FROM words),
                 c1 AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok HAVING count(*) >= 500),
                 vv AS (SELECT count(*) AS v FROM c1),
                 sc AS (SELECT b.doc_id,
                          CAST(round(ln((coalesce(c2.c2, 0) + 1.0) / (coalesce(c1.c1, 0) + vv.v + 1)), 6) AS DECIMAL(18,6)) AS lp,
                          CASE WHEN c2.bg IS NULL THEN 1 ELSE 0 END AS unseen
                        FROM bg b LEFT JOIN c2 USING (bg)
                          LEFT JOIN c1 ON string_split(b.bg, ' ')[1] = c1.tok, vv)
            SELECT doc_id, count(*) AS n_bigrams, CAST(sum(unseen) AS BIGINT) AS n_unseen,
                   round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS mean_logp2,
                   round(CAST(sum(unseen) AS DOUBLE) / count(*), 4) AS unseen_ratio
            FROM sc GROUP BY doc_id ORDER BY doc_id"""),

    // DSIR-style importance weights (graft.ext.Dsir — Xie et al. 2023):
    // hashed-unigram target-vs-raw log-likelihood ratio per document,
    // target = English slice. One B-bucket groupBy fits both LMs, the
    // B-row log-ratio table broadcasts back onto the token stream; corpus
    // text never shuffles. tlike decided on the exact decimal sum.
    Query("x_dsir_weights", (s, dir) =>
      graft.ext.Dsir.importanceWeights(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id"),
      // DSIR: same md5-prefix bucket hash, add-one bucket LMs, per-token
      // ln rounded 6 → DECIMAL(18,6) difference, decimal doc sums; tlike
      // compares the exact decimal sum with 0
      s"""WITH toks AS (SELECT doc_id, lang = 'en' AS is_t,
                            CAST(('0x' || substring(md5(tok), 1, 6)) AS BIGINT) % 1024 AS b
                          FROM (SELECT doc_id, lang, unnest($toksE) AS tok FROM documents)),
                 lm AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                               count(*) AS cr FROM toks GROUP BY b),
                 tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM lm),
                 lw AS (SELECT b,
                          CAST(round(ln((ct + 1.0) / (nt + 1024)), 6) AS DECIMAL(18,6))
                          - CAST(round(ln((cr + 1.0) / (nr + 1024)), 6) AS DECIMAL(18,6)) AS lw
                        FROM lm, tot)
           SELECT t.doc_id, count(*) AS n_tokens,
                  CAST(round(sum(l.lw), 4) AS DOUBLE) AS logw,
                  (sum(l.lw) > 0) AS tlike
           FROM toks t JOIN lw l USING (b)
           GROUP BY t.doc_id ORDER BY t.doc_id"""),

    // DSIR selection — the "R" (resampling) step downstream of the
    // weights, in its deterministic greedy form: per source, keep the
    // top quartile by importance weight. The rank window is PER-SOURCE
    // (distributed — never a single-partition global sort) and ordered
    // (logw desc, doc_id) so ties are deterministic; the report is the
    // per-source selection profile a mixture designer reads.
    Query("x_dsir_select", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = graft.ext.Dsir.importanceWeights(docs, "doc_id", "text", col("lang") === "en")
      val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
      val joined = w.join(docs.select("doc_id", "source"), Seq("doc_id"))
        .withColumn("rnk", row_number().over(bySrc.orderBy(col("logw").desc, col("doc_id"))))
        .withColumn("n_src", count(lit(1)).over(bySrc))
      joined.filter(col("rnk") <= ceil(col("n_src") / lit(4.0)))
        .groupBy("source")
        .agg(
          max(col("n_src")).as("n_docs"),
          count(lit(1)).as("n_selected"),
          round(dsum(col("logw")) / count(lit(1)), 4).as("sel_logw_mean"),
          min(col("logw")).as("logw_cutoff"))
        .orderBy("source")
    },
      // DSIR selection: the weights CTE wrapped in a per-source rank
      // window mirroring the Spark plan (logw desc, doc_id tiebreak;
      // ceil(n/4) cutoff; mean over DECIMAL(18,4) sums)
      s"""WITH toks AS (SELECT doc_id, lang = 'en' AS is_t,
                            CAST(('0x' || substring(md5(tok), 1, 6)) AS BIGINT) % 1024 AS b
                          FROM (SELECT doc_id, lang, unnest($toksE) AS tok FROM documents)),
                 lm AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                               count(*) AS cr FROM toks GROUP BY b),
                 tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM lm),
                 lw AS (SELECT b,
                          CAST(round(ln((ct + 1.0) / (nt + 1024)), 6) AS DECIMAL(18,6))
                          - CAST(round(ln((cr + 1.0) / (nr + 1024)), 6) AS DECIMAL(18,6)) AS lw
                        FROM lm, tot),
                 dw AS (SELECT t.doc_id, CAST(round(sum(l.lw), 4) AS DOUBLE) AS logw
                        FROM toks t JOIN lw l USING (b) GROUP BY t.doc_id),
                 j AS (SELECT dw.doc_id, dw.logw, d.source,
                         row_number() OVER (PARTITION BY d.source ORDER BY dw.logw DESC, dw.doc_id) AS rnk,
                         count(*) OVER (PARTITION BY d.source) AS n_src
                       FROM dw JOIN documents d USING (doc_id))
           SELECT source, CAST(max(n_src) AS BIGINT) AS n_docs, count(*) AS n_selected,
                  round(CAST(sum(CAST(logw AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS sel_logw_mean,
                  min(logw) AS logw_cutoff
           FROM j WHERE rnk <= ceil(n_src / 4.0) GROUP BY source ORDER BY source"""),

    // incremental DSIR (the x_dedup_incremental pattern applied to
    // importance weights): fit the bucket LM on the BASE half of the
    // corpus, freeze it, and score only the DELTA half — the nightly-batch
    // shape where the persisted O(buckets) model makes scoring new data a
    // pure broadcast pass. Buckets the base never saw take the add-one
    // formula at c = 0 (complete-range log-ratio table), which the oracle
    // mirrors with a range ⟕ counts join.
    Query("x_dsir_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Dsir.scoreWithLm(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        graft.ext.Dsir.fitBucketLm(
          docs.filter(col("doc_id") % 2 === 0), "text", col("lang") === "en"))
        .orderBy("doc_id")
    },
      // incremental DSIR: LM from the even half only, completed over all
      // 1024 buckets, scoring the odd half
      s"""WITH bt AS (SELECT lang = 'en' AS is_t,
                            CAST(('0x' || substring(md5(tok), 1, 6)) AS BIGINT) % 1024 AS b
                          FROM (SELECT lang, unnest($toksE) AS tok FROM documents
                                WHERE doc_id % 2 = 0)),
                 lm AS (SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                               count(*) AS cr FROM bt GROUP BY b),
                 tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM lm),
                 allb AS (SELECT i AS b FROM unnest(range(0, 1024)) AS u(i)),
                 cc AS (SELECT allb.b, coalesce(lm.ct, 0) AS ct, coalesce(lm.cr, 0) AS cr
                        FROM allb LEFT JOIN lm USING (b)),
                 lw AS (SELECT b,
                          CAST(round(ln((ct + 1.0) / (nt + 1024)), 6) AS DECIMAL(18,6))
                          - CAST(round(ln((cr + 1.0) / (nr + 1024)), 6) AS DECIMAL(18,6)) AS lw
                        FROM cc, tot),
                 dt AS (SELECT doc_id,
                            CAST(('0x' || substring(md5(tok), 1, 6)) AS BIGINT) % 1024 AS b
                          FROM (SELECT doc_id, unnest($toksE) AS tok FROM documents
                                WHERE doc_id % 2 = 1))
           SELECT dt.doc_id, count(*) AS n_tokens,
                  CAST(round(sum(l.lw), 4) AS DOUBLE) AS logw,
                  (sum(l.lw) > 0) AS tlike
           FROM dt JOIN lw l USING (b)
           GROUP BY dt.doc_id ORDER BY dt.doc_id"""),

    // next-day retention matrix over events: distinct (day, user) pairs,
    // self-joined on user at day+1 — the cross-day distinct-intersection
    // a usage pipeline reports. Pair set is bounded by days×users; the
    // join keys on user_id so both sides co-partition on one shuffle.
    Query("x_day_retention", (s, dir) => {
      val du = events(s, dir).select(col("day"), col("user_id")).distinct()
      val nxt = du.select(
        date_format(date_add(to_date(col("day")), -1), "yyyy-MM-dd").as("day"),
        col("user_id").as("uid2"))
      du.join(nxt, du("day") === nxt("day") && du("user_id") === nxt("uid2"), "left")
        .groupBy(du("day"))
        .agg(
          count(lit(1)).as("n_active"),
          sum(when(col("uid2").isNotNull, 1L).otherwise(0L)).as("n_retained"),
          round(sum(when(col("uid2").isNotNull, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 4).as("retention"))
        .orderBy("day")
    },
      // next-day retention: distinct (day, user) pairs left-joined to the
      // same set shifted one day; join multiplicity is ≤ 1 by construction
      s"""WITH du AS (SELECT DISTINCT $dayE AS day, user_id FROM events),
                 j AS (SELECT a.day, b.user_id AS uid2
                       FROM du a LEFT JOIN du b
                         ON a.user_id = b.user_id
                        AND CAST(b.day AS DATE) = CAST(a.day AS DATE) + 1)
           SELECT day, count(*) AS n_active,
                  CAST(sum(CASE WHEN uid2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
                  round(CAST(sum(CASE WHEN uid2 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 4) AS retention
           FROM j GROUP BY day ORDER BY day"""),

    // daily conversion funnel view→click→purchase with 1 h step windows:
    // per (day, user) the FIRST view anchors the funnel, the first click
    // within 1 h of it, then the first purchase within 1 h of that click.
    // SINGLE-PASS plan: events shuffle ONCE on (day, user) into
    // conditional min/collects, and the dependent-step math (tc needs tv,
    // tp needs tc) runs as per-group array HOFs — the equivalent
    // stage-per-step join chain rescans events once per step (4 scans,
    // 3 shuffles), which is the difference at 100 TB. Per-group arrays
    // hold one user-day's clicks/purchases — bounded by human activity.
    // All arithmetic is integer epoch-ms, exact in any engine; nulls
    // propagate exactly like the oracle's left joins (no-click ⇒ tc null
    // ⇒ every purchase fails the tc predicate ⇒ tp null).
    Query("x_event_funnel", (s, dir) => {
      funnelSteps(funnelFirsts(s, dir), lit(3600000L))
        .groupBy("day").agg(
          count(lit(1)).as("n_view_users"),
          sum(when(col("tc").isNotNull, 1L).otherwise(0L)).as("n_clicked"),
          sum(when(col("tp").isNotNull, 1L).otherwise(0L)).as("n_converted"),
          round(sum(when(col("tp").isNotNull, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 4).as("conversion"))
        .orderBy("day")
    },
      // funnel: identical three-stage CTE chain on integer epoch-ms
      s"""WITH $funnelStepsSql
           SELECT v.day, count(*) AS n_view_users,
                  CAST(sum(CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
                  CAST(sum(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                  round(CAST(sum(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 4) AS conversion
           FROM v LEFT JOIN c ON v.day = c.day AND v.user_id = c.user_id
                  LEFT JOIN p ON v.day = p.day AND v.user_id = p.user_id
           GROUP BY v.day ORDER BY v.day"""),

    // conversion latency: for converting (day, user) funnels, exact
    // percentiles of view→click and click→purchase gaps per day —
    // integer epoch-ms differences through the a12 percentile parity.
    Query("x_time_to_convert", (s, dir) => {
      funnelSteps(funnelFirsts(s, dir), lit(3600000L))
        .filter(col("tp").isNotNull)
        .groupBy("day").agg(
          count(lit(1)).as("n_converted"),
          round(expr("percentile(tc - tv, 0.5)"), 4).as("p50_view_to_click_ms"),
          round(expr("percentile(tp - tc, 0.5)"), 4).as("p50_click_to_buy_ms"),
          round(expr("percentile(tp - tv, 0.9)"), 4).as("p90_total_ms"))
        .orderBy("day")
    },
      // conversion latency: the funnel chain restricted to converters,
      // exact interpolated gap percentiles
      s"""WITH $funnelStepsSql,
                 f AS (SELECT v.day, v.tv, c.tc, p.tp
                       FROM v JOIN c ON v.day = c.day AND v.user_id = c.user_id
                              JOIN p ON v.day = p.day AND v.user_id = p.user_id)
            SELECT day, count(*) AS n_converted,
                   round(quantile_cont(tc - tv, 0.5), 4) AS p50_view_to_click_ms,
                   round(quantile_cont(tp - tc, 0.5), 4) AS p50_click_to_buy_ms,
                   round(quantile_cont(tp - tv, 0.9), 4) AS p90_total_ms
            FROM f GROUP BY day ORDER BY day"""),

    // entropy rate of the first-order event process: H = −Σ π(s)·Σ
    // p(t|s)·ln p(t|s) over the |types|² transition matrix (x_markov
    // machinery) — how predictable is the next event? Terms floor-6 +
    // DECIMAL-summed on the bounded matrix.
    Query("x_entropy_rate", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      val trans = e.withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val rowTot = trans.groupBy("from_type").agg(sum(col("n")).as("rn"))
      val tot = trans.agg(sum(col("n")).as("tn"))
      trans.join(broadcast(rowTot), "from_type").crossJoin(broadcast(tot))
        .withColumn("term",
          (floor(-(col("rn").cast("double") / col("tn").cast("double"))
            * (col("n").cast("double") / col("rn").cast("double"))
            * log(col("n").cast("double") / col("rn").cast("double"))
            * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("term")), 4).cast("double").as("entropy_rate_nats"))
    },
      // entropy rate: floor-6 terms over the transition matrix
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
                l AS (SELECT user_id, event_type AS to_type,
                        lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS from_type
                      FROM e),
                tr AS (SELECT from_type, to_type, count(*) AS n
                       FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2),
                rt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS rn FROM tr GROUP BY 1),
                tt AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM tr),
                t2 AS (SELECT floor(-(CAST(rn AS DOUBLE) / tn)
                         * (CAST(n AS DOUBLE) / rn)
                         * ln(CAST(n AS DOUBLE) / rn)
                         * 1e6 + 0.5) / 1e6 AS term
                       FROM tr JOIN rt USING (from_type) CROSS JOIN tt)
           SELECT count(*) AS n_cells,
                  CAST(round(sum(CAST(term AS DECIMAL(28,6))), 4) AS DOUBLE) AS entropy_rate_nats
           FROM t2"""),

    // funnel step-window sensitivity sweep: conversion at 30 min / 1 h /
    // 2 h step windows from ONE (day, user) shuffle — the per-group
    // event arrays are collected once and the three parameterizations
    // are an explode over them, so a wider sweep never rescans the
    // corpus (at 100 TB the scan+shuffle IS the cost; the sweep is
    // per-group array math).
    Query("x_funnel_sweep", (s, dir) => {
      funnelSteps(funnelFirsts(s, dir)
          .withColumn("w", explode(array(lit(1800000L), lit(3600000L), lit(7200000L)))), col("w"))
        .groupBy((col("w") / lit(60000L)).cast("int").as("w_min"), col("day"))
        .agg(
          count(lit(1)).as("n_view_users"),
          sum(when(col("tc").isNotNull, 1L).otherwise(0L)).as("n_clicked"),
          sum(when(col("tp").isNotNull, 1L).otherwise(0L)).as("n_converted"),
          round(sum(when(col("tp").isNotNull, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 4).as("conversion"))
        .orderBy("w_min", "day")
    },
      // funnel sweep: three copies of the funnel SQL, one per window
      (Seq(30 -> 1800000L, 60 -> 3600000L, 120 -> 7200000L).map { case (wm, w) =>
        s"""SELECT * FROM (
              WITH e AS (SELECT $dayE AS day, user_id, event_type, epoch_ms(ts) AS ms FROM events),
                   v AS (SELECT day, user_id, min(ms) AS tv FROM e
                         WHERE event_type = 'view' GROUP BY 1, 2),
                   c AS (SELECT e.day, e.user_id, min(e.ms) AS tc
                         FROM e JOIN v ON e.day = v.day AND e.user_id = v.user_id
                         WHERE e.event_type = 'click' AND e.ms > v.tv AND e.ms - v.tv <= $w
                         GROUP BY 1, 2),
                   p AS (SELECT e.day, e.user_id, min(e.ms) AS tp
                         FROM e JOIN c ON e.day = c.day AND e.user_id = c.user_id
                         WHERE e.event_type = 'purchase' AND e.ms > c.tc AND e.ms - c.tc <= $w
                         GROUP BY 1, 2)
              SELECT CAST($wm AS INTEGER) AS w_min, v.day, count(*) AS n_view_users,
                     CAST(sum(CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
                     CAST(sum(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                     round(CAST(sum(CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                       / count(*), 4) AS conversion
              FROM v LEFT JOIN c ON v.day = c.day AND v.user_id = c.user_id
                     LEFT JOIN p ON v.day = p.day AND v.user_id = p.user_id
              GROUP BY v.day)"""
      }.mkString(" UNION ALL ") + " ORDER BY w_min, day")),

    // sketch-based retention (the 100 TB path for x_day_retention): per-day
    // HLL sketches of the user set — mergeable, so day sketches build once
    // and ANY cross-day intersection derives by inclusion-exclusion
    // |A∩B| = |A|+|B|−|A∪B| without rescanning history or shuffling user
    // ids across days. The estimate is gated against the EXACT join count
    // (±15% + 10 absolute — I-E differences amplify HLL error); the oracle
    // pins the exact counts and approx_ok = TRUE.
    Query("x_sketch_retention", (s, dir) => {
      val du = events(s, dir).select(col("day"), col("user_id")).distinct()
      // lgK pinned: the ±15%+10 accuracy gate is tuned to lgK=12 (~1.6%
      // rse); an upgraded default would silently move the estimate
      val sk = du.groupBy("day").agg(
        hll_sketch_agg(col("user_id"), 12).as("sk"), count(lit(1)).as("n_active"))
      val nxt = sk.select(
        date_format(date_add(to_date(col("day")), -1), "yyyy-MM-dd").as("day"),
        col("sk").as("sk2"), col("n_active").as("n2"))
      val nxtu = du.select(
        date_format(date_add(to_date(col("day")), -1), "yyyy-MM-dd").as("day"),
        col("user_id").as("uid2"))
      val exact = du.join(nxtu,
          du("day") === nxtu("day") && du("user_id") === nxtu("uid2"), "left")
        .groupBy(du("day"))
        .agg(sum(when(col("uid2").isNotNull, 1L).otherwise(0L)).as("n_retained"))
      sk.join(nxt, Seq("day")).join(exact, Seq("day"))
        .withColumn("approx",
          col("n_active") + col("n2")
            - hll_sketch_estimate(hll_union(col("sk"), col("sk2"))))
        .select(col("day"), col("n_active"), col("n_retained"),
          (abs(col("approx") - col("n_retained")) * 100
            <= col("n_retained") * 15 + 1000).as("approx_ok"))
        .orderBy("day")
    },
      // sketch retention: oracle pins the exact side and the accuracy-gate
      // bool (the a7_approx_distinct pattern — sketch bytes are
      // engine-specific, the gate is the portable claim)
      s"""WITH du AS (SELECT DISTINCT $dayE AS day, user_id FROM events),
                 act AS (SELECT day, count(*) AS n_active FROM du GROUP BY day),
                 j AS (SELECT a.day,
                         CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
                       FROM du a LEFT JOIN du b
                         ON a.user_id = b.user_id
                        AND CAST(b.day AS DATE) = CAST(a.day AS DATE) + 1
                       GROUP BY a.day),
                 nx AS (SELECT strftime(CAST(day AS DATE) - 1, '%Y-%m-%d') AS day FROM act)
           SELECT act.day, act.n_active, j.n_retained, TRUE AS approx_ok
           FROM act JOIN j USING (day) JOIN nx USING (day) ORDER BY act.day"""),

    // tokenizer fertility by source: BPE tokens per word and chars per BPE
    // token — the bytes-per-token profile that drives tokenizer and
    // mixture decisions. Same size-gated-vocab encode path as x_bpe_encode
    // (corpus = explode + equi-join + re-agg; no per-row merge fold), on
    // the ONE shared Learned (bpeLearned — the tokenizer trains once).
    Query("x_token_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val learned = bpeLearned(s, dir)
      val enc = learned.vocab.select(col("w").as("word"),
        size(col("t")).as("n_tok"), length(col("w")).as("n_chr"))
      docs.select(col("source"), explode(TF.tokens(col("text"))).as("word"))
        .join(graft.ext.Bpe.vocabJoinSide(enc, learned.vocabRows), Seq("word"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_words"),
          sum(col("n_tok")).as("n_bpe_tokens"),
          sum(col("n_chr")).as("n_chars"),
          round(sum(col("n_tok")).cast("double") / count(lit(1)), 4).as("fertility"),
          round(sum(col("n_chr")).cast("double") / sum(col("n_tok")).cast("double"), 4)
            .as("chars_per_token"))
        .orderBy("source")
    },
      // fertility: the bpe-encode oracle's vocab with per-word char
      // lengths, re-aggregated by source
      s"""WITH $bpePrefix,
                 enc AS (SELECT word,
                           CAST(len(string_split(trim(s, chr(1)), chr(1)||chr(1))) AS INTEGER) AS n_tok,
                           length(word) AS n_chr FROM s8),
                 dw AS (SELECT source, unnest($toksE) AS word FROM documents)
           SELECT source, count(*) AS n_words, CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
                  CAST(sum(n_chr) AS BIGINT) AS n_chars,
                  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 4) AS fertility,
                  round(CAST(sum(n_chr) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE), 4) AS chars_per_token
           FROM dw JOIN enc USING (word) GROUP BY source ORDER BY source"""),

    // character-entropy quality signal (gibberish/degeneracy detector):
    // per-row HOF entropy with the Σc·ln(c) fold over the SORTED distinct
    // chars so both engines sum in one order (TextFunctions.charEntropy)
    Query("x_char_entropy", (s, dir) => {
      val chars = regexp_extract_all(lower(TF.normalizeWs(col("text"))), lit("[^ ]"), lit(0))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(chars).as("n_chars_nospace"),
        size(array_distinct(chars)).as("n_distinct_chars"),
        TF.charEntropy(col("text")).as("char_entropy"))
        .orderBy("doc_id")
    },
      // Σc·ln(c) folded over the SORTED distinct char list in both engines
      // (same order ⇒ same rounding), final entropy rounded to 4
      """WITH c AS (SELECT doc_id,
                        regexp_extract_all(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '[^ ]') AS chars
                      FROM documents),
                u AS (SELECT doc_id, chars, len(chars) AS n,
                             list_sort(list_distinct(chars)) AS uq FROM c),
                s AS (SELECT doc_id, n, len(uq) AS nd,
                             list_sum(list_transform(uq,
                               ch -> CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)
                                     * ln(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)))) AS sc
                      FROM u)
           SELECT doc_id, CAST(n AS INTEGER) AS n_chars_nospace,
                  CAST(nd AS INTEGER) AS n_distinct_chars,
                  round(ln(CAST(n AS DOUBLE)) - sc / CAST(n AS DOUBLE), 4) AS char_entropy
           FROM s ORDER BY doc_id"""),

    // substring-level exact dedup (Lee et al. ExactSubstr, shingle-hash
    // realization): every 16-token span repeated across >=2 docs is masked
    // out of EVERY doc — removes boilerplate runs embedded in otherwise-
    // unique documents, which document-level dedup can't touch. One df agg
    // + broadcast probe; corpus text never shuffles (graft.ext.Dedup)
    Query("x_repeated_spans", (s, dir) =>
      Dedup.maskRepeatedSpans(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", n = 16, minDocs = 2)
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          col("text").as("clean_text"))
        .orderBy("doc_id"),
      // 16-token span hashes (48-bit md5 prefix), df >= 2 distinct docs →
      // hot; token i masked iff covered by a hot span start s in
      // [i-15, i]. range(a, b) is end-EXCLUSIVE; w[i:i+15] is the 1-based
      // INCLUSIVE 16-token slice
      s"""WITH words AS (SELECT doc_id, $toksE AS w FROM documents),
                 h AS (SELECT doc_id, w,
                         CASE WHEN len(w) < 16 THEN []
                              ELSE list_transform(range(1, len(w) - 14),
                                i -> CAST(('0x' || substring(md5(array_to_string(w[i:i+15], ' ')), 1, 12)) AS BIGINT)) END AS hs
                       FROM words),
                 e AS (SELECT doc_id, unnest(list_distinct(hs)) AS hv FROM h),
                 hot AS (SELECT hv FROM e GROUP BY hv HAVING count(*) >= 2),
                 bad AS (SELECT doc_id, list(hv) AS bads FROM e JOIN hot USING (hv) GROUP BY doc_id),
                 st AS (SELECT h.doc_id, w, hs, coalesce(b.bads, []) AS bads,
                          list_filter(range(1, len(hs) + 1),
                            i -> list_contains(coalesce(b.bads, []), hs[i])) AS starts
                        FROM h LEFT JOIN bad b USING (doc_id)),
                 k AS (SELECT doc_id, len(w) AS n_tokens,
                         list_filter(
                           list_transform(range(1, len(w) + 1),
                             i -> CASE WHEN len(list_filter(starts, s2 -> s2 <= i AND i <= s2 + 15)) > 0
                                       THEN NULL ELSE w[i] END),
                           x -> x IS NOT NULL) AS kept
                       FROM st)
            SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
                   CAST(n_tokens - len(kept) AS INTEGER) AS n_masked,
                   coalesce(array_to_string(kept, ' '), '') AS clean_text
            FROM k ORDER BY doc_id"""),

    // Unicode NFC normalization (native NormalizeUnicode expression —
    // Spark has no built-in; a UDF would break codegen on a by-definition
    // full-corpus scan). Combining sequences are SALTED deterministically
    // on both sides (the synthetic corpus is ASCII): %3=0/1 get base+
    // combining-mark tails that compose under NFC, %3=2 stays ASCII so
    // `changed` splits the corpus
    Query("x_nfc_normalize", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" cafe\u0301 de\u0301ja\u0300 vu"))
            .when(col("doc_id") % 3 === 1, lit(" u\u0308ber angstro\u0308m units"))
            .otherwise(lit(" plain ascii tail"))).as("text"))
        .withColumn("nfc_text", graft.functions.NormalizeUnicode.normalizeUnicode(col("text")))
        .select(
          col("doc_id"),
          length(col("text")).as("n_raw_chars"),
          length(col("nfc_text")).as("n_nfc_chars"),
          (col("text") =!= col("nfc_text")).as("changed"),
          col("nfc_text"))
        .orderBy("doc_id"),
      // same decomposed salt (base + combining marks, interpolated from
      // the cAcute/cGrave/cDiaer vals); DuckDB nfc_normalize implements
      // the same UAX #15 NFC as java.text.Normalizer; length() counts
      // codepoints in both engines
      s"""WITH salted AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 3 = 0 THEN ' cafe$cAcute de${cAcute}ja$cGrave vu'
                                  WHEN doc_id % 3 = 1 THEN ' u${cDiaer}ber angstro${cDiaer}m units'
                                  ELSE ' plain ascii tail' END AS text
              FROM documents)
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS n_raw_chars,
                   CAST(length(nfc_normalize(text)) AS INTEGER) AS n_nfc_chars,
                   text <> nfc_normalize(text) AS changed,
                   nfc_normalize(text) AS nfc_text
            FROM salted ORDER BY doc_id"""),

    // Gopher rule battery (Rae et al. §A1.1): per-rule flags + composite
    // pass — the canonical pre-training quality filter as one codegen'd
    // projection over the scan (TextFunctions.withGopherRules)
    Query("x_gopher_rules", (s, dir) =>
      TF.withGopherRules(t(s, dir, "documents").select("doc_id", "text"), "text")
        .drop("text")
        .orderBy("doc_id"),
      // the five Gopher flags; occurrence counts via the length-difference
      // form, ratios rounded to 4 BEFORE the bound compares (both engines)
      s"""WITH m AS (SELECT doc_id,
                         CAST(len($toksE) AS INTEGER) AS n_words,
                         round(CAST(list_sum(list_transform($toksE, t -> length(t))) AS DOUBLE) / len($toksE), 4) AS mean_word_len,
                         round(CAST((length(text) - length(replace(text, '#', '')))
                               + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / len($toksE), 4) AS symbol_ratio,
                         round(CAST(len(list_filter($toksE, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len($toksE), 4) AS alpha_frac,
                         CAST(len(list_filter($toksE, t -> list_contains($stopList, t))) AS INTEGER) AS n_stop
                       FROM documents)
            SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
                   n_words >= 50 AND n_words <= 100000 AS ok_words,
                   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mean_len,
                   symbol_ratio < 0.1 AS ok_symbols,
                   alpha_frac > 0.8 AS ok_alpha,
                   n_stop >= 2 AS ok_stops,
                   (n_words >= 50 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                     AND symbol_ratio < 0.1 AND alpha_frac > 0.8 AND n_stop >= 2 AS pass
            FROM m ORDER BY doc_id"""),

    // exact edit-distance verification of near-dup candidates: Levenshtein
    // is O(len^2) PER PAIR so it can only ever run on a bounded candidate
    // set — here the oracled exact-Jaccard pairs (the LSH stand-in); the
    // pair list broadcasts into both text lookups, corpus never shuffles
    Query("x_edit_distance", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Dedup.editDistanceVerify(
        docs, "doc_id", "text",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.5))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          col("len_a"), col("len_b"), col("lev"), col("lev_sim"))
        .orderBy("doc_a", "doc_b")
    },
      // pair mining mirrors x_ngram_jaccard at n=5 / threshold 0.5 over the
      // FULL corpus; DuckDB levenshtein is the same character-level DP as
      // Spark's
      s"""WITH d AS (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt,
                              $toksE AS toks FROM documents),
                 s AS (SELECT doc_id,
                         list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                           ELSE list_transform(generate_series(1, len(toks) - 4), i -> array_to_string(toks[i:i+4], ' ')) END) AS sh
                       FROM d),
                 e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
                 sz AS (SELECT doc_id, len(sh) AS nsh FROM s),
                 p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                       FROM e a JOIN e b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
                 j AS (SELECT doc_a, doc_b,
                         round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) AS jaccard
                       FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
                       WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.5)
            SELECT doc_a, doc_b, jaccard,
                   CAST(length(ta.nt) AS INTEGER) AS len_a,
                   CAST(length(tb.nt) AS INTEGER) AS len_b,
                   CAST(levenshtein(ta.nt, tb.nt) AS INTEGER) AS lev,
                   round(1.0 - CAST(levenshtein(ta.nt, tb.nt) AS DOUBLE) /
                     greatest(length(ta.nt), length(tb.nt)), 4) AS lev_sim
            FROM j JOIN d ta ON j.doc_a = ta.doc_id JOIN d tb ON j.doc_b = tb.doc_id
            ORDER BY doc_a, doc_b"""),

    // prefix-filtered EXACT similarity join (AllPairs/PPJoin candidate
    // pruning; graft.ext.Dedup.prefixJaccardPairs): same pair set as the
    // brute inverted-index join — the oracle IS the brute SQL — but
    // candidates come only from each doc's rarest-token prefix, the
    // equi-join fan-out that actually survives a 100 TB corpus at a high
    // threshold. Corpus = the truncated-copy construction (x_split_leakage)
    // so J >= 0.5 pairs exist by construction.
    Query("x_prefix_jaccard", (s, dir) => {
      val corp = plantedCorpus(s, dir, 0.9)
      Dedup.prefixJaccardPairs(corp, "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },
      // prefix-filtered join's oracle IS the brute inverted-index form
      // (prefix filtering is exact — identical pair set) over the
      // truncated-copy corpus at threshold 0.5
      s"""WITH ${plantedCorpusSql(0.9)},
                 ${shinglePairsSql("corp")}
            SELECT doc_a, doc_b,
                   round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) AS jaccard
            FROM p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
            WHERE round(CAST(shared AS DOUBLE) / (x.nsh + y.nsh - shared), 4) >= 0.5
            ORDER BY doc_a, doc_b"""),

    // per-node triangle participation over the synthetic link graph (the
    // x_pagerank generator): degree-ordered orientation bounds wedge
    // enumeration by arboricity — the node-iterator plan that survives
    // power-law hubs (graft.ext.LinkRank.triangleCounts). Integer-exact.
    Query("x_triangles", (s, dir) => {
      val edges = linkEdges(t(s, dir, "documents").select("doc_id"))
      LinkRank.triangleCounts(edges, "src", "dst")
        .select(col("node").as("doc_id"), col("n_triangles"))
        .orderBy("doc_id")
    },
      // triangles: same degree-ordered orientation — each triangle is one
      // oriented path a→b, a→c, b→c with key(a)<key(b)<key(c)
      s"""WITH $linkUndSql,
                deg AS (SELECT node, count(*) AS deg
                        FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY node),
                ork AS (SELECT u, v, du.deg*4294967296 + u AS ku, dv.deg*4294967296 + v AS kv
                        FROM und JOIN deg du ON und.u = du.node JOIN deg dv ON und.v = dv.node),
                ore AS (SELECT CASE WHEN ku < kv THEN u ELSE v END AS a,
                               CASE WHEN ku < kv THEN v ELSE u END AS b,
                               CASE WHEN ku < kv THEN kv ELSE ku END AS kb FROM ork),
                wedge AS (SELECT e1.a, e1.b, e2.b AS c
                          FROM ore e1 JOIN ore e2 ON e1.a = e2.a AND e1.kb < e2.kb),
                tri AS (SELECT w.a, w.b, w.c FROM wedge w JOIN ore e3 ON w.b = e3.a AND w.c = e3.b)
           SELECT node AS doc_id, count(*) AS n_triangles
           FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
           GROUP BY node ORDER BY doc_id"""),

    // EXACT maximum-inner-product top-k with Cauchy–Schwarz norm pruning
    // (graft.ext.Similarity.maxInnerProductTopK): phase-1 bound from the
    // 64 largest-norm vectors, phase-2 sweep scores only norm-qualified
    // docs — result identical to the brute ranking (the oracle) with the
    // corpus never shuffled. The stored embeddings are unit-normalized
    // (norm pruning would be vacuous), so vectors are scaled by
    // 2^(vec_id % 8) — the popularity-scaled-item shape MIPS exists for;
    // powers of two multiply exactly, preserving cross-engine parity.
    // MipsSpec measures the pruning (>60% of the corpus never scored).
    Query("x_maxip_topk", (s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * pow(lit(2.0), (col("vec_id") % 8).cast("double"))).as("embedding"))
      Similarity.maxInnerProductTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    },
      // norm-pruned MIPS oracle is the BRUTE ranking (pruning is exact);
      // raw-ip order, floor round-4 on the reported ip
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) * pow(2.0, CAST(vec_id % 8 AS DOUBLE))) AS v FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 10),
                s AS (SELECT q.query_id, e.vec_id AS neighbor_id, list_dot_product(q.vq, e.v) AS ip
                      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
                r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rank FROM s)
           SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
                  floor(ip * 1e4 + 0.5) / 1e4 AS ip
           FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),

    // first-order Markov transition matrix over per-user event sequences
    // — the user-behavior model behind next-event prediction and
    // anomaly scoring. lag window PARTITIONED BY USER (distributed; ties
    // broken by event_id — total order), then one (from, to) count;
    // row-normalized probabilities. Matrix is |types|² — metadata-scale
    // output no matter the corpus.
    Query("x_markov_transitions", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      val trans = e.withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = trans.groupBy("from_type").agg(sum(col("n")).as("row_n"))
      trans.join(tot, "from_type")
        .withColumn("p",
          floor(col("n").cast("double") / col("row_n").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .select("from_type", "to_type", "n", "p")
        .orderBy("from_type", "to_type")
    },
      // Markov transitions: identical lag ordering (ms, event_id), floor
      // round-4 on the row-normalized probability
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
                l AS (SELECT user_id, event_type AS to_type,
                        lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS from_type
                      FROM e),
                tr AS (SELECT from_type, to_type, count(*) AS n
                       FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2),
                tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM tr GROUP BY 1)
           SELECT tr.from_type, tr.to_type, tr.n,
                  floor(CAST(tr.n AS DOUBLE) / row_n * 1e4 + 0.5) / 1e4 AS p
           FROM tr JOIN tot USING (from_type) ORDER BY from_type, to_type"""),

    // Absorbing-Markov analysis of the behavior chain: expected steps to
    // reach 'purchase' and 16-step absorption probability from every
    // transient event type — the funnel question x_markov_transitions'
    // raw matrix doesn't answer. (I−Q)⁻¹ is replaced by the truncated
    // Neumann recursion v ← 1 + Q·v, a ← p_abs + Q·a, 16 rounds, every
    // state floor-9-quantized so Spark's loop and DuckDB's 16 unrolled
    // CTE stages replay identically (the pagerank discipline — lineage
    // cut per round). The corpus contributes ONE lag-shuffle to build
    // the transition counts; all 16 rounds run on the |types|² grid.
    Query("x_absorbing_markov", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      val trans = e.withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull && col("from_type") =!= "purchase")
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = trans.groupBy("from_type").agg(sum(col("n")).as("row_n"))
      def d9(v: Double): java.math.BigDecimal =
        java.math.BigDecimal.valueOf(f9(v)).setScale(9, java.math.RoundingMode.HALF_UP)
      // The corpus contributes ONE lag-shuffle (unchanged); the |types|²
      // transition matrix is alphabet-bounded — metadata-scale at any
      // corpus size — so it is collected once and the 16 Neumann rounds
      // run as driver arithmetic (the kmeansCents discipline; previously
      // each round was a join+agg over a ≤|types|-row frame costing ~4
      // scheduler jobs of pure fixed overhead). Every op replicates the
      // previous Column chain exactly: f9 on doubles, d9 sums as
      // BigDecimal(valueOf(f9)).setScale(9, HALF_UP) summed exactly then
      // one .doubleValue, absent contributions coalesce to 0.0.
      val pmRows = trans.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (floor(col("n").cast("double") / col("row_n").cast("double") * lit(1e9) + lit(0.5))
            / lit(1e9)).as("p"))
        .collect()
      val states = pmRows.groupBy(_.getString(0)).map { case (st, rows) =>
        // pabs: a DOUBLE sum in the old aggregate, exact regardless of
        // order because at most one to_type == purchase term is non-zero
        val pabs = rows.iterator.map(r =>
          if (r.getString(1) == "purchase") r.getDouble(3) else 0.0).sum
        (st, (pabs, rows.iterator.map(_.getLong(2)).sum))
      }
      val q = pmRows.filter(_.getString(1) != "purchase")
        .map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
      var va: Map[String, (Double, Double)] = states.map { case (st, _) => st -> (0.0, 0.0) }.toMap
      for (_ <- 1 to 16) {
        val acc = scala.collection.mutable.Map[String, (java.math.BigDecimal, java.math.BigDecimal)]()
        q.foreach { case (from, to, p) =>
          // inner join: to_types that are not states contribute nothing
          va.get(to).foreach { case (tv, ta) =>
            val (sv, sa) = acc.getOrElse(from, (java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO))
            def add(a: java.math.BigDecimal, v: Double) =
              if (v.isNaN || v.isInfinite) a else a.add(d9(v)) // Spark: non-finite -> NULL -> sum skips
            acc(from) = (add(sv, p * tv), add(sa, p * ta))
          }
        }
        va = states.map { case (st, (pabs, _)) =>
          val (sv, sa) = acc.get(st)
            .map { case (a, b) => (a.doubleValue, b.doubleValue) }.getOrElse((0.0, 0.0))
          st -> (f9(1.0 + sv), f9(pabs + sa))
        }.toMap
      }
      val out = states.toSeq.map { case (st, (_, nOut)) =>
        val (vv, aa) = va(st)
        org.apache.spark.sql.Row(st, nOut, f6(vv), f6(aa))
      }
      s.createDataFrame(java.util.Arrays.asList(out: _*),
        org.apache.spark.sql.types.StructType.fromDDL(
          "state STRING, n_out BIGINT, exp_steps_16 DOUBLE, p_absorb_16 DOUBLE"))
        .orderBy("state")
    },
      // absorbing Markov: the same transition CTE restricted to
      // transient sources, floor-9 probabilities, 16 amIters stages
      s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
                l AS (SELECT user_id, event_type AS to_type,
                        lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS from_type
                      FROM e),
                tr AS (SELECT from_type, to_type, count(*) AS n
                       FROM l WHERE from_type IS NOT NULL AND from_type <> 'purchase'
                       GROUP BY 1, 2),
                tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM tr GROUP BY 1),
                pm AS (SELECT tr.from_type, tr.to_type, tr.n,
                         floor(CAST(tr.n AS DOUBLE) / CAST(row_n AS DOUBLE) * 1e9 + 0.5) / 1e9 AS p
                       FROM tr JOIN tot USING (from_type)),
                q AS (SELECT from_type, to_type, p FROM pm WHERE to_type <> 'purchase'),
                sts AS (SELECT from_type AS state,
                          sum(CASE WHEN to_type = 'purchase' THEN p ELSE 0.0 END) AS pabs,
                          CAST(sum(n) AS BIGINT) AS n_out
                        FROM pm GROUP BY 1),
                am0 AS (SELECT state, CAST(0.0 AS DOUBLE) AS v, CAST(0.0 AS DOUBLE) AS a FROM sts),
                $amIters
           SELECT sts.state, sts.n_out,
                  floor(am16.v * 1e6 + 0.5) / 1e6 AS exp_steps_16,
                  floor(am16.a * 1e6 + 0.5) / 1e6 AS p_absorb_16
           FROM sts JOIN am16 ON sts.state = am16.state ORDER BY sts.state"""),

    // frequent event-type PAIRS per (user, day) basket — the A-priori
    // first pass of market-basket mining. Baskets are distinct triples;
    // within-basket pair join is bounded by |types|² per basket; support
    // counts + fractions over the basket universe.
    Query("x_frequent_pairs", (s, dir) => {
      val b = events(s, dir).select(col("user_id"), col("day"), col("event_type")).distinct()
      val nb = b.select("user_id", "day").distinct().agg(count(lit(1)).as("n_baskets"))
      val pairs = b.join(
        b.select(col("user_id"), col("day"), col("event_type").as("type_b")),
        Seq("user_id", "day"))
        .filter(col("event_type") < col("type_b"))
        .groupBy(col("event_type").as("type_a"), col("type_b"))
        .agg(count(lit(1)).as("support"))
      pairs.crossJoin(broadcast(nb))
        .withColumn("support_frac",
          floor(col("support").cast("double") / col("n_baskets").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .filter(col("support") >= 20)
        .select("type_a", "type_b", "support", "support_frac")
        .orderBy("type_a", "type_b")
    },
      // frequent pairs: distinct (user, day, type) baskets, ordered
      // within-basket pair join, support over the basket universe
      s"""WITH b AS (SELECT DISTINCT user_id, $dayE AS day, event_type FROM events),
                 nb AS (SELECT count(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM b)),
                 p AS (SELECT a.event_type AS type_a, c.event_type AS type_b, count(*) AS support
                       FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
                         AND a.event_type < c.event_type
                       GROUP BY 1, 2)
            SELECT type_a, type_b, support,
                   floor(CAST(support AS DOUBLE) / n_baskets * 1e4 + 0.5) / 1e4 AS support_frac
            FROM p CROSS JOIN nb WHERE support >= 20 ORDER BY type_a, type_b"""),

    // Frequent event-type TRIGRAMS — the sequential (order-sensitive)
    // counterpart of x_frequent_pairs' basket co-occurrence: consecutive
    // (a → b → c) runs in each user's (ms, event_id)-ordered stream via
    // two lead windows (one user-partitioned pass, no self-join).
    // occurrences = total runs; user_support = distinct users exhibiting
    // the pattern (the PrefixSpan support notion). The result grid is
    // bounded by the TYPE ALPHABET (≤ 5³ rows at any corpus scale), so
    // the groupBy is a map-side-combined shuffle onto a constant key
    // domain — the distinct-user count shuffles (trigram, user) pairs,
    // still alphabet³×users bounded.
    Query("x_frequent_seqs", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      e.withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(col("event_type").as("a"), col("t2").as("b"), col("t3").as("c"))
        .agg(count(lit(1)).as("occurrences"),
          countDistinct(col("user_id")).as("user_support"))
        .filter(col("user_support") >= 2)
        .orderBy("a", "b", "c")
    },
      // consecutive trigrams via two leads over the per-user stream
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
                g AS (SELECT user_id, event_type AS a,
                        lead(event_type, 1) OVER w AS b,
                        lead(event_type, 2) OVER w AS c
                      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
           SELECT a, b, c, count(*) AS occurrences,
                  count(DISTINCT user_id) AS user_support
           FROM g WHERE c IS NOT NULL GROUP BY 1, 2, 3
           HAVING count(DISTINCT user_id) >= 2 ORDER BY a, b, c"""),

    // last-touch marketing attribution: each purchase is credited to the
    // most recent view/click by the SAME USER within 24 h (else "none").
    // One user-partitioned running struct-max carries the latest touch —
    // lexicographic max over (ms, event_id, type) with (ms, event_id)
    // unique gives the exact as-of predecessor without a self-join; the
    // corpus shuffles ONCE on user_id, the per-day share re-agg is
    // |days|·|types| metadata. At 100 TB this is the same plan: running
    // window state is O(1) per user partition.
    Query("x_attribution", (s, dir) => {
      val e = events(s, dir).select(col("day"), col("user_id"),
        col("event_type"), unix_millis(col("ts")).as("ms"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val touched = e.withColumn("lt",
        max(when(col("event_type").isin("view", "click"),
          struct(col("ms").as("tms"), col("event_id").as("tid"),
            col("event_type").as("ttype")))).over(w))
      val p = touched.filter(col("event_type") === "purchase")
        .withColumn("touch_type",
          when(col("lt").isNull || (col("ms") - col("lt.tms")) > lit(86400000L),
            lit("none")).otherwise(col("lt.ttype")))
      val byDay = p.groupBy("day", "touch_type").agg(count(lit(1)).as("n"))
      val tot = byDay.groupBy("day").agg(sum(col("n")).as("day_n"))
      byDay.join(tot, "day")
        .withColumn("share",
          floor(col("n").cast("double") / col("day_n").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .select("day", "touch_type", "n", "share")
        .orderBy("day", "touch_type")
    },
      // last-touch attribution: running struct-max over (ms, event_id,
      // type) per user — lexicographic max ≡ latest touch; 24 h cutoff in
      // integer epoch-ms
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
                       FROM t WHERE event_type = 'purchase'),
                 bd AS (SELECT day, touch_type, count(*) AS n FROM p GROUP BY 1, 2),
                 tot AS (SELECT day, CAST(sum(n) AS BIGINT) AS day_n FROM bd GROUP BY 1)
            SELECT bd.day, touch_type, n,
                   floor(CAST(n AS DOUBLE) / day_n * 1e4 + 0.5) / 1e4 AS share
            FROM bd JOIN tot USING (day) ORDER BY day, touch_type"""),

    // Shapley-value channel attribution — the coalition-game upgrade of
    // x_attribution's last-touch rule (Zhao et al., "Shapley Value
    // Methods for Attribution Modeling"). Per purchase, the touched set
    // S ⊆ {view, click, signup} is the channels whose LAST prior touch
    // by the same user lies within the 1-day window — three per-channel
    // running-max windows over ONE user-ordered pass (a channel was
    // touched in-window iff its last touch was), so the data-scale work
    // is a single window pass plus one groupBy on the 3-bit mask; no
    // self-join. The game value v(T) = #conversions with S ⊆ T and the
    // Shapley credit φ_c = (1/3!)·Σ_{T∌c} |T|!(2−|T|)!·[v(T∪c)−v(T)]
    // run on the bounded 8-row subset grid (the crossJoins are 8×3
    // METADATA, never data-scale — unlike a value-domain grid this one
    // is fixed by the channel universe). phi_num = 3!·φ_c stays exact
    // integer end to end; efficiency Σφ_c = v(full)−v(∅) is pinned in
    // SparkEntrySpec; share uses the floor-round(6dp) determinism.
    Query("x_shapley_attribution", (s, dir) => {
      import s.implicits._
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      def lastMs(ch: String) = max(when(col("event_type") === ch, col("ms"))).over(w)
      def inWin(c: Column, bit: Int) =
        when(col("ms") - c <= lit(86400000L), lit(bit)).otherwise(lit(0))
      val masks = e
        .withColumn("lv", lastMs("view"))
        .withColumn("lc", lastMs("click"))
        .withColumn("ls", lastMs("signup"))
        .filter(col("event_type") === "purchase")
        .select((inWin(col("lv"), 1) + inWin(col("lc"), 2) + inWin(col("ls"), 4)).as("m"))
      val cm = masks.groupBy("m").agg(count(lit(1)).as("c")) // ≤ 8 rows from here on
      val subsets = s.range(8).select(col("id").cast("int").as("t"))
      val vt = subsets.join(cm, cm("m").bitwiseAND(col("t")) === cm("m"), "left")
        .groupBy("t").agg(coalesce(sum(col("c")), lit(0L)).as("v"))
      val channels = Seq((1, "view"), (2, "click"), (4, "signup")).toDF("b", "channel")
      val pc = expr("(t & 1) + ((t >> 1) & 1) + ((t >> 2) & 1)")
      val weight = when(pc === 1, lit(1L)).otherwise(lit(2L)) // |T|!·(2−|T|)! for n=3
      val v0 = vt.select(col("t").as("t0"), col("v").as("va"))
      val v1 = vt.select(col("t").as("t1"), col("v").as("vb"))
      val contrib = channels.crossJoin(subsets)
        .filter(col("t").bitwiseAND(col("b")) === 0)
        .join(v0, col("t0") === col("t"))
        .join(v1, col("t1") === col("t").bitwiseOR(col("b")))
        .groupBy("channel").agg(sum(weight * (col("vb") - col("va"))).as("phi_num"))
      val tot = contrib.agg(sum(col("phi_num")).as("ps"))
      contrib.crossJoin(tot)
        .select(col("channel"), col("phi_num"),
          (floor(col("phi_num").cast("double") / nullif(col("ps"), lit(0L)).cast("double")
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("share"))
        .orderBy("channel")
    },
      // Shapley over the 3-channel coalition grid; phi_num = 3!·φ exact int
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
                t0 AS (SELECT user_id, event_type, ms,
                         max(CASE WHEN event_type = 'view' THEN ms END) OVER w AS lv,
                         max(CASE WHEN event_type = 'click' THEN ms END) OVER w AS lc,
                         max(CASE WHEN event_type = 'signup' THEN ms END) OVER w AS ls
                       FROM e
                       WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
                p AS (SELECT (CASE WHEN ms - lv <= 86400000 THEN 1 ELSE 0 END
                            + CASE WHEN ms - lc <= 86400000 THEN 2 ELSE 0 END
                            + CASE WHEN ms - ls <= 86400000 THEN 4 ELSE 0 END) AS m
                      FROM t0 WHERE event_type = 'purchase'),
                cm AS (SELECT m, count(*) AS c FROM p GROUP BY 1),
                sub AS (SELECT CAST(range AS INT) AS t FROM range(8)),
                vt AS (SELECT s.t, CAST(coalesce(sum(cm.c), 0) AS BIGINT) AS v
                       FROM sub s LEFT JOIN cm ON (cm.m & s.t) = cm.m GROUP BY 1),
                ch(b, channel) AS (VALUES (1, 'view'), (2, 'click'), (4, 'signup')),
                contrib AS (SELECT ch.channel,
                         CAST(sum((CASE ((s.t & 1) + ((s.t >> 1) & 1) + ((s.t >> 2) & 1))
                                   WHEN 1 THEN 1 ELSE 2 END) * (v1.v - v0.v)) AS BIGINT) AS phi_num
                       FROM ch, sub s
                       JOIN vt v0 ON v0.t = s.t
                       JOIN vt v1 ON v1.t = (s.t | ch.b)
                       WHERE (s.t & ch.b) = 0
                       GROUP BY 1),
                tot AS (SELECT CAST(sum(phi_num) AS BIGINT) AS ps FROM contrib)
           SELECT channel, phi_num,
                  floor(CAST(phi_num AS DOUBLE) / nullif(ps, 0) * 1e6 + 0.5) / 1e6 AS share
           FROM contrib, tot ORDER BY channel"""),

    // per-source lexical diversity: Shannon entropy over the token
    // distribution, type-token ratio, and Simpson concentration. The
    // (source, token) count is one map-side-combined shuffle; entropy
    // terms c·ln c are floor-rounded to 6 dp and DECIMAL-summed so the
    // distributed sum is order-independent (the x_unigram_lm discipline);
    // Simpson's Σc(c−1)/(N(N−1)) is exact integer arithmetic end to end.
    Query("x_diversity", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("w"))
      val wc = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("source").agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum((floor(col("c").cast("double") * log(col("c").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
            .cast("decimal(28,6)")).as("sum_clogc"),
          sum(col("c") * (col("c") - lit(1L))).as("sum_cc1"))
        .select(
          col("source"),
          col("n_tokens"),
          col("n_types"),
          (floor((log(col("n_tokens").cast("double"))
            - col("sum_clogc").cast("double") / col("n_tokens").cast("double")) * lit(1e4) + lit(0.5)) / lit(1e4))
            .as("entropy"),
          (floor(col("n_types").cast("double") / col("n_tokens").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
            .as("ttr"),
          (floor(col("sum_cc1").cast("double")
            / (col("n_tokens").cast("double") * (col("n_tokens").cast("double") - lit(1.0))) * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("simpson"))
        .orderBy("source")
    },
      // lexical diversity: entropy terms floor-rounded to 6 dp then
      // DECIMAL-summed (order-independent); Simpson numerator is exact
      // integer arithmetic
      s"""WITH toks AS (SELECT source, unnest($toksE) AS w FROM documents),
                 wc AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
                 ag AS (SELECT source,
                          CAST(sum(c) AS BIGINT) AS n_tokens,
                          count(*) AS n_types,
                          sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6
                              AS DECIMAL(28,6))) AS sum_clogc,
                          CAST(sum(c * (c - 1)) AS BIGINT) AS sum_cc1
                        FROM wc GROUP BY 1)
            SELECT source, n_tokens, n_types,
                   floor((ln(CAST(n_tokens AS DOUBLE))
                     - CAST(sum_clogc AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS entropy,
                   floor(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1e4 + 0.5) / 1e4 AS ttr,
                   floor(CAST(sum_cc1 AS DOUBLE)
                     / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)) * 1e6 + 0.5) / 1e6 AS simpson
            FROM ag ORDER BY source"""),

    // DAU / WAU stickiness: rolling 7-day distinct actives per day. Each
    // distinct (day, user) pair is EXPLODED into the 7 WAU windows it
    // covers and equi-joined — flat 7× fan-out, shuffle on day, instead
    // of a days×(day,user) theta-join (which plans as a broadcast
    // nested-loop testing every pair against the whole calendar grid).
    // The inner join with DAU restricts output to days that actually
    // occur. Stickiness = DAU/WAU, the canonical engagement ratio.
    Query("x_stickiness", (s, dir) => {
      val du = events(s, dir).select(to_date(col("day")).as("d"), col("user_id")).distinct()
      val dau = du.groupBy(col("d").as("day")).agg(count_distinct(col("user_id")).as("dau"))
      val wau = du
        .select(explode(sequence(col("d"), date_add(col("d"), 6))).as("day"), col("user_id"))
        .groupBy("day").agg(count_distinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dau"), col("wau"),
          (floor(col("dau").cast("double") / col("wau").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("stickiness"))
        .orderBy("day")
    },
      // stickiness: 7-day range join on the (day, user) distinct pairs
      s"""WITH du AS (SELECT DISTINCT CAST($dayE AS DATE) AS d, user_id FROM events),
                 days AS (SELECT DISTINCT d AS day FROM du),
                 dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1),
                 wau AS (SELECT days.day, count(DISTINCT du.user_id) AS wau
                         FROM days JOIN du ON du.d >= days.day - 6 AND du.d <= days.day
                         GROUP BY 1)
            SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau,
                   floor(CAST(dau AS DOUBLE) / wau * 1e4 + 0.5) / 1e4 AS stickiness
            FROM dau JOIN wau ON dau.day = wau.day ORDER BY day"""),

    // cohort retention matrix: users grouped by first-active day, tracked
    // by day offset — the canonical product-analytics view (x_day_retention
    // is its diagonal). Two user-keyed shuffles (distinct + first-day),
    // output is |days|² metadata at any corpus scale.
    Query("x_user_cohorts", (s, dir) => {
      val du = events(s, dir).select(col("day"), col("user_id")).distinct()
      val first = du.groupBy("user_id").agg(min(col("day")).as("cohort"))
      val sz = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
      du.join(first, "user_id")
        .withColumn("day_offset", datediff(to_date(col("day")), to_date(col("cohort"))))
        .groupBy("cohort", "day_offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .join(sz, "cohort")
        .withColumn("retention",
          floor(col("n_users").cast("double") / col("cohort_size").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4))
        .select("cohort", "day_offset", "n_users", "cohort_size", "retention")
        .orderBy("cohort", "day_offset")
    },
      // cohort matrix: first-active day per user, DATE difference as the
      // integer day offset
      s"""WITH du AS (SELECT DISTINCT $dayE AS day, user_id FROM events),
                 f AS (SELECT user_id, min(day) AS cohort FROM du GROUP BY 1),
                 sz AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1),
                 m AS (SELECT cohort, CAST(day AS DATE) - CAST(cohort AS DATE) AS day_offset,
                              count(DISTINCT du.user_id) AS n_users
                       FROM du JOIN f ON du.user_id = f.user_id GROUP BY 1, 2)
            SELECT m.cohort, CAST(day_offset AS INTEGER) AS day_offset, n_users, cohort_size,
                   floor(CAST(n_users AS DOUBLE) / cohort_size * 1e4 + 0.5) / 1e4 AS retention
            FROM m JOIN sz ON m.cohort = sz.cohort ORDER BY m.cohort, day_offset"""),

    // inter-arrival time profile: per-type exact median/p90 of the gap
    // between consecutive same-type events BY THE SAME USER — the
    // arrival-process fingerprint behind rate limiting and bot detection.
    // The lag window is (user, type)-partitioned (distributed); exact
    // percentiles ride the a12 percentile↔quantile_cont parity.
    Query("x_interarrival", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("ms"), col("event_id"))
      e.withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap, 0.5)"), 4).as("p50_ms"),
          round(expr("percentile(gap, 0.9)"), 4).as("p90_ms"),
          max(col("gap")).as("max_ms"))
        .orderBy("event_type")
    },
      // inter-arrival gaps: (user, type)-partitioned lag, exact
      // interpolated percentiles (a12 parity)
      """WITH g AS (SELECT event_type,
                        epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                          (PARTITION BY user_id, event_type ORDER BY epoch_ms(ts), event_id) AS gap
                      FROM events)
           SELECT event_type, count(*) AS n_gaps,
                  round(quantile_cont(gap, 0.5), 4) AS p50_ms,
                  round(quantile_cont(gap, 0.9), 4) AS p90_ms,
                  max(gap) AS max_ms
           FROM g WHERE gap IS NOT NULL GROUP BY event_type ORDER BY event_type"""),

    // referential-integrity audit across the star schema: orphan
    // foreign keys per relation via LEFT ANTI joins (lineitem→orders,
    // lineitem→part, orders→customer, customer→nation, supplier→nation).
    // Each check is one anti-join on its key — the parent side is
    // dimension-scale and broadcastable for all but orders, where the
    // shuffle is key-bounded.
    Query("x_ref_integrity", (s, dir) => {
      def check(child: DataFrame, fk: String, parent: DataFrame, pk: String,
          label: String): DataFrame = {
        val orphans = child.select(col(fk).as("k"))
          .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
        val n = child.agg(count(lit(1)).as("n_child"))
        orphans.agg(count(lit(1)).as("n_orphans")).crossJoin(n)
          .select(lit(label).as("relation"), col("n_child"), col("n_orphans"),
            (col("n_orphans") === 0L).as("ri_ok"))
      }
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val p = t(s, dir, "part")
      check(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(check(li, "l_partkey", p, "p_partkey", "lineitem->part"))
        .unionByName(check(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(check(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
        .unionByName(check(su, "s_nationkey", n, "n_nationkey", "supplier->nation"))
        .orderBy("relation")
    },
      // referential integrity: orphan counts per FK relation
      """WITH u AS (
             SELECT 'lineitem->orders' AS relation,
                    (SELECT count(*) FROM lineitem) AS n_child,
                    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
             UNION ALL
             SELECT 'lineitem->part',
                    (SELECT count(*) FROM lineitem),
                    (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
             UNION ALL
             SELECT 'orders->customer',
                    (SELECT count(*) FROM orders),
                    (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
             UNION ALL
             SELECT 'customer->nation',
                    (SELECT count(*) FROM customer),
                    (SELECT count(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
             UNION ALL
             SELECT 'supplier->nation',
                    (SELECT count(*) FROM supplier),
                    (SELECT count(*) FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)))
           SELECT relation, n_child, n_orphans, n_orphans = 0 AS ri_ok
           FROM u ORDER BY relation"""),

    // calendar-coverage audit: per event type, days present vs the full
    // min..max calendar — the "did the feed skip a day" check. The
    // expected grid is |types| × |days| metadata (sequence over a 1-row
    // min/max aggregate); presence is one distinct + count.
    Query("x_coverage_gaps", (s, dir) => {
      val e = events(s, dir)
      val span = e.agg(min(to_date(col("day"))).as("d0"), max(to_date(col("day"))).as("d1"))
      val cal = span.select(explode(sequence(col("d0"), col("d1"))).as("cal_day"))
      val types = e.select("event_type").distinct()
      val present = e.select(col("event_type"), col("day")).distinct()
      types.crossJoin(cal)
        .join(present,
          col("day") === date_format(col("cal_day"), "yyyy-MM-dd")
            && present("event_type") === types("event_type"), "left")
        .groupBy(types("event_type"))
        .agg(count(lit(1)).as("n_expected"),
          sum(when(col("day").isNotNull, 1L).otherwise(0L)).as("n_present"))
        .withColumn("n_missing", col("n_expected") - col("n_present"))
        .withColumn("complete", col("n_missing") === 0L)
        .orderBy("event_type")
    },
      // calendar coverage: generate_series over the min..max day span
      s"""WITH sp AS (SELECT min(CAST($dayE AS DATE)) AS d0, max(CAST($dayE AS DATE)) AS d1 FROM events),
                 cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS cal_day FROM sp),
                 ty AS (SELECT DISTINCT event_type FROM events),
                 pr AS (SELECT DISTINCT event_type, $dayE AS day FROM events)
            SELECT ty.event_type, count(*) AS n_expected,
                   CAST(sum(CASE WHEN pr.day IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
                   CAST(count(*) - sum(CASE WHEN pr.day IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
                   count(*) = sum(CASE WHEN pr.day IS NOT NULL THEN 1 ELSE 0 END) AS complete
            FROM ty CROSS JOIN cal
            LEFT JOIN pr ON pr.event_type = ty.event_type
              AND pr.day = strftime(cal_day, '%Y-%m-%d')
            GROUP BY ty.event_type ORDER BY ty.event_type"""),

    // label-propagation communities (LinkRank.labelPropagation): 4
    // synchronous rounds of neighbor-modal adoption with the
    // deterministic (cnt DESC, label) tie-break; community-size report.
    // The soft-clustering sibling of the exact connected components.
    Query("x_lpa", (s, dir) => {
      val edges = linkEdges(t(s, dir, "documents").select("doc_id"))
      graft.ext.LinkRank.labelPropagation(edges, "src", "dst", rounds = 4)
        .groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("community")
    },
      // LPA: 4 unrolled neighbor-mode rounds over the symmetrized edges
      s"""WITH $lpaSql
            SELECT lab AS community, count(*) AS n_members
            FROM l4 GROUP BY 1 ORDER BY community"""),

    // modularity of the LPA partition: Q = Σ_c (e_c/m − (d_c/2m)²) —
    // the quality score that says whether the communities are real.
    // Intra-edge and degree sums are exact integers per community
    // (bounded set); Q terms floor-6 + DECIMAL-summed.
    Query("x_modularity", (s, dir) => {
      val edges = linkEdges(t(s, dir, "documents").select("doc_id"))
      val lab = graft.ext.LinkRank.labelPropagation(edges, "src", "dst", rounds = 4)
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
        .distinct()
      val m = und.agg(count(lit(1)).as("m"))
      val intra = und
        .join(lab.select(col("node").as("u"), col("lab").as("lu")), "u")
        .join(lab.select(col("node").as("v"), col("lab").as("lv")), "v")
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("community")).agg(count(lit(1)).as("ec"))
      val deg = und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val dc = lab.join(deg, "node")
        .groupBy(col("lab").as("community")).agg(sum(col("deg")).as("dc"))
      val terms = dc.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(m))
        .withColumn("term",
          (floor((coalesce(col("ec"), lit(0L)).cast("double") / col("m").cast("double")
            - (col("dc").cast("double") / (lit(2.0) * col("m").cast("double")))
              * (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))))
            * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)"))
      terms.agg(
        count(lit(1)).as("n_communities"),
        max(col("m")).as("m_edges"),
        round(sum(col("term")), 4).cast("double").as("modularity"))
    },
      // modularity: LPA stages + exact integer e_c/d_c per community,
      // floor-6 Q terms, decimal sum
      s"""WITH $lpaSql,
                 mm AS (SELECT count(*) AS m FROM und),
                 intra AS (SELECT lu.lab AS community, count(*) AS ec
                           FROM und JOIN l4 lu ON und.u = lu.node JOIN l4 lv ON und.v = lv.node
                           WHERE lu.lab = lv.lab GROUP BY 1),
                 deg AS (SELECT node, count(*) AS deg
                         FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
                 dc AS (SELECT l4.lab AS community, CAST(sum(deg) AS BIGINT) AS dc
                        FROM l4 JOIN deg ON l4.node = deg.node GROUP BY 1),
                 tm AS (SELECT CAST(floor((CAST(coalesce(ec, 0) AS DOUBLE) / CAST(m AS DOUBLE)
                          - (CAST(dc AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
                            * (CAST(dc AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))
                          * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS term, m
                        FROM dc LEFT JOIN intra ON dc.community = intra.community CROSS JOIN mm)
            SELECT count(*) AS n_communities,
                   max(m) AS m_edges,
                   CAST(round(sum(term), 4) AS DOUBLE) AS modularity
            FROM tm"""),

    // Conductance of each LPA community — the per-community quality
    // score next to x_modularity's global Q: φ_c = cut(c) /
    // min(vol(c), 2m − vol(c)), where cut counts edges with exactly one
    // endpoint inside. Low φ = a real cluster; φ near 1 = noise. Same
    // decided-once edge/label joins as modularity (exact integers per
    // community), the ratio is the only double.
    Query("x_conductance", (s, dir) => {
      val edges = linkEdges(t(s, dir, "documents").select("doc_id"))
      val lab = graft.ext.LinkRank.labelPropagation(edges, "src", "dst", rounds = 4)
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
        .distinct()
      val m = und.agg(count(lit(1)).as("m"))
      val lbl = und
        .join(lab.select(col("node").as("u"), col("lab").as("lu")), "u")
        .join(lab.select(col("node").as("v"), col("lab").as("lv")), "v")
      val cut = lbl.filter(col("lu") =!= col("lv"))
        .select(explode(array(col("lu"), col("lv"))).as("community"))
        .groupBy("community").agg(count(lit(1)).as("cut_edges"))
      val deg = und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val vol = lab.join(deg, "node")
        .groupBy(col("lab").as("community"))
        .agg(sum(col("deg")).as("volume"), count(lit(1)).as("n_members"))
      vol.join(cut, Seq("community"), "left")
        .withColumn("cut_edges", coalesce(col("cut_edges"), lit(0L)))
        .crossJoin(broadcast(m))
        .withColumn("conductance",
          floor(col("cut_edges").cast("double")
            / least(col("volume"), lit(2) * col("m") - col("volume")).cast("double")
            * lit(1e6) + lit(0.5)) / lit(1e6))
        .select("community", "n_members", "volume", "cut_edges", "conductance")
        .orderBy("community")
    },
      // conductance: the modularity prelude, per-community cut/volume
      s"""WITH $lpaSql,
                 mm AS (SELECT count(*) AS m FROM und),
                 lbl AS (SELECT und.u, und.v, lu.lab AS lu, lv.lab AS lv
                         FROM und JOIN l4 lu ON und.u = lu.node JOIN l4 lv ON und.v = lv.node),
                 cut AS (SELECT lab AS community, count(*) AS cut_edges
                         FROM (SELECT unnest([lu, lv]) AS lab FROM lbl WHERE lu <> lv)
                         GROUP BY 1),
                 deg AS (SELECT node, count(*) AS deg
                         FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
                 vol AS (SELECT l4.lab AS community, CAST(sum(deg) AS BIGINT) AS volume,
                                count(*) AS n_members
                         FROM l4 JOIN deg ON l4.node = deg.node GROUP BY 1)
            SELECT v.community, n_members, volume,
                   coalesce(cut_edges, 0) AS cut_edges,
                   floor(CAST(coalesce(cut_edges, 0) AS DOUBLE)
                     / CAST(least(volume, 2 * m - volume) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS conductance
            FROM vol v LEFT JOIN cut USING (community) CROSS JOIN mm
            ORDER BY community"""),

    // HITS hubs & authorities over the link graph (LinkRank.hits):
    // L1-normalized mutual reinforcement, 6 decimal-exact iterations —
    // the query-dependent-authority side of link analysis that PageRank's
    // global prestige doesn't give. Same bounded per-iteration traffic.
    Query("x_hits", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val edges = linkEdges(docs)
      graft.ext.LinkRank.hits(docs.select(col("doc_id")), "doc_id",
          edges, "src", "dst", iterations = 6)
        .select(col("node").as("doc_id"), col("hub"), col("authority"))
        .orderBy("doc_id")
    },
      // HITS: 6 unrolled (authority, hub) stage pairs, decimal in-sums,
      // round-12 L1 renormalization each step
      {
        val stages = (1 to 6).map { i =>
          s"""ar$i AS MATERIALIZED (
                SELECT e.dst AS node, sum(CAST(h${i - 1}.s AS DECIMAL(28,12))) AS raw
                FROM e JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY 1),
              at$i AS (SELECT sum(raw) AS t FROM ar$i),
              a$i AS MATERIALIZED (
                SELECT nd.node, round(coalesce(CAST(ar.raw AS DOUBLE), 0.0) / CAST(t AS DOUBLE), 12) AS s
                FROM nodes nd LEFT JOIN ar$i ar ON nd.node = ar.node CROSS JOIN at$i),
              hr$i AS MATERIALIZED (
                SELECT e.src AS node, sum(CAST(a$i.s AS DECIMAL(28,12))) AS raw
                FROM e JOIN a$i ON e.dst = a$i.node GROUP BY 1),
              ht$i AS (SELECT sum(raw) AS t FROM hr$i),
              h$i AS MATERIALIZED (
                SELECT nd.node, round(coalesce(CAST(hr.raw AS DOUBLE), 0.0) / CAST(t AS DOUBLE), 12) AS s
                FROM nodes nd LEFT JOIN hr$i hr ON nd.node = hr.node CROSS JOIN ht$i)"""
        }.mkString(",\n")
        s"""WITH $linkEdgesSql,
                 h0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / nn.n, 12) AS s
                        FROM nodes CROSS JOIN nn),
                 $stages
            SELECT n1.node AS doc_id, h6.s AS hub, a6.s AS authority
            FROM nodes n1 JOIN h6 ON n1.node = h6.node JOIN a6 ON n1.node = a6.node
            ORDER BY doc_id"""
      }),

    // 3-core of the link graph (LinkRank.kCore): synchronized peeling —
    // per round, one live-edge join + degree count, lineage cut per
    // round; 8 rounds converge here (LinkRankSpec pins it). The dense
    // subgraph extractor that pagerank/triangles don't give.
    Query("x_kcore", (s, dir) => {
      val edges = linkEdges(t(s, dir, "documents").select("doc_id"))
      graft.ext.LinkRank.kCore(edges, "src", "dst", k = 3, rounds = 8)
        .select(col("node").as("doc_id"), col("core_deg"))
        .orderBy("doc_id")
    },
      // k-core: 8 unrolled synchronized peel rounds over the symmetrized
      // distinct edge set (same generator as x_pagerank)
      {
        val peel = (1 to 8).map { i =>
          s"""d$i AS MATERIALIZED (
                SELECT s.u AS node, count(*) AS core_deg
                FROM sym s JOIN n${i - 1} a ON s.u = a.node JOIN n${i - 1} b ON s.v = b.node
                GROUP BY 1),
              n$i AS MATERIALIZED (SELECT node FROM d$i WHERE core_deg >= 3)"""
        }.mkString(",\n")
        s"""WITH $linkUndSql,
                 sym AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
                 n0 AS (SELECT DISTINCT u AS node FROM sym),
                 $peel
            SELECT node AS doc_id, core_deg FROM d8 WHERE core_deg >= 3 ORDER BY doc_id"""
      }),

    // Adamic–Adar link prediction over the doc link graph (same
    // generator as x_pagerank): for each NON-adjacent pair sharing
    // common neighbors, score = Σ_w 1/ln(deg w) over the common
    // neighbors — the classic missing-link ranker. Wedges come from one
    // self-join of the degree-annotated adjacency on the center (the
    // x_triangles shape); wedge work is Σ deg(w)², so centers above a
    // 10k-degree hub cap are dropped (standard AA practice — a web-scale
    // hub contributes ~0 weight per wedge but quadratic wedge count; the
    // cap is inert on this corpus and mirrored by the oracle). Weights
    // floor-6 + DECIMAL-sum; existing edges anti-joined out; top-100 by
    // (score DESC, u, v) via TakeOrdered with EXACT decimal compare.
    Query("x_adamic_adar", (s, dir) => {
      val edges = linkEdges(t(s, dir, "documents").select("doc_id"))
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
        .distinct().localCheckpoint() // read 3×: two wedge sides + anti-join
      val sym = und.select(col("u").as("w"), col("v").as("x"))
        .unionAll(und.select(col("v").as("w"), col("u").as("x")))
      val deg = sym.groupBy("w").agg(count(lit(1)).as("deg"))
      val nb = sym.join(deg, "w").filter(col("deg") <= 10000)
      val wedges = nb.select(col("w"), col("x").as("a"), col("deg"))
        .join(nb.select(col("w"), col("x").as("b")), "w")
        .filter(col("a") < col("b"))
        .withColumn("wt", (floor(lit(1.0) / log(col("deg").cast("double"))
          * lit(1e6) + lit(0.5)) / lit(1e6)).cast("decimal(28,6)"))
      val scored = wedges.groupBy(col("a").as("u"), col("b").as("v"))
        .agg(count(lit(1)).as("n_common"), sum(col("wt")).as("aa"))
        .join(und, Seq("u", "v"), "left_anti")
      scored.orderBy(col("aa").desc, col("u"), col("v")).limit(100)
        .select(col("u"), col("v"), col("n_common"), col("aa").cast("double").as("aa_score"))
    },
      // Adamic–Adar: same generator, degree-annotated adjacency self-
      // join on the center (10k hub cap mirrored), floor-6 weights +
      // decimal sums, anti-join on existing edges, exact decimal top-100
      s"""WITH $linkUndSql,
                sym AS (SELECT u AS w, v AS x FROM und UNION ALL SELECT v, u FROM und),
                deg AS (SELECT w, count(*) AS deg FROM sym GROUP BY 1),
                nb AS (SELECT sym.w, sym.x, deg.deg FROM sym JOIN deg USING (w)
                       WHERE deg <= 10000),
                wd AS (SELECT a.x AS a, b.x AS b,
                         CAST(floor(1.0 / ln(CAST(a.deg AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6)) AS wt
                       FROM nb a JOIN nb b ON a.w = b.w AND a.x < b.x),
                sc AS (SELECT a AS u, b AS v, count(*) AS n_common, sum(wt) AS aa
                       FROM wd GROUP BY 1, 2),
                nadj AS (SELECT sc.* FROM sc LEFT JOIN und ON sc.u = und.u AND sc.v = und.v
                         WHERE und.u IS NULL)
           SELECT u, v, n_common, CAST(aa AS DOUBLE) AS aa_score
           FROM nadj ORDER BY aa DESC, u, v LIMIT 100"""),

    // Incremental connected components by CLUSTER CONTRACTION — the
    // graph member of the incremental family (dedup/LSH/IVF/BM25 all
    // have one): new edges never reprocess the base graph. Base
    // components contract to their min-id representatives (self-edges
    // keep singletons visible); delta edges map endpoints through the
    // representative table (unseen nodes pass through); a second CC runs
    // on the CONTRACTED graph — |base reps| + |delta nodes| rows, not
    // the corpus — and composing the two labelings reproduces the
    // full-graph min-id labels EXACTLY (min of component mins = global
    // component min). The graph is a sparser single-multiplier cycle
    // decomposition (the 3-multiplier pagerank graph is one giant
    // component — nothing to merge); the mod-3 delta fragments cycles
    // and adds 120+ unseen nodes, so the merge path is genuinely
    // exercised. Oracle = one-shot transitive closure over everything.
    Query("x_cc_incremental", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val nRow = docs.agg(count(lit(1)).as("n"))
      val edges = docs.crossJoin(broadcast(nRow))
        .filter(col("doc_id") % 3 =!= 2)
        .select(col("doc_id").as("src"), ((col("doc_id") * 7 + 7) % col("n")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .localCheckpoint() // base/delta split + node inventory read it
      val base = edges.filter((col("src") + col("dst")) % 3 =!= 0)
      val delta = edges.filter((col("src") + col("dst")) % 3 === 0)
      val rep = Dedup.connectedComponents(base, "src", "dst").localCheckpoint()
      val d2 = delta
        .join(rep.select(col("id").as("src"), col("cluster_id").as("ca")), Seq("src"), "left")
        .join(rep.select(col("id").as("dst"), col("cluster_id").as("cb")), Seq("dst"), "left")
        .select(coalesce(col("ca"), col("src")).as("a"), coalesce(col("cb"), col("dst")).as("b"))
      val contracted = d2.unionByName(
        rep.select(col("cluster_id").as("a"), col("cluster_id").as("b")).distinct())
      val top = Dedup.connectedComponents(contracted, "a", "b")
      val nodesAll = edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id"))).distinct()
      val mapped = nodesAll.join(rep, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("r"))
      mapped.join(top.select(col("id").as("r"), col("cluster_id").as("comp")), Seq("r"), "left")
        .select(col("id"), coalesce(col("comp"), col("r")).as("comp"))
        .groupBy("comp").agg(count(lit(1)).as("n_nodes"))
        .orderBy("comp")
    },
      // incremental CC: one-shot transitive closure over the FULL edge
      // set — hash equality proves the contraction path exact
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
                e0 AS (SELECT doc_id AS src, (doc_id * 7 + 7) % n AS dst
                       FROM documents CROSS JOIN nn WHERE doc_id % 3 <> 2),
                e AS MATERIALIZED (SELECT src, dst FROM e0 WHERE src <> dst),
                und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
                reach(a, b) AS (
                  SELECT a, a FROM (SELECT DISTINCT a FROM und)
                  UNION
                  SELECT u.a, r.b FROM und u JOIN reach r ON u.b = r.a),
                lab AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
           SELECT comp, count(*) AS n_nodes FROM lab GROUP BY 1 ORDER BY 1"""),

    // degree assortativity of the link graph (same generator as
    // x_pagerank): Pearson r over edges of (deg(src), deg(dst)) — do
    // high-degree pages link to high-degree pages? Degrees are one
    // count; the correlation rides groupedLinReg's exact integer
    // sufficient stats. Completes the graph family (pagerank /
    // triangles / CC) with the mixing-structure view.
    Query("x_assortativity", (s, dir) => {
      val edges = linkEdges(t(s, dir, "documents").select("doc_id"))
      val deg = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val pairs = edges
        .join(deg.select(col("node").as("src"), col("deg").as("dsrc")), "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("ddst")), "dst")
      graft.ext.Stats.groupedLinReg(pairs, Seq.empty, col("dsrc"), col("ddst"))
    },
      // assortativity: same edge generator as x_pagerank, degree join,
      // exact-integer Pearson (the x_linreg_tokens select shape)
      s"""WITH $linkEdgesSql,
                d AS (SELECT node, count(*) AS deg
                      FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) GROUP BY 1),
                p AS (SELECT CAST(ds.deg AS BIGINT) AS x, CAST(dd.deg AS BIGINT) AS y
                      FROM e JOIN d ds ON e.src = ds.node JOIN d dd ON e.dst = dd.node),
                st AS (SELECT count(*) AS n,
                         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
                         CAST(sum(x*y) AS HUGEINT) AS sxy,
                         CAST(sum(x*x) AS HUGEINT) AS sxx, CAST(sum(y*y) AS HUGEINT) AS syy
                       FROM p)
           SELECT n,
                  floor(CAST(n*sxy - sx*sy AS DOUBLE) / nullif(CAST(n*sxx - sx*sx AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6 AS slope,
                  floor((CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE) / nullif(CAST(n*sxx - sx*sx AS DOUBLE), 0.0)) * CAST(sx AS DOUBLE))
                        / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS intercept,
                  floor(CAST(n*sxy - sx*sy AS DOUBLE) / nullif(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 0.0) * 1e6 + 0.5) / 1e6 AS r
           FROM st"""),

    // TextRank keyword extraction (Mihalcea–Tarau 2004): PageRank over
    // the word co-occurrence graph — adjacency bigrams with count ≥ 2,
    // symmetrized; vocabulary nodes. Reuses the LinkRank.pageRank
    // decimal-exact iteration (edges hashed once, only the rank vector
    // moves per round); the model is vocabulary-scale, never
    // corpus-scale. Top-20 by (pr DESC, word) via TakeOrdered.
    Query("x_textrank", (s, dir) => {
      val docs = t(s, dir, "documents")
      val tkAll = docs.select(TF.tokens(col("text")).as("tk"))
      val nodes = tkAll.select(explode(col("tk")).as("node")).distinct()
      val bg = tkAll.filter(size(col("tk")) >= 2)
        .select(explode(graft.functions.WordNgrams.wordNgrams(col("tk"), 2)).as("g"))
        .select(split(col("g"), " ").getItem(0).as("a"),
          split(col("g"), " ").getItem(1).as("b"))
      val ec = bg.groupBy("a", "b").agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      val edges = ec.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(ec.select(col("b").as("src"), col("a").as("dst")))
      graft.ext.LinkRank.pageRank(nodes, "node", edges, "src", "dst", iterations = 8)
        .orderBy(col("pr").desc, col("node")).limit(20)
        .select(col("node").as("word"), col("pr").as("rank_score"))
    },
      // TextRank: word co-occurrence graph + the SAME unrolled pagerank
      // stages (prIters references only nodes/nn/e/deg/p0)
      s"""WITH tk AS (SELECT $toksE AS tk FROM documents),
                 nodes AS (SELECT DISTINCT w AS node FROM (SELECT unnest(tk) AS w FROM tk)),
                 nn AS (SELECT count(*) AS n FROM nodes),
                 bg AS (SELECT tk[i] AS a, tk[i + 1] AS b
                        FROM tk, unnest(range(1, len(tk))) AS u(i)
                        WHERE len(tk) >= 2),
                 ec AS (SELECT a, b, count(*) AS c FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
                 e AS (SELECT a AS src, b AS dst FROM ec UNION ALL SELECT b, a FROM ec),
                 deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
                 p0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / nn.n, 12) AS pr
                        FROM nodes CROSS JOIN nn),
                 $prIters
            SELECT node AS word, pr AS rank_score FROM p8
            ORDER BY pr DESC, node LIMIT 20"""),

    // ROUGE-1/ROUGE-2 overlap — the text-generation eval metric plumbed
    // as an engine operator (the ranking metrics x_ndcg/x_rrf's sibling):
    // candidate = the doc's first 60% of tokens (deterministic
    // self-summarization proxy), clipped n-gram overlap per doc, P/R/F1
    // floor-4. Two (doc, gram) count shuffles per n — the multiset
    // intersection never materializes pairwise grams.
    Query("x_rouge", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), TF.tokens(col("text")).as("ref"))
        .withColumn("cand",
          slice(col("ref"), lit(1), ceil(size(col("ref")).cast("double") * lit(0.6)).cast("int")))
      def rougeN(n: Int): DataFrame = {
        def grams(c: Column): Column =
          if (n == 1) c else graft.functions.WordNgrams.wordNgrams(c, n)
        val r = d.select(col("doc_id"), explode(grams(col("ref"))).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("cr"))
        val c = d.select(col("doc_id"), explode(grams(col("cand"))).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("cc"))
        val ov = r.join(c, Seq("doc_id", "g"), "left")
          .groupBy("doc_id").agg(
            sum(least(col("cr"), coalesce(col("cc"), lit(0L)))).as("ov"),
            sum(col("cr")).as("nr"))
        ov.join(c.groupBy("doc_id").agg(sum(col("cc")).as("nc")), Seq("doc_id"))
      }
      def metrics(df: DataFrame, tag: String): DataFrame = {
        val p = col("ov").cast("double") / col("nc").cast("double")
        val rr = col("ov").cast("double") / col("nr").cast("double")
        df.select(col("doc_id"), f4(p).as(s"${tag}_p"), f4(rr).as(s"${tag}_r"),
          f4(when(col("ov") > 0, lit(2.0) * p * rr / (p + rr)).otherwise(lit(0.0))).as(s"${tag}_f"))
      }
      metrics(rougeN(1), "r1").join(metrics(rougeN(2), "r2"), Seq("doc_id")).orderBy("doc_id")
    },
      // ROUGE: clipped n-gram overlap vs the 60%-prefix candidate,
      // bigrams built exactly like the WordNgrams kernel (short docs
      // yield the whole text as one gram)
      s"""WITH d AS (SELECT doc_id, $toksE AS ref FROM documents WHERE doc_id % 10 = 0),
                 dc AS (SELECT doc_id, ref,
                          ref[1:CAST(ceil(len(ref) * 0.6) AS INT)] AS cand FROM d),
                 r1 AS (SELECT doc_id, unnest(ref) AS g FROM dc),
                 c1 AS (SELECT doc_id, unnest(cand) AS g FROM dc),
                 r1c AS (SELECT doc_id, g, count(*) AS cr FROM r1 GROUP BY 1, 2),
                 c1c AS (SELECT doc_id, g, count(*) AS cc FROM c1 GROUP BY 1, 2),
                 o1 AS (SELECT r.doc_id,
                          CAST(sum(least(cr, coalesce(cc, 0))) AS BIGINT) AS ov,
                          CAST(sum(cr) AS BIGINT) AS nr
                        FROM r1c r LEFT JOIN c1c c ON r.doc_id = c.doc_id AND r.g = c.g GROUP BY 1),
                 n1 AS (SELECT doc_id, CAST(sum(cc) AS BIGINT) AS nc FROM c1c GROUP BY 1),
                 m1 AS (SELECT o1.doc_id,
                          floor(CAST(ov AS DOUBLE) / CAST(nc AS DOUBLE) * 1e4 + 0.5) / 1e4 AS r1_p,
                          floor(CAST(ov AS DOUBLE) / CAST(nr AS DOUBLE) * 1e4 + 0.5) / 1e4 AS r1_r,
                          floor(CASE WHEN ov > 0
                            THEN 2.0 * (CAST(ov AS DOUBLE) / CAST(nc AS DOUBLE)) * (CAST(ov AS DOUBLE) / CAST(nr AS DOUBLE))
                                 / (CAST(ov AS DOUBLE) / CAST(nc AS DOUBLE) + CAST(ov AS DOUBLE) / CAST(nr AS DOUBLE))
                            ELSE 0.0 END * 1e4 + 0.5) / 1e4 AS r1_f
                        FROM o1 JOIN n1 USING (doc_id)),
                 r2 AS (SELECT doc_id, unnest(CASE WHEN len(ref) < 2 THEN [array_to_string(ref, ' ')]
                          ELSE list_transform(generate_series(1, len(ref) - 1), i -> array_to_string(ref[i:i+1], ' ')) END) AS g FROM dc),
                 c2 AS (SELECT doc_id, unnest(CASE WHEN len(cand) < 2 THEN [array_to_string(cand, ' ')]
                          ELSE list_transform(generate_series(1, len(cand) - 1), i -> array_to_string(cand[i:i+1], ' ')) END) AS g FROM dc),
                 r2c AS (SELECT doc_id, g, count(*) AS cr FROM r2 GROUP BY 1, 2),
                 c2c AS (SELECT doc_id, g, count(*) AS cc FROM c2 GROUP BY 1, 2),
                 o2 AS (SELECT r.doc_id,
                          CAST(sum(least(cr, coalesce(cc, 0))) AS BIGINT) AS ov,
                          CAST(sum(cr) AS BIGINT) AS nr
                        FROM r2c r LEFT JOIN c2c c ON r.doc_id = c.doc_id AND r.g = c.g GROUP BY 1),
                 n2 AS (SELECT doc_id, CAST(sum(cc) AS BIGINT) AS nc FROM c2c GROUP BY 1),
                 m2 AS (SELECT o2.doc_id,
                          floor(CAST(ov AS DOUBLE) / CAST(nc AS DOUBLE) * 1e4 + 0.5) / 1e4 AS r2_p,
                          floor(CAST(ov AS DOUBLE) / CAST(nr AS DOUBLE) * 1e4 + 0.5) / 1e4 AS r2_r,
                          floor(CASE WHEN ov > 0
                            THEN 2.0 * (CAST(ov AS DOUBLE) / CAST(nc AS DOUBLE)) * (CAST(ov AS DOUBLE) / CAST(nr AS DOUBLE))
                                 / (CAST(ov AS DOUBLE) / CAST(nc AS DOUBLE) + CAST(ov AS DOUBLE) / CAST(nr AS DOUBLE))
                            ELSE 0.0 END * 1e4 + 0.5) / 1e4 AS r2_f
                        FROM o2 JOIN n2 USING (doc_id))
            SELECT m1.doc_id, r1_p, r1_r, r1_f, r2_p, r2_r, r2_f
            FROM m1 JOIN m2 USING (doc_id) ORDER BY m1.doc_id"""),

    // MMR diversified reranking (Carbonell–Goldstein maximal marginal
    // relevance) — the retrieval post-processor between search and a RAG
    // context window: greedily pick 5 of the cosine top-20, each step
    // maximizing λ·rel − (1−λ)·max-sim-to-already-picked (λ=0.7, the 0.3
    // complement a LITERAL in both engines — 1.0−0.7 is a different
    // double than 0.3). Candidate sets are k-bounded, so the 4 unrolled
    // greedy stages are metadata-sized joins, all partitioned by query;
    // the oracle replays the identical stages as unrolled CTEs.
    Query("x_mmr_rerank", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val cand = Similarity.bruteTopK(e, q, "vec_id", "embedding", 20)
        .localCheckpoint() // the corpus-scale pass, paid once
      val cv = cand.join(
        e.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")), "neighbor_id")
      val sims = cv.select(col("query_id"), col("neighbor_id").as("ca"), col("v").as("va"))
        .join(cv.select(col("query_id").as("q2"), col("neighbor_id").as("cb"), col("v").as("vb")),
          col("query_id") === col("q2") && col("ca") =!= col("cb"))
        .select(col("query_id"), col("ca"), col("cb"),
          graft.functions.VectorFunctions.cosine(col("va"), col("vb")).as("sim"))
      // The greedy MMR stages operate on ALGORITHM-CONSTANT state: |q|·20
      // candidates and |q|·20·19 pairwise sims — bounded by the query/k
      // parameters, not the corpus — so after the distributed top-k and
      // cosine passes (unchanged), the 4 selection rounds run as driver
      // arithmetic (the kmeansCents discipline; previously each round was
      // a join+agg+window+checkpoint over ≤200-row frames, ~11 scheduler
      // jobs of fixed cost). Driver ops replicate the Column chain:
      // floor(x·1e6+0.5)/1e6 on doubles; max(sim) with Spark's NaN-is-
      // largest ordering; ties broken (mmr DESC, neighbor_id ASC); a
      // remaining candidate joins INNER to the selected-sim table (every
      // candidate pairs with every selected in sims, so no row is lost).
      val candRows = cand.select("query_id", "neighbor_id", "rank", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      val simRows = sims.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val simMap = simRows.groupBy(x => (x._1, x._2))
        .map { case (k, rows) => k -> rows.map(r => r._3 -> r._4).toMap }
      def sparkMax(vs: Iterable[Double]): Double =
        vs.reduce((a, b) => if (b.isNaN) b else if (a.isNaN) a else math.max(a, b))
      val byQuery = candRows.groupBy(_._1)
      val out = byQuery.toSeq.flatMap { case (qid, rows) =>
        var sel = rows.filter(_._3 == 1).map(r => (r._2, 1))
        var rem = rows.filter(_._3 != 1).map(r => (r._2, r._4))
        for (t <- 2 to 5) {
          val scored = rem.flatMap { case (nid, rel) =>
            val toSel = sel.flatMap { case (sid, _) => simMap.get((qid, nid)).flatMap(_.get(sid)) }
            if (toSel.isEmpty) None
            else Some((nid, f6(0.7 * rel - 0.3 * sparkMax(toSel))))
          }
          if (scored.nonEmpty) {
            // row_number over (mmr DESC, neighbor_id ASC) — Spark orders
            // NaN as LARGEST, so NaN-desc sorts FIRST
            val (pickId, _) = scored.minBy { case (nid, mmr) =>
              (if (mmr.isNaN) java.lang.Double.NEGATIVE_INFINITY else -mmr,
                if (mmr.isNaN) 0 else 1, nid)
            }
            sel = sel :+ ((pickId, t))
            rem = rem.filterNot(_._1 == pickId)
          }
        }
        sel.map { case (nid, pick) => org.apache.spark.sql.Row(qid, pick, nid) }
      }
      s.createDataFrame(java.util.Arrays.asList(out: _*),
        org.apache.spark.sql.types.StructType.fromDDL(
          "query_id BIGINT, pick INT, doc_id BIGINT"))
        .orderBy("query_id", "pick")
    },
      // MMR: cosine top-20 candidates (the x_embed_cosine_topk ranking),
      // then 4 unrolled greedy stages replaying the engine's picks
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
                 q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 10),
                 s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                         list_dot_product(q.vq, e.v) /
                           (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS score
                       FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
                 r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, neighbor_id) AS rank
                       FROM s),
                 cand AS (SELECT query_id, rank, neighbor_id, round(score, 4) AS rel FROM r WHERE rank <= 20),
                 cv AS (SELECT c.query_id, c.neighbor_id, e.v FROM cand c JOIN e ON c.neighbor_id = e.vec_id),
                 msims AS (SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
                             list_dot_product(a.v, b.v) /
                               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
                           FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
                 sel1 AS (SELECT query_id, neighbor_id AS sel_id, 1 AS pick FROM cand WHERE rank = 1),
                 rem1 AS (SELECT query_id, neighbor_id, rel FROM cand WHERE rank <> 1),
                 $mmrStages
            SELECT query_id, pick, sel_id AS doc_id FROM sel5 ORDER BY query_id, pick"""),

    // Corpus-level BLEU-2 (x_rouge's generation-eval sibling, precision
    // side): candidate = 60%-prefix, reference = full doc; modified n-gram
    // precision = Σ min(cand_count, ref_count) / Σ cand_count over the
    // corpus, brevity penalty exp(1 − r/c). Each precision is a ratio of
    // two exact integer sums (two (doc, gram) count shuffles per n — never
    // pairwise grams); sqrt is IEEE-exact, exp is the single libm term
    // (same discipline as x_psi/x_mutual_info's ln).
    Query("x_bleu", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), TF.tokens(col("text")).as("ref"))
        .withColumn("cand",
          slice(col("ref"), lit(1), ceil(size(col("ref")).cast("double") * lit(0.6)).cast("int")))
      def prec(n: Int): DataFrame = {
        def grams(c: Column): Column =
          if (n == 1) c else graft.functions.WordNgrams.wordNgrams(c, n)
        val r = d.select(col("doc_id"), explode(grams(col("ref"))).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("cr"))
        val c = d.select(col("doc_id"), explode(grams(col("cand"))).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("cc"))
        c.join(r, Seq("doc_id", "g"), "left")
          .agg(sum(least(col("cc"), coalesce(col("cr"), lit(0L)))).as(s"ov$n"),
            sum(col("cc")).as(s"tot$n"))
      }
      val lens = d.agg(sum(size(col("cand"))).as("c_len"), sum(size(col("ref"))).as("r_len"))
      val p1 = col("ov1").cast("double") / col("tot1").cast("double")
      val p2 = col("ov2").cast("double") / col("tot2").cast("double")
      val bp = when(col("c_len") >= col("r_len"), lit(1.0))
        .otherwise(exp(lit(1.0) - col("r_len").cast("double") / col("c_len").cast("double")))
      prec(1).crossJoin(prec(2)).crossJoin(lens)
        .select(col("c_len"), col("r_len"), f6(p1).as("p1"), f6(p2).as("p2"),
          f6(bp).as("bp"), f6(bp * sqrt(p1 * p2)).as("bleu2"))
    },
      // BLEU-2: corpus-level clipped precisions (candidate-side counts
      // joined against reference counts), brevity penalty from the exact
      // token-length sums
      s"""WITH d AS (SELECT doc_id, $toksE AS ref FROM documents WHERE doc_id % 10 = 0),
                 dc AS (SELECT doc_id, ref,
                          ref[1:CAST(ceil(len(ref) * 0.6) AS INT)] AS cand FROM d),
                 r1c AS (SELECT doc_id, g, count(*) AS cr
                         FROM (SELECT doc_id, unnest(ref) AS g FROM dc) GROUP BY 1, 2),
                 c1c AS (SELECT doc_id, g, count(*) AS cc
                         FROM (SELECT doc_id, unnest(cand) AS g FROM dc) GROUP BY 1, 2),
                 p1 AS (SELECT CAST(sum(least(cc, coalesce(cr, 0))) AS BIGINT) AS ov1,
                               CAST(sum(cc) AS BIGINT) AS tot1
                        FROM c1c c LEFT JOIN r1c r ON c.doc_id = r.doc_id AND c.g = r.g),
                 r2c AS (SELECT doc_id, g, count(*) AS cr
                         FROM (SELECT doc_id, unnest(CASE WHEN len(ref) < 2 THEN [array_to_string(ref, ' ')]
                                 ELSE list_transform(generate_series(1, len(ref) - 1), i -> array_to_string(ref[i:i+1], ' ')) END) AS g FROM dc)
                         GROUP BY 1, 2),
                 c2c AS (SELECT doc_id, g, count(*) AS cc
                         FROM (SELECT doc_id, unnest(CASE WHEN len(cand) < 2 THEN [array_to_string(cand, ' ')]
                                 ELSE list_transform(generate_series(1, len(cand) - 1), i -> array_to_string(cand[i:i+1], ' ')) END) AS g FROM dc)
                         GROUP BY 1, 2),
                 p2 AS (SELECT CAST(sum(least(cc, coalesce(cr, 0))) AS BIGINT) AS ov2,
                               CAST(sum(cc) AS BIGINT) AS tot2
                        FROM c2c c LEFT JOIN r2c r ON c.doc_id = r.doc_id AND c.g = r.g),
                 lens AS (SELECT CAST(sum(len(cand)) AS BIGINT) AS c_len,
                                 CAST(sum(len(ref)) AS BIGINT) AS r_len FROM dc),
                 z AS (SELECT c_len, r_len,
                         CAST(ov1 AS DOUBLE) / CAST(tot1 AS DOUBLE) AS rp1,
                         CAST(ov2 AS DOUBLE) / CAST(tot2 AS DOUBLE) AS rp2,
                         CASE WHEN c_len >= r_len THEN 1.0
                              ELSE exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)) END AS rbp
                       FROM p1 CROSS JOIN p2 CROSS JOIN lens)
            SELECT c_len, r_len,
                   floor(rp1 * 1e6 + 0.5) / 1e6 AS p1,
                   floor(rp2 * 1e6 + 0.5) / 1e6 AS p2,
                   floor(rbp * 1e6 + 0.5) / 1e6 AS bp,
                   floor(rbp * sqrt(rp1 * rp2) * 1e6 + 0.5) / 1e6 AS bleu2
            FROM z"""),

    // Rank-biased overlap (Webber 2010) between the cosine and raw
    // inner-product top-10 rankings — the rank-similarity eval that
    // quantifies how much vector normalization reorders retrieval.
    // p = ½ makes every weight (1−p)p^{d−1} = 2⁻ᵈ an exact dyadic, so
    // term d = 1/(d·2ᵈ) is one exact-rounded division in both engines —
    // no pow/float-literal anywhere. A common neighbor with ranks
    // (ra, rb) contributes to every depth d ≥ max(ra,rb), so RBO is one
    // k-bounded join + a 10-row depth grid — metadata-sized after the
    // two top-k scans.
    Query("x_rbo", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val a = Similarity.bruteTopK(e, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("ra"))
      val b = Similarity.maxInnerProductTopK(e, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rb"))
      val m = a.join(b, Seq("query_id", "neighbor_id"))
        .select(col("query_id"), greatest(col("ra"), col("rb")).as("m"))
      val depths = m.sparkSession.range(1, 11).select(col("id").cast("int").as("d"))
      val terms = m.join(broadcast(depths), col("d") >= col("m"))
        .select(col("query_id"),
          f6(lit(1.0) / (col("d") * expr("shiftleft(cast(1 as bigint), d)")).cast("double")).as("term"))
      val qids = q.select(col("vec_id").as("query_id"))
      qids.join(
          terms.groupBy("query_id").agg(
            round(sum(col("term").cast("decimal(28,6)")).cast("double"), 6).as("rbo")),
          Seq("query_id"), "left")
        .join(m.groupBy("query_id").agg(count(lit(1)).as("n_common")),
          Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_common"), lit(0L)).as("n_common"),
          coalesce(col("rbo"), lit(0.0)).as("rbo"))
        .orderBy("query_id")
    },
      // RBO: cosine vs inner-product top-10, dyadic depth weights
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 10),
                sa AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                         list_dot_product(q.vq, e.v) /
                           (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS score
                       FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
                ra AS (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, neighbor_id) AS ra
                       FROM sa),
                sb AS (SELECT q.query_id, e.vec_id AS neighbor_id, list_dot_product(q.vq, e.v) AS ip
                       FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
                rb AS (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rb
                       FROM sb),
                m AS (SELECT a.query_id, greatest(a.ra, b.rb) AS m
                      FROM ra a JOIN rb b ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
                      WHERE a.ra <= 10 AND b.rb <= 10),
                dg AS (SELECT unnest(generate_series(1, 10)) AS d),
                t AS (SELECT query_id,
                        floor(1.0 / CAST(d.d * (1 << d.d) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS term
                      FROM m JOIN dg d ON d.d >= m.m),
                agg AS (SELECT query_id,
                          round(CAST(sum(CAST(term AS DECIMAL(28,6))) AS DOUBLE), 6) AS rbo
                        FROM t GROUP BY 1),
                nc AS (SELECT query_id, count(*) AS n_common FROM m GROUP BY 1)
           SELECT q.query_id, coalesce(nc.n_common, 0) AS n_common, coalesce(agg.rbo, 0.0) AS rbo
           FROM q LEFT JOIN agg ON q.query_id = agg.query_id
                  LEFT JOIN nc ON q.query_id = nc.query_id
           ORDER BY q.query_id"""),

    // Feed-freshness monitor — the operational data-quality view next
    // to x_expectations' content checks: per type, last event time, lag
    // behind the freshest feed in whole minutes, and a >24 h staleness
    // flag. One map-side-combined max aggregate plus a broadcast 1-row
    // global max; at 100 TB this reads only parquet footer stats after
    // predicate-less max pushdown.
    Query("x_freshness", (s, dir) => {
      val e = events(s, dir).select(col("event_type"), unix_millis(col("ts")).as("ms"))
      val per = e.groupBy("event_type").agg(count(lit(1)).as("n"), max(col("ms")).as("last_ms"))
      val g = per.agg(max(col("last_ms")).as("global_ms"))
      per.crossJoin(broadcast(g))
        .withColumn("lag_minutes", floor((col("global_ms") - col("last_ms")) / lit(60000.0)).cast("long"))
        .withColumn("stale_24h", (col("lag_minutes") >= 1440).cast("int"))
        .select("event_type", "n", "last_ms", "lag_minutes", "stale_24h")
        .orderBy("event_type")
    },
      // freshness: footer-stat max aggregates + broadcast global max
      """WITH e AS (SELECT event_type, epoch_ms(ts) AS ms FROM events),
                per AS (SELECT event_type, count(*) AS n, max(ms) AS last_ms FROM e GROUP BY 1),
                g AS (SELECT max(last_ms) AS global_ms FROM per)
           SELECT event_type, n, last_ms,
                  CAST(floor((global_ms - last_ms) / 60000.0) AS BIGINT) AS lag_minutes,
                  CASE WHEN floor((global_ms - last_ms) / 60000.0) >= 1440 THEN 1 ELSE 0 END AS stale_24h
           FROM per, g ORDER BY event_type"""),

    // personalized PageRank (random walk with restart to a seed set —
    // TrustRank-style crawl curation): the x_pagerank graph with every
    // 50th doc as a trusted seed; rank mass localizes around the seeds.
    // graft.ext.LinkRank.personalizedPageRank; oracle = 8 unrolled CTE
    // stages of the identical recurrence.
    Query("x_ppr", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val edges = linkEdges(docs)
      val seeds = docs.filter(col("doc_id") % 50 === 0)
      LinkRank.personalizedPageRank(docs, "doc_id", edges, "src", "dst",
          seeds, "doc_id", iterations = 8)
        .select(col("node").as("doc_id"), col("pr").as("ppr"))
        .orderBy("doc_id")
    },
      // personalized PageRank: 8 unrolled stages of the restart recurrence
      s"""WITH $linkEdgesSql,
                 deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
                 sn AS (SELECT count(*) AS s FROM nodes WHERE node % 50 = 0),
                 nodesr AS (SELECT node,
                              CASE WHEN node % 50 = 0
                                THEN CAST(1.0 AS DOUBLE) / CAST(s AS DOUBLE)
                                ELSE CAST(0.0 AS DOUBLE) END AS r
                            FROM nodes CROSS JOIN sn),
                 p0 AS (SELECT node, round(r, 12) AS pr FROM nodesr),
                 $pprIters
            SELECT node AS doc_id, pr AS ppr FROM p8 ORDER BY doc_id"""),

    // Multi-source BFS layer census on the same synthetic link graph as
    // x_pagerank/x_ppr: minimum hop distance from the seed set
    // (node % 50 = 0), 6 rounds of frontier expansion
    // (LinkRank.bfsDistances — per-round traffic is frontier×fanout,
    // lineage cut per round). Layer sizes answer the crawl-reachability
    // question (how much of the corpus is within k hops of the trusted
    // seeds). The oracle replays the same exploration as a recursive
    // CTE (UNION-dedup'd (node, dist) states, min per node).
    Query("x_bfs_layers", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val edges = linkEdges(docs)
      val seeds = docs.filter(col("doc_id") % 50 === 0)
      LinkRank.bfsDistances(seeds, "doc_id", edges, "src", "dst", maxDepth = 6)
        .groupBy(col("dist").as("layer")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("layer")
    },
      // BFS: recursive CTE over (node, dist) states, min dist per node
      s"""WITH RECURSIVE $linkEdgesSql,
                r AS (SELECT node, 0 AS dist FROM nodes WHERE node % 50 = 0
                      UNION
                      SELECT e.dst AS node, r.dist + 1 AS dist
                      FROM r JOIN e ON e.src = r.node WHERE r.dist < 6),
                m AS (SELECT node, min(dist) AS dist FROM r GROUP BY 1)
           SELECT CAST(dist AS INTEGER) AS layer, count(*) AS n_nodes
           FROM m GROUP BY 1 ORDER BY 1"""),

    // churn-rule evaluation with a PROPER TEMPORAL SPLIT: the feature
    // (activity in the first 20 days) never sees the label window (no
    // events in the last 7) — the leakage mistake this query is the
    // template for avoiding. Rule: below-median early activity predicts
    // churn; scored as a confusion matrix + precision/recall/F1 from
    // exact integers (threshold via interpolated percentile).
    Query("x_churn_rule", (s, dir) => {
      val e = events(s, dir)
      val maxDay = e.agg(max(to_date(col("day"))).as("dmax"))
      val per = e.crossJoin(broadcast(maxDay)).groupBy("user_id").agg(
        sum(when(datediff(col("dmax"), to_date(col("day"))) >= 10, 1L).otherwise(0L)).as("f_early"),
        sum(when(datediff(col("dmax"), to_date(col("day"))) <= 6, 1L).otherwise(0L)).as("f_late"))
      val th = per.agg(expr("percentile(f_early, 0.5)").as("med"))
      val scored = per.crossJoin(broadcast(th))
        .withColumn("churned", col("f_late") === 0L)
        .withColumn("predicted", col("f_early").cast("double") < col("med"))
      scored.agg(
          sum(when(col("predicted") && col("churned"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("predicted") && !col("churned"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("predicted") && col("churned"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("predicted") && !col("churned"), 1L).otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          (floor(col("tp").cast("double") / nullif((col("tp") + col("fp")).cast("double"), lit(0.0)) * lit(1e4) + lit(0.5)) / lit(1e4)).as("precision"),
          (floor(col("tp").cast("double") / nullif((col("tp") + col("fn")).cast("double"), lit(0.0)) * lit(1e4) + lit(0.5)) / lit(1e4)).as("recall"))
    },
      // churn rule: temporal-split feature/label, integer confusion
      s"""WITH mx AS (SELECT max(CAST($dayE AS DATE)) AS dmax FROM events),
                 per AS (SELECT user_id,
                           CAST(sum(CASE WHEN dmax - CAST($dayE AS DATE) >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS f_early,
                           CAST(sum(CASE WHEN dmax - CAST($dayE AS DATE) <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS f_late
                         FROM events CROSS JOIN mx GROUP BY 1),
                 th AS (SELECT quantile_cont(f_early, 0.5) AS med FROM per),
                 sc AS (SELECT f_late = 0 AS churned,
                               CAST(f_early AS DOUBLE) < med AS predicted
                        FROM per CROSS JOIN th),
                 cm AS (SELECT
                          CAST(sum(CASE WHEN predicted AND churned THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                          CAST(sum(CASE WHEN predicted AND NOT churned THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                          CAST(sum(CASE WHEN NOT predicted AND churned THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                          CAST(sum(CASE WHEN NOT predicted AND NOT churned THEN 1 ELSE 0 END) AS BIGINT) AS tn
                        FROM sc)
            SELECT tp, fp, fn, tn,
                   floor(CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0) * 1e4 + 0.5) / 1e4 AS precision,
                   floor(CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0) * 1e4 + 0.5) / 1e4 AS recall
            FROM cm"""),

    // RFM customer segmentation: recency / frequency / monetary per user,
    // quintile-scored against exact interpolated percentiles of the user
    // population (a12 percentile↔quantile_cont parity; thresholds are
    // intermediate doubles identical in both engines). Monetary rides the
    // exact decimal dsum. Two aggregations — users, then a 1-row
    // threshold broadcast — at any event volume.
    Query("x_rfm_scores", (s, dir) => {
      val e = events(s, dir)
      val ref = e.agg(max(col("day")).as("ref_day"))
      val rfm = e.crossJoin(broadcast(ref))
        .groupBy("user_id")
        .agg(
          min(datediff(to_date(col("ref_day")), to_date(col("day")))).as("r"),
          count(lit(1)).as("f"),
          dsum(col("value")).as("m"))
      val th = rfm.agg(
        expr("percentile(r, 0.2)").as("r20"), expr("percentile(r, 0.4)").as("r40"),
        expr("percentile(r, 0.6)").as("r60"), expr("percentile(r, 0.8)").as("r80"),
        expr("percentile(f, 0.2)").as("f20"), expr("percentile(f, 0.4)").as("f40"),
        expr("percentile(f, 0.6)").as("f60"), expr("percentile(f, 0.8)").as("f80"),
        expr("percentile(m, 0.2)").as("m20"), expr("percentile(m, 0.4)").as("m40"),
        expr("percentile(m, 0.6)").as("m60"), expr("percentile(m, 0.8)").as("m80"))
      def up(v: Column, a: Column, b: Column, c: Column, d: Column) =
        (lit(1) + when(v > a, 1).otherwise(0) + when(v > b, 1).otherwise(0)
          + when(v > c, 1).otherwise(0) + when(v > d, 1).otherwise(0))
      def down(v: Column, a: Column, b: Column, c: Column, d: Column) =
        (lit(1) + when(v < a, 1).otherwise(0) + when(v < b, 1).otherwise(0)
          + when(v < c, 1).otherwise(0) + when(v < d, 1).otherwise(0))
      rfm.crossJoin(broadcast(th))
        .select(col("user_id"), col("r"), col("f"), col("m"),
          down(col("r").cast("double"), col("r20"), col("r40"), col("r60"), col("r80")).as("score_r"),
          up(col("f").cast("double"), col("f20"), col("f40"), col("f60"), col("f80")).as("score_f"),
          up(col("m"), col("m20"), col("m40"), col("m60"), col("m80")).as("score_m"))
        .withColumn("segment",
          concat(col("score_r").cast("string"), col("score_f").cast("string"),
            col("score_m").cast("string")))
        .orderBy("user_id")
    },
      // RFM: exact interpolated percentile thresholds, strict-inequality
      // quintile scores, decimal monetary sum
      s"""WITH ref AS (SELECT max($dayE) AS ref_day FROM events),
                 rfm AS (SELECT user_id,
                           min(CAST(ref_day AS DATE) - CAST($dayE AS DATE)) AS r,
                           count(*) AS f,
                           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS m
                         FROM events CROSS JOIN ref GROUP BY 1),
                 th AS (SELECT quantile_cont(r, 0.2) AS r20, quantile_cont(r, 0.4) AS r40,
                               quantile_cont(r, 0.6) AS r60, quantile_cont(r, 0.8) AS r80,
                               quantile_cont(f, 0.2) AS f20, quantile_cont(f, 0.4) AS f40,
                               quantile_cont(f, 0.6) AS f60, quantile_cont(f, 0.8) AS f80,
                               quantile_cont(m, 0.2) AS m20, quantile_cont(m, 0.4) AS m40,
                               quantile_cont(m, 0.6) AS m60, quantile_cont(m, 0.8) AS m80
                        FROM rfm),
                 sc AS (SELECT user_id, r, f, m,
                          1 + CASE WHEN r < r20 THEN 1 ELSE 0 END + CASE WHEN r < r40 THEN 1 ELSE 0 END
                            + CASE WHEN r < r60 THEN 1 ELSE 0 END + CASE WHEN r < r80 THEN 1 ELSE 0 END AS score_r,
                          1 + CASE WHEN f > f20 THEN 1 ELSE 0 END + CASE WHEN f > f40 THEN 1 ELSE 0 END
                            + CASE WHEN f > f60 THEN 1 ELSE 0 END + CASE WHEN f > f80 THEN 1 ELSE 0 END AS score_f,
                          1 + CASE WHEN m > m20 THEN 1 ELSE 0 END + CASE WHEN m > m40 THEN 1 ELSE 0 END
                            + CASE WHEN m > m60 THEN 1 ELSE 0 END + CASE WHEN m > m80 THEN 1 ELSE 0 END AS score_m
                        FROM rfm CROSS JOIN th)
            SELECT user_id, CAST(r AS INTEGER) AS r, f, m,
                   CAST(score_r AS INTEGER) AS score_r, CAST(score_f AS INTEGER) AS score_f,
                   CAST(score_m AS INTEGER) AS score_m,
                   CAST(score_r AS VARCHAR) || CAST(score_f AS VARCHAR) || CAST(score_m AS VARCHAR) AS segment
            FROM sc ORDER BY user_id"""),

    // top event-type PATHS (length-3 sequences of consecutive events per
    // user): the Sankey/flow view one order of the Markov matrix can't
    // give. Two lags on one user-partitioned window (one shuffle), path
    // space bounded by |types|³.
    Query("x_event_paths", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      val p = e.withColumn("p1", lag(col("event_type"), 2).over(w))
        .withColumn("p2", lag(col("event_type"), 1).over(w))
        .filter(col("p1").isNotNull)
        .groupBy(col("p1"), col("p2"), col("event_type").as("p3"))
        .agg(count(lit(1)).as("n"))
      val tot = p.agg(sum(col("n")).as("total"))
      p.crossJoin(broadcast(tot))
        .withColumn("frac",
          floor(col("n").cast("double") / col("total").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
        .select("p1", "p2", "p3", "n", "frac")
        .orderBy("p1", "p2", "p3")
    },
      // event paths: double lag on the same (user)-partitioned order
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
                l AS (SELECT user_id, event_type AS p3,
                        lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS p1,
                        lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS p2
                      FROM e),
                p AS (SELECT p1, p2, p3, count(*) AS n FROM l WHERE p1 IS NOT NULL GROUP BY 1, 2, 3),
                t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM p)
           SELECT p1, p2, p3, n,
                  floor(CAST(n AS DOUBLE) / total * 1e6 + 0.5) / 1e6 AS frac
           FROM p CROSS JOIN t ORDER BY p1, p2, p3"""),

    // word2vec-style negative-sampling table: per source, words drawn
    // without replacement ∝ count^0.75 (Mikolov smoothing) via the A-ES
    // key machinery (x_weighted_sample). count^0.75 is computed as
    // sqrt(c·sqrt(c)) — two CORRECTLY-ROUNDED IEEE sqrts instead of libm
    // pow(x, .75), whose last-ulp behavior differs across engines.
    Query("x_neg_sampling", (s, dir) => {
      val wc = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .withColumn("w075",
          sqrt(col("c").cast("double") * sqrt(col("c").cast("double"))))
      graft.ext.Mixture.weightedSampleWithoutReplacement(
        wc, "source", "w", col("w075"), k = 10)
        .orderBy("source", "pick_rank")
    },
      // negative sampling: A-ES keys with c^0.75 as sqrt(c*sqrt(c)) —
      // correctly-rounded IEEE ops, never libm pow
      s"""WITH wc AS (SELECT source, w, count(*) AS c
                        FROM (SELECT source, unnest($toksE) AS w FROM documents) GROUP BY 1, 2),
                 wt AS (SELECT source, w,
                          greatest(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE))), 1.0) AS weight,
                          floor(ln((CAST(CAST(('0x' || substring(md5(w), 1, 6)) AS BIGINT) AS DOUBLE) + 1.0) / 16777217.0)
                                / greatest(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE))), 1.0) * 1e6 + 0.5) / 1e6 AS key
                        FROM wc),
                 r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY key DESC, w) AS pick_rank FROM wt)
            SELECT source, CAST(pick_rank AS INTEGER) AS pick_rank, w, weight, key
            FROM r WHERE pick_rank <= 10 ORDER BY source, pick_rank"""),

    // Zipf vocabulary coverage: per source, the fraction of token
    // occurrences covered by the global top-{10,100,1000} words — the
    // curve behind vocab-size and tokenizer-budget decisions. The top-K
    // list rides TakeOrdered (distributed, deterministic (freq DESC,
    // word) total order — no global window over the vocabulary), then a
    // broadcast membership join; per-source sums are exact integers.
    Query("x_vocab_coverage", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("w"))
      val top = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(1000)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(constKey(col("cnt"))).orderBy(col("cnt").desc, col("w"))))
        .select("w", "rnk")
      val sw = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
      def cov(k: Int) =
        floor(sum(when(col("rnk") <= k, col("c")).otherwise(0L)).cast("double")
          / sum(col("c")).cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)
      sw.join(broadcast(top), Seq("w"), "left")
        .groupBy("source")
        .agg(sum(col("c")).as("n_tokens"),
          cov(10).as("cov10"), cov(100).as("cov100"), cov(1000).as("cov1000"))
        .orderBy("source")
    },
      // vocab coverage: deterministic (cnt DESC, word) top-1000 ranks,
      // integer sums, floor-round-6 fractions
      s"""WITH toks AS (SELECT source, unnest($toksE) AS w FROM documents),
                 v AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
                 t AS (SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rnk FROM v
                       QUALIFY rnk <= 1000),
                 sw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2)
            SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                   floor(CAST(sum(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS DOUBLE)
                     / CAST(sum(c) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cov10,
                   floor(CAST(sum(CASE WHEN rnk <= 100 THEN c ELSE 0 END) AS DOUBLE)
                     / CAST(sum(c) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cov100,
                   floor(CAST(sum(CASE WHEN rnk <= 1000 THEN c ELSE 0 END) AS DOUBLE)
                     / CAST(sum(c) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cov1000
            FROM sw LEFT JOIN t USING (w)
            GROUP BY source ORDER BY source"""),

    // half-life decay engagement scoring: each event contributes
    // value · 0.5^⌊age_days/7⌋ (weekly half-life, INTEGER exponent — a
    // dyadic scale factor, so the product is EXACT in IEEE; fractional
    // exponents would hit libm pow parity). Terms floor-round to 6 dp,
    // DECIMAL-sum per user (order-independent); the reference day is a
    // 1-row broadcast aggregate.
    Query("x_decay_engagement", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("day"), col("value"))
      val ref = e.agg(max(col("day")).as("ref_day"))
      e.crossJoin(broadcast(ref))
        .withColumn("age", datediff(to_date(col("ref_day")), to_date(col("day"))))
        .withColumn("term",
          floor(col("value") * pow(lit(0.5), floor(col("age") / lit(7)).cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("term").cast("decimal(28,6)")), 4).cast("double").as("engagement"))
        .orderBy("user_id")
    },
      // decay engagement: dyadic 0.5^floor(age/7) scale (exact product),
      // floor-round-6 terms, decimal sum, round the DECIMAL then cast
      s"""WITH r AS (SELECT max($dayE) AS ref_day FROM events),
                 e AS (SELECT user_id,
                         CAST(ref_day AS DATE) - CAST($dayE AS DATE) AS age,
                         value
                       FROM events CROSS JOIN r),
                 t AS (SELECT user_id,
                         floor(value * pow(0.5, floor(age / 7)) * 1e6 + 0.5) / 1e6 AS term
                       FROM e)
            SELECT user_id, count(*) AS n_events,
                   CAST(round(sum(CAST(term AS DECIMAL(28,6))), 4) AS DOUBLE) AS engagement
            FROM t GROUP BY user_id ORDER BY user_id"""),

    // fuzzy product-name matching (entity resolution): distinct part
    // names, BLOCKED on the first token (equi-join — never all-pairs),
    // scored by the native Jaro–Winkler kernel
    // (graft.functions.JaroWinkler, bit-exact vs DuckDB's
    // jaro_winkler_similarity). Blocking keys are data-bounded
    // (|first tokens| ≤ |names|); candidate volume is Σ per-block n² over
    // DISTINCT names — catalog-scale, not corpus-scale, at 100 TB.
    Query("x_jaro_names", (s, dir) => {
      import graft.functions.JaroWinkler.jaroWinkler
      val names = t(s, dir, "part").select(col("p_name")).distinct()
        .withColumn("blk", split(col("p_name"), " ").getItem(0))
      val a = names.select(col("blk"), col("p_name").as("name_a"))
      val b = names.select(col("blk"), col("p_name").as("name_b"))
      a.join(b, "blk")
        .filter(col("name_a") < col("name_b"))
        .withColumn("jw_raw", jaroWinkler(col("name_a"), col("name_b")))
        .select(col("name_a"), col("name_b"),
          (floor(col("jw_raw") * lit(1e6) + lit(0.5)) / lit(1e6)).as("jw"),
          (col("jw_raw") >= lit(0.85)).as("is_match"))
        .orderBy("name_a", "name_b")
    },
      // first-token-blocked name pairs scored by jaro_winkler_similarity
      // (the native JaroWinkler kernel is verified bit-exact against it);
      // threshold compare on the RAW double, round-6 on the report
      """WITH p AS (SELECT DISTINCT p_name FROM part),
                b AS (SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM p),
                c AS (SELECT a.p_name AS name_a, b2.p_name AS name_b,
                             jaro_winkler_similarity(a.p_name, b2.p_name) AS s
                      FROM b a JOIN b b2 ON a.blk = b2.blk AND a.p_name < b2.p_name)
           SELECT name_a, name_b,
                  floor(s * 1e6 + 0.5) / 1e6 AS jw,
                  s >= 0.85 AS is_match
           FROM c ORDER BY name_a, name_b"""),

    // unigram-LM subword tokenizer (SentencePiece/Kudo 2018 — BPE's
    // global-argmax sibling; graft.ext.UnigramTok): vocabulary = substring
    // pieces over minCount (data-derived: total_tokens/100) plus all
    // single chars; every word Viterbi-segmented by ONE array fold over a
    // per-word piece-score map; the corpus pass is a word equi-join —
    // no DP per corpus row. DECIMAL path sums, deterministic tie-breaks,
    // oracle = 20 unrolled DP stages ranked (s DESC, n, j).
    Query("x_unigram_tok", (s, dir) => {
      import graft.ext.UnigramTok
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(UnigramTok.tokens(col("text"))).as("w"))
      val words = CacheScope.cached(toks.groupBy("w").agg(count(lit(1)).as("f")))
      // bounded scalar (distinct-word table aggregate) — the pageRank
      // count pattern; integer division mirrored by the oracle's //
      val minCount = words.agg(sum(col("f"))).head().getLong(0) / 100
      val vocab = UnigramTok.fitVocab(words, "w", "f", maxPiece = 4, minCount)
      val seg = UnigramTok.segmentWords(words.select("w"), "w", vocab, maxPiece = 4)
      toks.join(seg, toks("w") === seg("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_unitok"),
          round(sum(col("logp")), 4).cast("double").as("sum_logp"))
        .orderBy("doc_id")
    },
      // unigram tokenizer: vocabulary fit + 20 unrolled Viterbi stages;
      // minCount = total_tokens // 100 mirrors the Spark long division
      s"""WITH uwords AS MATERIALIZED (SELECT w, count(*) AS f
                            FROM (SELECT unnest($uniToks) AS w FROM documents) GROUP BY w),
                 usubs AS (SELECT substr(w, p, l) AS piece, f FROM uwords,
                           unnest(generate_series(1, length(w))) AS a(p),
                           unnest(generate_series(1, least(4, length(w) - p + 1))) AS b(l)),
                 ucnt AS (SELECT piece, CAST(sum(f) AS BIGINT) AS cnt FROM usubs GROUP BY piece),
                 utt AS (SELECT CAST(sum(f) AS BIGINT) AS tt FROM uwords),
                 uvocab0 AS (SELECT piece, cnt FROM ucnt CROSS JOIN utt
                             WHERE length(piece) = 1 OR cnt >= tt // 100),
                 utotal AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM uvocab0),
                 uvocab AS MATERIALIZED (SELECT piece,
                              CAST(round(ln(CAST(cnt AS DOUBLE) / t), 6) AS DECIMAL(18,6)) AS score
                            FROM uvocab0 CROSS JOIN utotal),
                 udp0 AS MATERIALIZED (SELECT w, CAST(0 AS DECIMAL(18,6)) AS s, 0 AS n FROM uwords),
                 $uniDp,
                 uwres AS ($uniWres),
                 utoks AS (SELECT doc_id, unnest($uniToks) AS w FROM documents)
            SELECT doc_id, count(*) AS n_words, CAST(sum(n) AS BIGINT) AS n_unitok,
                   CAST(round(sum(s), 4) AS DOUBLE) AS sum_logp
            FROM utoks JOIN uwres USING (w)
            GROUP BY doc_id ORDER BY doc_id"""),

    // Fellegi–Sunter probabilistic record linkage (the 1969 decision
    // model behind Splink/dedupe): customers vs a deterministically
    // dirtied copy (every 3rd name case-flipped, every 7th segment
    // corrupted, balance jittered by key%5), BLOCKED on nation — per-
    // block all-pairs like production linkage, never corpus all-pairs.
    // u-probabilities are EXACT random-agreement rates Σf²/n² from the
    // dirty side's field histograms; m fixed priors (.95/.9/.8); field
    // weights log2(m/u) / log2((1−m)/(1−u)) floor-6; predict match at
    // score > 0 (the likelihood-ratio-positive rule). Output: pair
    // volume + confusion vs the planted key identity.
    Query("x_record_linkage", (s, dir) => {
      val c = t(s, dir, "customer")
      val bal = col("c_acctbal").cast("double")
      val a = c.select(col("c_custkey").as("akey"), col("c_nationkey").as("blk"),
        col("c_name").as("aname"), col("c_mktsegment").as("aseg"),
        floor(bal / 100).as("abal"), floor(bal).as("adollar"))
      val b = c.select((col("c_custkey") + 1000000).as("bkey"), col("c_nationkey").as("blk"),
        when(col("c_custkey") % 3 === 0, upper(col("c_name"))).otherwise(col("c_name")).as("bname"),
        when(col("c_custkey") % 7 === 0, lit("UNKNOWN")).otherwise(col("c_mktsegment")).as("bseg"),
        floor((bal + (col("c_custkey") % 5).cast("double")) / 100).as("bbal"),
        floor(bal + (col("c_custkey") % 5).cast("double")).as("bdollar"))
      // SCALABLE CANDIDATE GENERATION (the round-10 sf1 lesson: blocking
      // on the 25-value nationkey alone makes within-block pairs grow
      // QUADRATICALLY — measured 72× at 10× data). Two standard blocking
      // passes replace the block cartesian, each an equi-join whose key
      // cardinality scales with the data:
      //   pass 1 (blk, case-normalized name) — catches every true link
      //     (the corruption only uppercases), block size O(duplicate names);
      //   pass 2 (blk, seg, dollar grid) — the sorted-neighborhood-style
      //     near-balance pass: a explodes into the 5 covering dollar cells
      //     (b's balance is perturbed by +0..4 whole dollars), so pairs
      //     within $4 and agreeing on segment surface as hard negatives.
      // Scores are then computed on candidates only; recall is measured
      // against ALL true links, so a blocking miss shows up as lost recall
      // rather than hiding.
      val bCols = Seq("bkey", "bname", "bseg", "bbal").map(col)
      val aCols = Seq("akey", "aname", "aseg", "abal").map(col)
      val nameCand = a.join(b,
        a("blk") === b("blk") && upper(a("aname")) === upper(b("bname")))
        .select(aCols ++ bCols: _*)
      val balCand = a.withColumn("cell", explode(sequence(col("adollar"), col("adollar") + 4)))
        .join(b, a("blk") === b("blk") && a("aseg") === b("bseg") && col("cell") === b("bdollar"))
        .select(aCols ++ bCols: _*)
      val cand = nameCand.unionByName(balCand).dropDuplicates("akey", "bkey")
      def uOf(df: DataFrame, cn: String, out: String): DataFrame =
        df.groupBy(cn).agg(count(lit(1)).as("f"))
          .agg(sum(col("f") * col("f")).as("sq"), sum(col("f")).as("n"))
          .select((col("sq").cast("double")
            / (col("n").cast("double") * col("n").cast("double"))).as(out))
      val us = uOf(b, "bname", "u_name").crossJoin(uOf(b, "bseg", "u_seg"))
        .crossJoin(uOf(b, "bbal", "u_bal"))
      val nTrue = c.agg(count(lit(1)).as("n_true"))
      def w(agree: Column, m: Double, u: Column): Column =
        f6(when(agree, log2(lit(m) / u)).otherwise(log2((lit(1.0) - lit(m)) / (lit(1.0) - u))))
      val pairs = cand.crossJoin(broadcast(us))
        .withColumn("score",
          w(col("aname") === col("bname"), 0.95, col("u_name"))
            + w(col("aseg") === col("bseg"), 0.9, col("u_seg"))
            + w(col("abal") === col("bbal"), 0.8, col("u_bal")))
        .withColumn("pred", (col("score") > lit(0.0)).cast("long"))
        .withColumn("truth", (col("bkey") - 1000000 === col("akey")).cast("long"))
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("pred")).as("n_pred"),
        sum(col("pred") * col("truth")).as("tp"))
        .crossJoin(broadcast(nTrue))
        .crossJoin(broadcast(us))
        .select(col("n_pairs"), col("n_pred"), col("n_true"), col("tp"),
          f4(col("tp").cast("double") / col("n_pred").cast("double")).as("precision"),
          f4(col("tp").cast("double") / col("n_true").cast("double")).as("recall"),
          f6(col("u_name")).as("u_name"), f6(col("u_seg")).as("u_seg"),
          f6(col("u_bal")).as("u_bal"))
    },
      // record linkage: the (1−m)/(1−u) subtractions go through explicit
      // DOUBLE casts — DuckDB's bare 1.0 − 0.95 is exact DECIMAL
      // arithmetic and lands on a DIFFERENT double than the runtime
      // IEEE subtraction Spark performs (the pagerank 1−d lesson)
      {
        def w(agree: String, m: String, u: String) =
          s"""floor(CASE WHEN $agree THEN log2(CAST($m AS DOUBLE) / $u)
                ELSE log2((CAST(1.0 AS DOUBLE) - CAST($m AS DOUBLE)) / (CAST(1.0 AS DOUBLE) - $u)) END
                * 1e6 + 0.5) / 1e6"""
        s"""WITH a AS (SELECT c_custkey AS akey, c_nationkey AS blk, c_name AS aname,
                         c_mktsegment AS aseg,
                         CAST(floor(CAST(c_acctbal AS DOUBLE) / 100) AS BIGINT) AS abal,
                         CAST(floor(CAST(c_acctbal AS DOUBLE)) AS BIGINT) AS adollar
                       FROM customer),
                b AS (SELECT c_custkey + 1000000 AS bkey, c_nationkey AS blk,
                        CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END AS bname,
                        CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS bseg,
                        CAST(floor((CAST(c_acctbal AS DOUBLE) + CAST(c_custkey % 5 AS DOUBLE)) / 100) AS BIGINT) AS bbal,
                        CAST(floor(CAST(c_acctbal AS DOUBLE) + CAST(c_custkey % 5 AS DOUBLE)) AS BIGINT) AS bdollar
                      FROM customer),
                cand AS (
                  SELECT akey, aname, aseg, abal, bkey, bname, bseg, bbal
                  FROM a JOIN b ON a.blk = b.blk AND upper(a.aname) = upper(b.bname)
                  UNION
                  SELECT akey, aname, aseg, abal, bkey, bname, bseg, bbal
                  FROM a, unnest(range(0, 5)) AS u(k)
                  JOIN b ON a.blk = b.blk AND a.aseg = b.bseg AND a.adollar + u.k = b.bdollar),
                un AS (SELECT CAST(sum(f * f) AS DOUBLE) / (CAST(sum(f) AS DOUBLE) * CAST(sum(f) AS DOUBLE)) AS u_name
                       FROM (SELECT count(*) AS f FROM b GROUP BY bname)),
                us AS (SELECT CAST(sum(f * f) AS DOUBLE) / (CAST(sum(f) AS DOUBLE) * CAST(sum(f) AS DOUBLE)) AS u_seg
                       FROM (SELECT count(*) AS f FROM b GROUP BY bseg)),
                ub AS (SELECT CAST(sum(f * f) AS DOUBLE) / (CAST(sum(f) AS DOUBLE) * CAST(sum(f) AS DOUBLE)) AS u_bal
                       FROM (SELECT count(*) AS f FROM b GROUP BY bbal)),
                p AS (SELECT CASE WHEN ${w("aname = bname", "0.95", "u_name")}
                               + ${w("aseg = bseg", "0.9", "u_seg")}
                               + ${w("abal = bbal", "0.8", "u_bal")} > 0.0 THEN 1 ELSE 0 END AS pred,
                             CASE WHEN bkey - 1000000 = akey THEN 1 ELSE 0 END AS truth
                      FROM cand CROSS JOIN un CROSS JOIN us CROSS JOIN ub),
                nt AS (SELECT count(*) AS n_true FROM customer),
                ag AS (SELECT count(*) AS n_pairs, CAST(sum(pred) AS BIGINT) AS n_pred,
                         CAST(sum(pred * truth) AS BIGINT) AS tp
                       FROM p)
           SELECT n_pairs, n_pred, CAST(n_true AS BIGINT) AS n_true, tp,
                  floor(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) * 1e4 + 0.5) / 1e4 AS precision,
                  floor(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) * 1e4 + 0.5) / 1e4 AS recall,
                  floor(u_name * 1e6 + 0.5) / 1e6 AS u_name,
                  floor(u_seg * 1e6 + 0.5) / 1e6 AS u_seg,
                  floor(u_bal * 1e6 + 0.5) / 1e6 AS u_bal
           FROM ag CROSS JOIN nt CROSS JOIN un CROSS JOIN us CROSS JOIN ub"""
      }),

    // Functional-graph cycle census over the deterministic successor
    // map v → (3v+7) mod N on documents — the pointer-doubling scale
    // pattern (ID remap chains, redirect graphs): ⌈log₂ N⌉ self-joins
    // instead of N sequential hops; see LinkRank.functionalCycles. The
    // oracle replays 16 doubling stages (idempotent past stabilization,
    // so the fixed unroll matches the data-sized Spark loop exactly).
    Query("x_func_cycles", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val nRow = docs.agg(count(lit(1)).as("n"))
      val succ0 = docs.crossJoin(broadcast(nRow))
        .select(col("doc_id").as("v"), ((col("doc_id") * 3 + 7) % col("n")).as("p"))
      LinkRank.functionalCycles(succ0)
    },
      {
        val dbl = (1 to 16).map { k =>
          s"""fc$k AS MATERIALIZED (SELECT a.v, b.p AS p, least(a.mn, b.mn) AS mn
                FROM fc${k - 1} a JOIN fc${k - 1} b ON a.p = b.v)"""
        }.mkString(",\n")
        s"""WITH d AS (SELECT doc_id AS v FROM documents),
                nn AS (SELECT count(*) AS n FROM d),
                fc0 AS MATERIALIZED (SELECT v, (v * 3 + 7) % n AS p, v AS mn
                                     FROM d CROSS JOIN nn),
                $dbl,
                cyc AS MATERIALIZED (
                  SELECT a.v, b.mn AS cycle_id, a.v IN (SELECT p FROM fc16) AS on_cycle
                  FROM fc16 a JOIN fc16 b ON a.p = b.v),
                lens AS (SELECT cycle_id, count(*) AS cycle_len FROM cyc WHERE on_cycle GROUP BY 1),
                basin AS (SELECT cycle_id, count(*) AS n_basin FROM cyc GROUP BY 1)
           SELECT cycle_id, lens.cycle_len, basin.n_basin
           FROM lens JOIN basin USING (cycle_id) ORDER BY cycle_id"""
      }),

    // KMV / theta-sketch distinct-set INTERSECTION across day pairs
    // (≤7-day horizon) — the set algebra HLL can't compose (x_hll_mergeable
    // unions; inclusion–exclusion dies past two sets, theta sketches
    // intersect directly). k=256 minimum md5-48-bit hashes per day; pair
    // estimate = |common hashes < min(θa,θb)|/θ. Exact pair intersection
    // rides along as the checkable side; approx_ok pins
    // |est − exact| ≤ 25% + 20 (measured worst case on this corpus:
    // 16.1% rel at sf0.1, exact below — sketches hold whole days there).
    // Sketch rows are k·|days| metadata; see Sketches.kmvDayIntersect.
    Query("x_kmv_intersect", (s, dir) => {
      val du = events(s, dir).select(col("day"), col("user_id")).distinct()
      Sketches.kmvDayIntersect(du, k = 256, horizon = 7, relPct = 25, absErr = 20)
    },
      s"""WITH du AS (SELECT DISTINCT $dayE AS day, user_id FROM events),
                act AS (SELECT day, count(*) AS n FROM du GROUP BY 1),
                grid AS (SELECT a.day AS day_a, b.day AS day_b, a.n AS n_a, b.n AS n_b
                         FROM act a JOIN act b
                           ON CAST(b.day AS DATE) > CAST(a.day AS DATE)
                          AND CAST(b.day AS DATE) <= CAST(a.day AS DATE) + 7),
                ex AS (SELECT a.day AS day_a, b.day AS day_b, count(*) AS inter
                       FROM du a JOIN du b ON a.user_id = b.user_id
                         AND CAST(b.day AS DATE) > CAST(a.day AS DATE)
                         AND CAST(b.day AS DATE) <= CAST(a.day AS DATE) + 7
                       GROUP BY 1, 2)
           SELECT g.day_a, g.day_b, g.n_a, g.n_b,
                  CAST(coalesce(ex.inter, 0) AS BIGINT) AS inter,
                  floor(CAST(coalesce(ex.inter, 0) AS DOUBLE)
                    / CAST(g.n_a + g.n_b - coalesce(ex.inter, 0) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS jacc,
                  TRUE AS approx_ok
           FROM grid g LEFT JOIN ex ON ex.day_a = g.day_a AND ex.day_b = g.day_b
           ORDER BY g.day_a, g.day_b"""),

    // Interpolated Kneser–Ney bigram smoothing (Kneser & Ney 1995;
    // Chen–Goodman 1998 eq. 4.25) — the production n-gram smoothing next
    // to x_good_turing's count re-estimates: P(w2|w1) =
    // max(c−D,0)/c(w1) + D·N₁₊(w1·)/c(w1) · N₁₊(·w2)/|bigram types|,
    // D = 0.75 (dyadic — exact in IEEE on both engines). All inputs are
    // exact integer count tables; the probe side is the top-100 bigram
    // table broadcast INTO the vocab-scale count tables (never the
    // reverse — vocab grows with the corpus, the probe set doesn't).
    Query("x_kneser_ney", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(TF.tokens(col("text")).as("ts")).filter(size(col("ts")) >= 2)
      val bg = toks
        .select(explode(graft.functions.WordNgrams.wordNgrams(col("ts"), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c12"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        .drop("bg")
      val uni = bg.groupBy("w1").agg(sum(col("c12")).as("c1"), count(lit(1)).as("n_follow"))
      val cont = bg.groupBy("w2").agg(count(lit(1)).as("n_precede"))
      val tot = bg.agg(count(lit(1)).as("n_types"))
      val top = bg.orderBy(col("c12").desc, col("w1"), col("w2")).limit(100)
      val d = lit(0.75)
      val pml = greatest(col("c12").cast("double") - d, lit(0.0)) / col("c1").cast("double")
      val lam = d * col("n_follow").cast("double") / col("c1").cast("double")
      val pc = col("n_precede").cast("double") / col("n_types").cast("double")
      broadcast(top).join(uni, "w1").join(cont, "w2").crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("n_follow"), col("n_precede"), f6(pml + lam * pc).as("p_kn"))
        .orderBy("w1", "w2")
    },
      s"""WITH tk AS (SELECT $toksE AS ts FROM documents),
                t2 AS (SELECT ts FROM tk WHERE len(ts) >= 2),
                bg AS (SELECT w1, w2, count(*) AS c12 FROM (
                         SELECT ts[i] AS w1, ts[i+1] AS w2
                         FROM t2, unnest(range(1, len(ts))) AS u(i)) GROUP BY 1, 2),
                uni AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n_follow
                        FROM bg GROUP BY 1),
                cont AS (SELECT w2, count(*) AS n_precede FROM bg GROUP BY 1),
                tot AS (SELECT count(*) AS n_types FROM bg),
                top AS (SELECT * FROM bg ORDER BY c12 DESC, w1, w2 LIMIT 100)
           SELECT w1, w2, c12, c1, n_follow, n_precede,
                  floor((greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
                      + 0.75 * CAST(n_follow AS DOUBLE) / CAST(c1 AS DOUBLE)
                        * (CAST(n_precede AS DOUBLE) / CAST(n_types AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS p_kn
           FROM top JOIN uni USING (w1) JOIN cont USING (w2) CROSS JOIN tot
           ORDER BY w1, w2"""),

    // Directional association rules A→B over (user, day) event-type
    // baskets — x_frequent_pairs stops at unordered SUPPORT; this adds
    // the market-basket readout: confidence n(AB)/n(A) and lift
    // n(AB)·N/(n(A)·n(B)), kept above a 5% integer-exact support gate
    // (n_ab·20 ≥ N — no float threshold). The pair space is
    // |event_types|² metadata; basket/item counts are the only corpus
    // shuffles, and every derived ratio is a floor-6 double of exact
    // longs (products ≤ 2^63 by the bounded type domain).
    Query("x_assoc_rules", (s, dir) => {
      val b = events(s, dir)
        .select(col("user_id"), col("day"), col("event_type")).distinct()
      val nb = b.select("user_id", "day").distinct().agg(count(lit(1)).as("nb"))
      val item = b.groupBy("event_type").agg(count(lit(1)).as("n_item"))
      val pair = b.join(
        b.select(col("user_id"), col("day"), col("event_type").as("consequent")),
        Seq("user_id", "day"))
        .filter(col("event_type") =!= col("consequent"))
        .groupBy(col("event_type").as("antecedent"), col("consequent"))
        .agg(count(lit(1)).as("n_ab"))
      pair
        .join(broadcast(item.select(col("event_type").as("antecedent"), col("n_item").as("n_a"))), "antecedent")
        .join(broadcast(item.select(col("event_type").as("consequent"), col("n_item").as("n_c"))), "consequent")
        .crossJoin(broadcast(nb))
        .filter(col("n_ab") * 20 >= col("nb"))
        .select(col("antecedent"), col("consequent"), col("n_ab"),
          f6(col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
          f6((col("n_ab") * col("nb")).cast("double")
            / (col("n_a") * col("n_c")).cast("double")).as("lift"))
        .orderBy("antecedent", "consequent")
    },
      s"""WITH b AS MATERIALIZED (
                  SELECT DISTINCT user_id, $dayE AS day, event_type FROM events),
                nb AS (SELECT count(*) AS nb FROM (SELECT DISTINCT user_id, day FROM b)),
                item AS MATERIALIZED (
                  SELECT event_type, count(*) AS n_item FROM b GROUP BY 1),
                pair AS (SELECT a.event_type AS antecedent, c.event_type AS consequent, count(*) AS n_ab
                         FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
                           AND a.event_type <> c.event_type
                         GROUP BY 1, 2)
           SELECT antecedent, consequent, CAST(n_ab AS BIGINT) AS n_ab,
                  floor(CAST(n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) * 1e6 + 0.5) / 1e6 AS confidence,
                  floor(CAST(n_ab * nb AS DOUBLE) / CAST(ia.n_item * ic.n_item AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lift
           FROM pair JOIN item ia ON pair.antecedent = ia.event_type
                JOIN item ic ON pair.consequent = ic.event_type
                CROSS JOIN nb
           WHERE n_ab * 20 >= nb
           ORDER BY antecedent, consequent"""),

    // Greedy k-center coreset selection (Gonzalez farthest-point
    // traversal, k=8) over the embedding corpus — the diversity-first
    // data-selection primitive (2-approximation of the optimal k-center
    // cover): seed with the smallest vec_id, then repeatedly take the
    // point FARTHEST from its nearest chosen center. Squared distances
    // come from the native sequential-IEEE dot product (d² = |x|² +
    // |c|² − 2x·c, the list_dot_product-identical kernel), round-6 for
    // deterministic (dmin DESC, vec_id) argmax ties. The running dmin
    // column makes each round ONE broadcast-center corpus projection —
    // O(k·n·d) total with zero corpus shuffles, the linear form that
    // survives any corpus scale. Radius per pick = that pick's dmin,
    // the exact cover radius of the preceding center set.
    Query("x_kcenter_coreset", (s, dir) => {
      import graft.functions.DotProduct.dotProduct
      val base = t(s, dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nn", dotProduct(col("v"), col("v"))).localCheckpoint()
      val seed = base.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("c_id"), col("v").as("c_v"), col("nn").as("c_nn"))
        .localCheckpoint()
      def d2 = round(col("nn") + col("c_nn") - lit(2.0) * dotProduct(col("v"), col("c_v")), 6)
      var cur = base.crossJoin(broadcast(seed))
        .select(col("vec_id"), col("v"), col("nn"), d2.as("dmin")).localCheckpoint()
      var out = seed.select(lit(1).as("pick_order"), col("c_id").as("vec_id"),
        lit(null).cast("double").as("radius"))
      for (k <- 2 to 8) {
        val p = cur.orderBy(col("dmin").desc, col("vec_id")).limit(1).localCheckpoint()
        out = out.unionAll(p.select(lit(k).as("pick_order"), col("vec_id"),
          col("dmin").as("radius")))
        cur = cur.crossJoin(broadcast(
            p.select(col("v").as("c_v"), col("nn").as("c_nn"))))
          .select(col("vec_id"), col("v"), col("nn"), least(col("dmin"), d2).as("dmin"))
          .localCheckpoint()
      }
      out.orderBy("pick_order")
    },
      // k-center: 7 unrolled farthest-point stages, every pick and every
      // dmin refresh MATERIALIZED (doubly referenced)
      {
        val stages = (2 to 8).map { k =>
          val prevD = s"d${k - 1}"
          s"""p$k AS MATERIALIZED (
                SELECT vec_id, v, nn, dmin FROM $prevD ORDER BY dmin DESC, vec_id LIMIT 1),
              d$k AS MATERIALIZED (
                SELECT a.vec_id, a.v, a.nn,
                  least(a.dmin, round(a.nn + p.nn - 2 * list_dot_product(a.v, p.v), 6)) AS dmin
                FROM $prevD a CROSS JOIN p$k p)"""
        }.mkString(",\n")
        val unions = (2 to 8).map { k =>
          s"UNION ALL SELECT $k, vec_id, dmin FROM p$k"
        }.mkString("\n")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
                b AS MATERIALIZED (SELECT vec_id, v, list_dot_product(v, v) AS nn FROM e),
                s1 AS MATERIALIZED (SELECT vec_id, v, nn FROM b ORDER BY vec_id LIMIT 1),
                d1 AS MATERIALIZED (
                  SELECT a.vec_id, a.v, a.nn,
                    round(a.nn + s.nn - 2 * list_dot_product(a.v, s.v), 6) AS dmin
                  FROM b a CROSS JOIN s1 s),
                $stages
           SELECT * FROM (
             SELECT 1 AS pick_order, vec_id, CAST(NULL AS DOUBLE) AS radius FROM s1
             $unions)
           ORDER BY pick_order"""
      }),

    // SCD type-2 dimension build (gaps-and-islands): each customer's
    // order-priority HISTORY collapsed into effective-dated version rows —
    // consecutive equal-priority runs become one segment with
    // valid_from/valid_to (next segment's start) and an is_current flag.
    // All three windows share ONE partitioning (o_custkey), so the whole
    // build is a single shuffle on the dimension key at any history size;
    // ties inside a day break on o_orderkey for determinism.
    Query("x_scd2", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"), col("o_orderpriority").as("prio"))
      val seg = o
        .withColumn("pp", lag(col("prio"), 1).over(w))
        .withColumn("chg", when(col("pp").isNull || col("pp") =!= col("prio"), 1L).otherwise(0L))
        .withColumn("seg", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val g = seg.groupBy(col("o_custkey"), col("seg"), col("prio"))
        .agg(min(col("od")).as("valid_from"), count(lit(1)).as("n_orders"))
      g.withColumn("valid_to",
          lead(col("valid_from"), 1).over(Window.partitionBy("o_custkey").orderBy("seg")))
        .select(col("o_custkey").as("custkey"), col("seg").as("version"),
          col("prio").as("priority"), col("valid_from"), col("valid_to"),
          col("n_orders"), col("valid_to").isNull.as("is_current"))
        .orderBy("custkey", "version")
    },
      // SCD2: the same gaps-and-islands windows, custkey-partitioned
      """WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
                        o_orderpriority AS prio FROM orders),
                l AS (SELECT *, lag(prio) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) AS pp
                      FROM o),
                s AS (SELECT *, CAST(sum(CASE WHEN pp IS NULL OR pp <> prio THEN 1 ELSE 0 END)
                        OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg
                      FROM l),
                g AS (SELECT o_custkey, seg, prio, min(od) AS valid_from, count(*) AS n_orders
                      FROM s GROUP BY 1, 2, 3),
                f AS (SELECT *, lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY seg) AS valid_to
                      FROM g)
           SELECT o_custkey AS custkey, seg AS version, prio AS priority, valid_from, valid_to,
                  n_orders, valid_to IS NULL AS is_current
           FROM f ORDER BY custkey, version"""),

    // day × event-type PIVOT matrix: wide daily counts via pivot with the
    // FIXED type domain (no distinct-values pre-job — the wide schema is
    // declared, so the whole pivot is one map-side-combined aggregation,
    // one shuffle on day regardless of corpus size)
    Query("x_pivot_matrix", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = events(s, dir).groupBy("day").pivot("event_type", types).agg(count(lit(1)))
      p.select(col("day") +: types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
        .withColumn("n_total", types.map(tp => col(s"n_$tp")).reduce(_ + _))
        .orderBy("day")
    },
      // pivot matrix: conditional sums over the fixed type domain (the
      // total sums the five cases, mirroring the declared pivot schema)
      s"""SELECT $dayE AS day,
                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                  CAST(sum(CASE WHEN event_type IN ('click','error','purchase','signup','view')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_total
           FROM events GROUP BY 1 ORDER BY day"""),

    // Flesch–Kincaid-style readability per source: syllables from vowel-
    // group runs, pseudo-sentences as ceil(words/15) fixed windows (the
    // corpus has no sentence punctuation — documented convention), grade
    // from SOURCE-LEVEL integer totals so the only floating point is one
    // final closed-form expression. Scan-fused projections + one groupBy.
    Query("x_readability", (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        TF.tokenCount(col("text")).cast("long").as("wrds"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long").as("syl"))
        .withColumn("sents", expr("CAST((wrds + 14) DIV 15 AS BIGINT)"))
      val W = col("n_words").cast("double")
      d.groupBy("source").agg(count(lit(1)).as("n_docs"), sum(col("wrds")).as("n_words"),
          sum(col("syl")).as("n_syllables"), sum(col("sents")).as("n_sentences"))
        .select(col("source"), col("n_docs"), col("n_words"), col("n_syllables"),
          col("n_sentences"),
          (floor((lit(0.39) * W / col("n_sentences").cast("double")
            + lit(11.8) * col("n_syllables").cast("double") / W - lit(15.59))
            * lit(1e4) + lit(0.5)) / lit(1e4)).as("fk_grade"))
        .orderBy("source")
    },
      // readability: integer totals per source, one closed-form double
      s"""WITH d AS (SELECT source, CAST(len($toksE) AS BIGINT) AS wrds,
                        CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
                      FROM documents),
                e AS (SELECT source, wrds, syl, (wrds + 14) // 15 AS sents FROM d),
                g AS (SELECT source, count(*) AS n_docs, CAST(sum(wrds) AS BIGINT) AS n_words,
                        CAST(sum(syl) AS BIGINT) AS n_syllables,
                        CAST(sum(sents) AS BIGINT) AS n_sentences
                      FROM e GROUP BY 1)
           SELECT source, n_docs, n_words, n_syllables, n_sentences,
                  floor((0.39 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
                    + 11.8 * CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) - 15.59)
                    * 1e4 + 0.5) / 1e4 AS fk_grade
           FROM g ORDER BY source"""),

    // ColBERT-style LATE-INTERACTION retrieval: each 64-d embedding is
    // treated as 4 "token" sub-vectors of 16; score(q, d) = Σ_q-token
    // max_d-token ⟨q_t, d_t⟩ (MaxSim). The 16 dots per pair ride the
    // native sequential-IEEE dot kernel on doc-side slices; the probe
    // side (vec_id % 100 = 0) is BROADCAST, so the corpus never
    // shuffles — the same zero-shuffle plan shape as x_embed_cosine_topk
    // at any corpus size. Top-5 per query, score-then-id determinism.
    Query("x_late_interaction", (s, dir) => {
      import graft.functions.DotProduct.dotProduct
      def sub(c: Column, t: Int): Column = slice(c, t * 16 + 1, 16)
      val base = t(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      // BOUNDED audit query set (vec_id < 2000 keeps it fixed at 20 probes
      // at every SF): a reranking workload serves user queries, which do
      // not grow with corpus size — a corpus-proportional probe set made
      // the broadcast-NLJ plan quadratic at the sf1 scaling point. A
      // corpus-scale probe side would ride IVF candidates instead (the
      // x_label_noise path).
      val qs = base.filter(col("vec_id") % 100 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val pairs = base.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("query_id"))
      val maxsim = (0 to 3).map { qt =>
        (0 to 3).map { dt => dotProduct(sub(col("qv"), qt), sub(col("v"), dt)) }
          .reduce(greatest(_, _))
      }.reduce(_ + _)
      val scored = pairs.select(col("query_id"), col("vec_id"), maxsim.as("score"))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("rk"), col("vec_id"),
          (floor(col("score") * lit(1e6) + lit(0.5)) / lit(1e6)).as("maxsim"))
        .orderBy("query_id", "rk")
    },
      // late interaction: the same 16 sequential-IEEE dots, 4 variadic
      // maxes summed left-to-right
      {
        def g(qt: Int) = "greatest(" + (0 to 3).map(dt =>
          s"list_dot_product(qv[${qt * 16 + 1}:${(qt + 1) * 16}], v[${dt * 16 + 1}:${(dt + 1) * 16}])")
          .mkString(", ") + ")"
        val score = (0 to 3).map(g).mkString(" + ")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
                q AS (SELECT vec_id AS query_id, v AS qv FROM e
                      WHERE vec_id % 100 = 0 AND vec_id < 2000),
                p AS (SELECT q.query_id, e.vec_id, $score AS score
                      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
                r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, vec_id) AS rk FROM p)
           SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id,
                  floor(score * 1e6 + 0.5) / 1e6 AS maxsim
           FROM r WHERE rk <= 5 ORDER BY query_id, rk"""
      }),

    // Hashing-trick feature audit: every token hashed into 64 buckets
    // (the md5-24-bit kernel both engines share), per bucket the distinct
    // vocabulary, occupancy and a collision flag — the pre-flight audit
    // for hashed-feature models (what share of mass lands in collided
    // buckets). One map-side-combined aggregation over the token scan.
    Query("x_feature_hashing", (s, dir) =>
      t(s, dir, "documents").select(explode(TF.tokens(col("text"))).as("term"))
        .withColumn("bucket", graft.ext.Mixture.hash24(col("term")) % 64)
        .groupBy("bucket").agg(countDistinct(col("term")).as("n_terms"),
          count(lit(1)).as("n_occurrences"))
        .withColumn("collided", col("n_terms") > 1)
        .orderBy("bucket"),
      // feature hashing: the shared md5-24-bit bucket kernel
      s"""WITH tk AS (SELECT unnest($toksE) AS term FROM documents),
                b AS (SELECT term,
                        CAST(('0x' || substring(md5(term), 1, 6)) AS INTEGER) % 64 AS bucket
                      FROM tk)
           SELECT bucket, CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
                  count(*) AS n_occurrences, count(DISTINCT term) > 1 AS collided
           FROM b GROUP BY bucket ORDER BY bucket"""),

    // Growth accounting (the new / retained / resurrected / churned user
    // ledger): per day, actives split by each user's PREVIOUS active day
    // — never before (new), yesterday (retained), an older day
    // (resurrected) — plus churn = yesterday's actives who didn't return.
    // One (user, day) dedup shuffle + one user-partitioned lag; the day
    // ledger is calendar-bounded. The identity new + retained +
    // resurrected = active holds by construction.
    Query("x_growth_accounting", (s, dir) => {
      val du = events(s, dir).select(col("user_id"), col("day")).distinct()
      val lagd = du.withColumn("prevd",
        lag(col("day"), 1).over(Window.partitionBy("user_id").orderBy("day")))
      val prevCal = date_format(date_add(to_date(col("day")), -1), "yyyy-MM-dd")
      val g = lagd.groupBy("day").agg(
        count(lit(1)).as("n_active"),
        sum(when(col("prevd").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prevd") === date_format(date_add(to_date(col("day")), -1), "yyyy-MM-dd"), 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("prevd").isNotNull
          && col("prevd") < date_format(date_add(to_date(col("day")), -1), "yyyy-MM-dd"), 1L)
          .otherwise(0L)).as("n_resurrected"))
      g.withColumn("prev_cal", prevCal)
        .join(g.select(col("day").as("prev_cal"), col("n_active").as("prev_active")),
          Seq("prev_cal"), "left")
        .select(col("day"), col("n_active"), col("n_new"), col("n_retained"),
          col("n_resurrected"), (col("prev_active") - col("n_retained")).as("n_churned"))
        .orderBy("day")
    },
      // growth accounting: previous-active-day split + calendar self-join
      s"""WITH du AS (SELECT DISTINCT user_id, $dayE AS day FROM events),
                l AS (SELECT user_id, day,
                        lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prevd
                      FROM du),
                g AS (SELECT day, count(*) AS n_active,
                        CAST(sum(CASE WHEN prevd IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                        CAST(sum(CASE WHEN prevd = strftime(CAST(day AS DATE) - 1, '%Y-%m-%d')
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
                        CAST(sum(CASE WHEN prevd IS NOT NULL
                            AND prevd < strftime(CAST(day AS DATE) - 1, '%Y-%m-%d')
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
                      FROM l GROUP BY 1)
           SELECT g.day, g.n_active, g.n_new, g.n_retained, g.n_resurrected,
                  p.n_active - g.n_retained AS n_churned
           FROM g LEFT JOIN g p ON p.day = strftime(CAST(g.day AS DATE) - 1, '%Y-%m-%d')
           ORDER BY g.day"""),

    // Edit-distance similarity join over part names with attribute
    // blocking: candidates pair only within the same final-token block
    // (the stable "noun" attribute — classic entity-resolution blocking
    // that keeps candidates per-block-bounded at any catalog size), then
    // exact Levenshtein ≤ 4 filters. Both engines share the native
    // levenshtein kernel; the block join is an equi-join, never all-pairs.
    Query("x_edit_sim_join", (s, dir) => {
      val names = t(s, dir, "part").select(col("p_name").as("name")).distinct()
        .withColumn("blk", element_at(split(col("name"), " "), -1))
      names.select(col("blk"), col("name").as("name_a"))
        .join(names.select(col("blk"), col("name").as("name_b")), "blk")
        .filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 4)
        .select(col("blk").as("block"), col("name_a"), col("name_b"), col("dist"))
        .orderBy("block", "name_a", "name_b")
    },
      // edit-sim join: identical blocking + native levenshtein
      """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
                b AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM names)
           SELECT a.blk AS block, a.name AS name_a, b2.name AS name_b,
                  CAST(levenshtein(a.name, b2.name) AS INTEGER) AS dist
           FROM b a JOIN b b2 ON b2.blk = a.blk AND a.name < b2.name
           WHERE levenshtein(a.name, b2.name) <= 4
           ORDER BY block, name_a, name_b"""),

    // RAKE keyword extraction: candidate phrases are maximal stopword-free
    // token runs (stopwords: the corpus function words a/the), word score
    // = degree/frequency over phrase co-occurrence (floor-9, then DECIMAL
    // sums so the phrase score is exact in any aggregation order), phrase
    // score = Σ member word scores. Top-15 distinct phrases. One token
    // shuffle + bounded-vocab broadcasts — TextRank's classic cheap rival.
    Query("x_rake_keywords", (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TF.tokens(lower(col("text")))).as(Seq("pos", "term")))
      val ns = tok.filter(!col("term").isin("a", "the"))
        .withColumn("grp", col("pos") - row_number().over(
          Window.partitionBy("doc_id").orderBy("pos")))
      val phrases = ns.groupBy(col("doc_id"), col("grp"))
        .agg(expr("array_join(transform(sort_array(collect_list(struct(pos, term))), e -> e.term), ' ')")
          .as("phrase"), count(lit(1)).as("plen"))
      val words = ns.join(phrases.select(col("doc_id"), col("grp"), col("plen")),
        Seq("doc_id", "grp"))
      val wscore = words.groupBy("term").agg(
          sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
        .withColumn("wsc", (floor(col("deg").cast("double") / col("freq").cast("double")
          * lit(1e9) + lit(0.5)) / lit(1e9)).cast("decimal(28,9)"))
      val pscore = words.join(broadcast(wscore.select(col("term"), col("wsc"))), "term")
        .groupBy(col("doc_id"), col("grp")).agg(sum(col("wsc")).as("psc"))
        .join(phrases, Seq("doc_id", "grp"))
      pscore.groupBy("phrase").agg(max(col("psc")).as("score"), count(lit(1)).as("n_occurrences"))
        .orderBy(col("score").desc, col("phrase")).limit(15)
        // rank AFTER the limit: the window's input is 15 rows, not the
        // phrase table (GlobalLimit-dominated, per the plan audit)
        .withColumn("rk", row_number().over(
          Window.partitionBy(constKey(col("score"))).orderBy(col("score").desc, col("phrase"))))
        .select(col("rk"), col("phrase"), col("score").cast("double").as("score"),
          col("n_occurrences"))
        .orderBy("rk")
    },
      // RAKE: stopword islands, degree/frequency decimals, phrase sums
      """WITH tk AS (SELECT doc_id,
                        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                      FROM documents),
                tok AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, tk[i] AS term
                        FROM tk, unnest(generate_series(1, len(tk))) AS u(i)),
                ns AS (SELECT doc_id, pos, term,
                         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                       FROM tok WHERE term NOT IN ('a', 'the')),
                ph AS (SELECT doc_id, grp,
                         array_to_string(list(term ORDER BY pos), ' ') AS phrase,
                         count(*) AS plen
                       FROM ns GROUP BY 1, 2),
                words AS (SELECT ns.doc_id, ns.grp, ns.term, ph.plen
                          FROM ns JOIN ph ON ph.doc_id = ns.doc_id AND ph.grp = ns.grp),
                ws AS (SELECT term,
                         CAST(floor(CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                           * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS wsc
                       FROM words GROUP BY 1),
                ps AS (SELECT w.doc_id, w.grp, sum(ws.wsc) AS psc
                       FROM words w JOIN ws ON ws.term = w.term GROUP BY 1, 2),
                agg AS (SELECT ph.phrase, max(ps.psc) AS score, count(*) AS n_occurrences
                        FROM ps JOIN ph ON ph.doc_id = ps.doc_id AND ph.grp = ps.grp
                        GROUP BY 1),
                top AS (SELECT phrase, score, n_occurrences,
                          row_number() OVER (ORDER BY score DESC, phrase) AS rk FROM agg)
           SELECT CAST(rk AS INTEGER) AS rk, phrase, CAST(score AS DOUBLE) AS score,
                  n_occurrences
           FROM top WHERE rk <= 15 ORDER BY rk"""),

    // Gap backfill with held-out truth: ~20% of each type's days are
    // md5-masked, then reconstructed by LINEAR INTERPOLATION between the
    // nearest surviving neighbors (boundary gaps fall back to the one
    // neighbor), scored as MAE against the hidden truth next to the LOCF
    // (carry-forward) baseline. Neighbor lookup is a bounded
    // masked×known grid join per type — no IGNORE-NULLS window
    // dependence, engine-portable, calendar-bounded at any corpus size.
    Query("x_backfill_interpolate", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        .withColumn("idx", row_number().over(
          Window.partitionBy("event_type").orderBy("day")) - 1)
        .withColumn("masked", graft.ext.Mixture.hash24(
          concat(lit("bf|"), col("event_type"), lit("|"), col("day"))) % 5 === 0)
        .localCheckpoint()
      val known = dc.filter(!col("masked")).select(col("event_type"),
        col("idx").as("kidx"), col("c").as("kc"))
      val m = dc.filter(col("masked")).select(col("event_type"), col("idx"), col("c"))
      val nb = m.join(known, "event_type")
        .groupBy("event_type", "idx", "c").agg(
          max(when(col("kidx") < col("idx"), col("kidx"))).as("pidx"),
          min(when(col("kidx") > col("idx"), col("kidx"))).as("nidx"))
      val withVals = nb
        .join(known.select(col("event_type"), col("kidx").as("pidx"), col("kc").as("pc")),
          Seq("event_type", "pidx"), "left")
        .join(known.select(col("event_type"), col("kidx").as("nidx"), col("kc").as("nc")),
          Seq("event_type", "nidx"), "left")
      val interp = when(col("pidx").isNull, col("nc").cast("double"))
        .when(col("nidx").isNull, col("pc").cast("double"))
        .otherwise(col("pc").cast("double") + (col("nc") - col("pc")).cast("double")
          * (col("idx") - col("pidx")).cast("double") / (col("nidx") - col("pidx")).cast("double"))
      val locf = when(col("pc").isNotNull, col("pc")).otherwise(col("nc")).cast("double")
      withVals
        .withColumn("e_int", floor(abs(interp - col("c").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
        .withColumn("e_locf", floor(abs(locf - col("c").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
        .groupBy("event_type").agg(count(lit(1)).as("n_masked"),
          (floor(sum(col("e_int").cast("decimal(28,6)")).cast("double")
            / count(lit(1)).cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mae_interp"),
          (floor(sum(col("e_locf").cast("decimal(28,6)")).cast("double")
            / count(lit(1)).cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mae_locf"))
        .orderBy("event_type")
    },
      // backfill: identical mask, neighbor grid join, interp/LOCF MAE
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                ix AS (SELECT event_type, day, c,
                         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS idx,
                         CAST(('0x' || substring(md5('bf|' || event_type || '|' || day), 1, 6)) AS INTEGER) % 5 = 0 AS masked
                       FROM dc),
                known AS (SELECT event_type, idx AS kidx, c AS kc FROM ix WHERE NOT masked),
                m AS (SELECT event_type, idx, c FROM ix WHERE masked),
                nb AS (SELECT m.event_type, m.idx, m.c,
                         max(CASE WHEN k.kidx < m.idx THEN k.kidx END) AS pidx,
                         min(CASE WHEN k.kidx > m.idx THEN k.kidx END) AS nidx
                       FROM m JOIN known k ON k.event_type = m.event_type
                       GROUP BY 1, 2, 3),
                wv AS (SELECT nb.*, p.kc AS pc, n.kc AS nc
                       FROM nb
                       LEFT JOIN known p ON p.event_type = nb.event_type AND p.kidx = nb.pidx
                       LEFT JOIN known n ON n.event_type = nb.event_type AND n.kidx = nb.nidx),
                er AS (SELECT event_type,
                         floor(abs(CASE WHEN pidx IS NULL THEN CAST(nc AS DOUBLE)
                                        WHEN nidx IS NULL THEN CAST(pc AS DOUBLE)
                                        ELSE CAST(pc AS DOUBLE) + CAST(nc - pc AS DOUBLE)
                                          * CAST(idx - pidx AS DOUBLE) / CAST(nidx - pidx AS DOUBLE)
                                   END - CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS e_int,
                         floor(abs(CAST(CASE WHEN pc IS NOT NULL THEN pc ELSE nc END AS DOUBLE)
                           - CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS e_locf
                       FROM wv)
           SELECT event_type, count(*) AS n_masked,
                  floor(CAST(sum(CAST(e_int AS DECIMAL(28,6))) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS mae_interp,
                  floor(CAST(sum(CAST(e_locf AS DECIMAL(28,6))) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS mae_locf
           FROM er GROUP BY 1 ORDER BY event_type"""),

    // Cohort LTV curves: users cohorted by first-active day, purchase
    // revenue accumulated by cohort AGE (days since first seen), divided
    // by FULL cohort size (not just purchasers). Revenue rides decimal
    // sums so the cumulative window is exact in any aggregation order;
    // the output grid is cohort×age — calendar²-bounded. Two shuffles:
    // the per-user first-day agg and the (cohort, age) revenue agg.
    Query("x_cohort_ltv", (s, dir) => {
      val ev = events(s, dir)
      val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort"))
      val sizes = first.groupBy("cohort").agg(count(lit(1)).as("n_users"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(first, "user_id")
        .withColumn("age", datediff(to_date(col("day")), to_date(col("cohort"))))
        .groupBy("cohort", "age").agg(sum(col("value").cast("decimal(18,4)")).as("r"))
      rev.withColumn("cum", sum(col("r")).over(
          Window.partitionBy("cohort").orderBy("age")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(sizes), "cohort")
        .select(col("cohort"), col("age"), col("n_users"),
          (floor(col("cum").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("cum_revenue"),
          (floor(col("cum").cast("double") / col("n_users").cast("double") * lit(1e4)
            + lit(0.5)) / lit(1e4)).as("ltv"))
        .orderBy("cohort", "age")
    },
      // cohort LTV: decimal revenue, exact cumulative window, full-cohort
      // denominators
      s"""WITH f AS (SELECT user_id, min($dayE) AS cohort FROM events GROUP BY 1),
                sz AS (SELECT cohort, count(*) AS n_users FROM f GROUP BY 1),
                rev AS (SELECT f.cohort,
                          CAST(CAST(e.ts AS DATE) - CAST(f.cohort AS DATE) AS INTEGER) AS age,
                          sum(CAST(e.value AS DECIMAL(18,4))) AS r
                        FROM events e JOIN f ON f.user_id = e.user_id
                        WHERE e.event_type = 'purchase'
                        GROUP BY 1, 2),
                cm AS (SELECT cohort, age, sum(r) OVER (PARTITION BY cohort ORDER BY age
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                       FROM rev)
           SELECT cm.cohort, cm.age, sz.n_users,
                  floor(CAST(cum AS DOUBLE) * 1e4 + 0.5) / 1e4 AS cum_revenue,
                  floor(CAST(cum AS DOUBLE) / CAST(sz.n_users AS DOUBLE) * 1e4 + 0.5) / 1e4 AS ltv
           FROM cm JOIN sz USING (cohort) ORDER BY cohort, age"""),

    // Z-ORDER layout audit (the lakehouse data-clustering primitive):
    // interleave the low 16 bits of (partkey, suppkey) into a Morton
    // code, bucket rows by its top bits ("files"), and measure per-bucket
    // key-range spans against the naive orderkey-ranged layout. Z-order
    // buckets confine BOTH keys to narrow ranges (small span product ⇒
    // min/max file stats prune either predicate); the naive layout leaves
    // the secondary keys full-range. Pure projection + one groupBy per
    // layout — the audit itself is scan-shaped at any table size.
    Query("x_zorder_layout", (s, dir) => {
      val zS = (0 until 16).map(b =>
        s"(shiftleft((shiftright(xk, $b) & 1), ${2 * b}) | shiftleft((shiftright(yk, $b) & 1), ${2 * b + 1}))")
        .mkString("(", " | ", ")")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 65536).as("xk"),
          (col("l_suppkey") % 65536).as("yk"), col("l_partkey"), col("l_suppkey"))
      val mo = li.agg(max(col("l_orderkey")).as("mo"))
      val both = li.crossJoin(broadcast(mo))
        .withColumn("z", expr(zS))
        .select(col("l_partkey"), col("l_suppkey"),
          expr("shiftright(z, 26) & 63").as("zb"),
          expr("CAST((l_orderkey * 64) DIV (mo + 1) AS BIGINT)").as("nb"))
      def spans(bucket: Column, label: String) = both.groupBy(bucket.as("bucket")).agg(
          count(lit(1)).as("n_rows"),
          (max(col("l_partkey")) - min(col("l_partkey")) + 1).as("p_span"),
          (max(col("l_suppkey")) - min(col("l_suppkey")) + 1).as("s_span"))
        .withColumn("layout", lit(label))
      spans(col("zb"), "zorder").unionByName(spans(col("nb"), "orderkey"))
        .withColumn("span_product", col("p_span") * col("s_span"))
        .select(col("layout"), col("bucket"), col("n_rows"), col("p_span"), col("s_span"),
          col("span_product"))
        .orderBy("layout", "bucket")
    },
      // z-order: identical Morton interleave, per-layout span stats
      {
        val zD = (0 until 16).map(b =>
          s"((((xk >> $b) & 1) << ${2 * b}) | (((yk >> $b) & 1) << ${2 * b + 1}))")
          .mkString("(", " | ", ")")
        s"""WITH li AS (SELECT l_orderkey, l_partkey % 65536 AS xk, l_suppkey % 65536 AS yk,
                        l_partkey, l_suppkey FROM lineitem),
                mo AS (SELECT max(l_orderkey) AS mo FROM lineitem),
                z AS (SELECT l_partkey, l_suppkey,
                        ($zD >> 26) & 63 AS zb,
                        (l_orderkey * 64) // (mo + 1) AS nb
                      FROM li, mo),
                u AS (SELECT 'zorder' AS layout, zb AS bucket, count(*) AS n_rows,
                        max(l_partkey) - min(l_partkey) + 1 AS p_span,
                        max(l_suppkey) - min(l_suppkey) + 1 AS s_span
                      FROM z GROUP BY 2
                      UNION ALL
                      SELECT 'orderkey', nb, count(*),
                        max(l_partkey) - min(l_partkey) + 1,
                        max(l_suppkey) - min(l_suppkey) + 1
                      FROM z GROUP BY 2)
           SELECT layout, bucket, n_rows, p_span, s_span, p_span * s_span AS span_product
           FROM u ORDER BY layout, bucket"""
      }),

    // RANGE-frame window battery (value-based frames — the frame kind the
    // w-series hadn't covered): for each day, the volume mass of days
    // whose count lies within ±50 of it, per type. RANGE peers include
    // ties by definition in both engines; sums stay integer. One
    // type-partitioned window over the bounded day grid.
    Query("w13_range_frames", (s, dir) => {
      val dc = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy(col("c")).rangeBetween(-50, 50)
      dc.select(col("event_type"), col("day"), col("c"),
          sum(col("c")).over(w).as("near_sum"),
          count(lit(1)).over(w).as("near_days"))
        .orderBy("event_type", "day")
    },
      // RANGE frames: value-based peers, integer sums
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2)
           SELECT event_type, day, c,
                  CAST(sum(c) OVER w AS BIGINT) AS near_sum,
                  CAST(count(*) OVER w AS BIGINT) AS near_days
           FROM dc
           WINDOW w AS (PARTITION BY event_type ORDER BY c
             RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING)
           ORDER BY event_type, day"""),

    // Entity-resolution end to end: blocking (final name token) →
    // matching (levenshtein ≤ 2) → CLUSTERING (the alternating-star
    // connected components, min-name labels) → cluster cards. Singletons
    // keep themselves as cluster id. The CC machinery is the same
    // O(1)-row-width loop the dedup family uses — ER at catalog scale is
    // blocking-bounded, never all-pairs.
    Query("x_er_clusters", (s, dir) => {
      val names = t(s, dir, "part").select(col("p_name").as("name")).distinct()
        .withColumn("blk", element_at(split(col("name"), " "), -1))
      val pairs = names.select(col("blk"), col("name").as("a"))
        .join(names.select(col("blk"), col("name").as("b")), "blk")
        .filter(col("a") < col("b") && levenshtein(col("a"), col("b")) <= 2)
      val cc = graft.ext.Dedup.connectedComponents(pairs, "a", "b")
      names.select(col("name"))
        .join(cc.select(col("id").as("name"), col("cluster_id")), Seq("name"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("name")))
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
        .select(col("name"), col("cluster_id"), col("cluster_size"))
        .orderBy("cluster_id", "name")
    },
      // ER clusters: closure-reachability min labels over the blocked
      // match graph (the graph is block-bounded, so the closure is too)
      """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
                b AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM names),
                e0 AS (SELECT a.name AS a, b2.name AS b
                       FROM b a JOIN b b2 ON b2.blk = a.blk AND a.name < b2.name
                       WHERE levenshtein(a.name, b2.name) <= 2),
                ed AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
                cl AS (SELECT name AS a, name AS r FROM names
                       UNION
                       SELECT cl.a, ed.b AS r FROM cl JOIN ed ON ed.a = cl.r),
                lbl AS (SELECT a AS name, min(r) AS cluster_id FROM cl GROUP BY 1),
                sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
           SELECT l.name, l.cluster_id, sz.cluster_size
           FROM lbl l JOIN sz USING (cluster_id) ORDER BY cluster_id, name"""),

    // Lempel–Ziv (Kaspar–Schuster) complexity of each type's up/down
    // volume sequence — the randomness/compressibility audit next to the
    // runs test: the move string parses into phrases, each extended
    // while it already occurs in the preceding prefix. ONE linear fold
    // of pure string ops (substr/instr — bit-identical across engines)
    // over the calendar-bounded sequence.
    Query("x_lz_complexity", (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val mv = events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("m", when(col("c") > col("prev"), lit("1")).otherwise(lit("0")))
        .withColumn("idx", row_number().over(w) - 1)
      val ss = mv.groupBy("event_type").agg(
        expr("array_join(transform(sort_array(collect_list(struct(idx, m))), e -> e.m), '')")
          .as("s"))
      ss.withColumn("st", expr(
          """aggregate(sequence(1, length(s)),
               named_struct('cnt', 0L, 'start', 1),
               (st, j) -> IF(j > 1 AND instr(substr(s, 1, j - 1), substr(s, st.start, j - st.start + 1)) > 0,
                 st, named_struct('cnt', st.cnt + 1L, 'start', j + 1)))"""))
        .select(col("event_type"), length(col("s")).cast("long").as("n_bits"),
          (col("st.cnt") + when(col("st.start") <= length(col("s")), 1L).otherwise(0L))
            .as("lz_phrases"))
        .orderBy("event_type")
    },
      // LZ complexity: the same substr/strpos parse, one recursion row
      // per (type, position)
      s"""WITH RECURSIVE dc AS (SELECT event_type, $dayE AS day, count(*) AS c
                       FROM events GROUP BY 1, 2),
                mv AS (SELECT event_type, day, c,
                         lag(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
                       FROM dc),
                sq AS (SELECT event_type,
                         string_agg(CASE WHEN c > prev THEN '1' ELSE '0' END, '' ORDER BY day) AS s
                       FROM mv WHERE prev IS NOT NULL GROUP BY 1),
                r AS (SELECT event_type, s, 0 AS j, CAST(0 AS BIGINT) AS cnt, 1 AS start
                      FROM sq
                      UNION ALL
                      SELECT r.event_type, r.s, r.j + 1,
                        CASE WHEN r.j + 1 > 1 AND strpos(substr(r.s, 1, r.j),
                            substr(r.s, r.start, r.j + 2 - r.start)) > 0
                          THEN r.cnt ELSE r.cnt + 1 END,
                        CASE WHEN r.j + 1 > 1 AND strpos(substr(r.s, 1, r.j),
                            substr(r.s, r.start, r.j + 2 - r.start)) > 0
                          THEN r.start ELSE r.j + 2 END
                      FROM r WHERE r.j < length(r.s))
           SELECT event_type, CAST(length(s) AS BIGINT) AS n_bits,
                  cnt + CASE WHEN start <= length(s) THEN 1 ELSE 0 END AS lz_phrases
           FROM r WHERE j = length(s) ORDER BY event_type"""),

    // Popularity recommender with seen-filter: global top-100 parts by
    // purchase volume BROADCAST, each sampled customer anti-joins what
    // they already bought and takes the 5 most popular novel parts. The
    // catalog never shuffles: candidates are user × broadcast-top-100,
    // the seen set is one (custkey, partkey) dedup — the cold-start
    // serving plan that works at any user count.
    Query("x_recommend_pop", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val pop = li.groupBy("l_partkey").agg(count(lit(1)).as("pop"))
        .orderBy(col("pop").desc, col("l_partkey")).limit(100)
      val seen = ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("custkey"), col("l_partkey")).distinct()
      val users = t(s, dir, "customer").filter(col("c_custkey") % 50 === 0)
        .select(col("c_custkey").as("custkey"))
      users.crossJoin(broadcast(pop))
        .join(seen, Seq("custkey", "l_partkey"), "left_anti")
        .withColumn("rk", row_number().over(Window.partitionBy("custkey")
          .orderBy(col("pop").desc, col("l_partkey"))))
        .filter(col("rk") <= 5)
        .select(col("custkey"), col("rk"), col("l_partkey").as("partkey"), col("pop"))
        .orderBy("custkey", "rk")
    },
      // recommender: broadcast top-100, per-user anti-join + top-5
      """WITH pop AS (SELECT l_partkey, count(*) AS pop FROM lineitem GROUP BY 1
                        ORDER BY pop DESC, l_partkey LIMIT 100),
                seen AS (SELECT DISTINCT o.o_custkey AS custkey, li.l_partkey
                         FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey),
                users AS (SELECT c_custkey AS custkey FROM customer WHERE c_custkey % 50 = 0),
                cand AS (SELECT u.custkey, p.l_partkey, p.pop
                         FROM users u CROSS JOIN pop p
                         WHERE NOT EXISTS (SELECT 1 FROM seen s
                           WHERE s.custkey = u.custkey AND s.l_partkey = p.l_partkey)),
                rk AS (SELECT *, row_number() OVER (PARTITION BY custkey
                         ORDER BY pop DESC, l_partkey) AS rk FROM cand)
           SELECT custkey, CAST(rk AS INTEGER) AS rk, l_partkey AS partkey, pop
           FROM rk WHERE rk <= 5 ORDER BY custkey, rk"""),

    // Week-over-week change report: each day against its 7-rows-back
    // twin per type, percent change floor-4 and a ±20% alert decided by
    // the INTEGER test 5·|c−c₇| > c₇. One type-partitioned lag over the
    // day grid — the everyday ops dashboard query, engine-exact.
    Query("x_wow_change", (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        .withColumn("c7", lag(col("c"), 7).over(w))
        .filter(col("c7").isNotNull)
        .select(col("event_type"), col("day"), col("c"), col("c7"),
          (floor((col("c") - col("c7")).cast("double") / col("c7").cast("double") * lit(1e4)
            + lit(0.5)) / lit(1e4)).as("wow_pct"),
          (abs(col("c") - col("c7")) * 5 > col("c7")).as("alert"))
        .orderBy("event_type", "day")
    },
      // WoW: rows-7 lag, integer 20% alert
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c FROM events GROUP BY 1, 2),
                l AS (SELECT event_type, day, c,
                        lag(c, 7) OVER (PARTITION BY event_type ORDER BY day) AS c7
                      FROM dc)
           SELECT event_type, day, c, c7,
                  floor(CAST(c - c7 AS DOUBLE) / CAST(c7 AS DOUBLE) * 1e4 + 0.5) / 1e4 AS wow_pct,
                  abs(c - c7) * 5 > c7 AS alert
           FROM l WHERE c7 IS NOT NULL ORDER BY event_type, day"""),

    // Consistent-hashing rebalance audit (the partitioning math under
    // every distributed KV layer): 8 nodes × 32 md5 vnodes form ring A,
    // ring B adds node n8; every user key walks clockwise to its vnode.
    // Both rings are ONE broadcast array row, assignment is a per-key
    // HOF probe (no join, scan-speed at any key count). The defining
    // guarantee — keys only ever move TO the new node — comes out as
    // moved_in/moved_out counts per node.
    Query("x_consistent_hashing", (s, dir) => {
      def ring(n: Int): DataFrame = s.range(1)
        .select(explode(sequence(lit(0), lit(n - 1))).as("nd"))
        .select(col("nd"), explode(sequence(lit(0), lit(31))).as("v"))
        .select(struct(
          graft.ext.Mixture.hash24(concat(lit("ch|n"), col("nd"), lit("|"), col("v"))).as("pos"),
          concat(lit("n"), col("nd")).as("node")).as("e"))
        .agg(sort_array(collect_list(col("e"))).as("ring"))
      val keys = events(s, dir).select(col("user_id")).distinct()
        .withColumn("h", graft.ext.Mixture.hash24(concat(lit("k|"), col("user_id"))))
      val asg = keys
        .crossJoin(broadcast(ring(8).select(col("ring").as("r8"))))
        .crossJoin(broadcast(ring(9).select(col("ring").as("r9"))))
        .select(col("user_id"),
          expr("coalesce(get(filter(r8, e -> e.pos >= h), 0).node, r8[0].node)").as("a"),
          expr("coalesce(get(filter(r9, e -> e.pos >= h), 0).node, r9[0].node)").as("b"))
        .localCheckpoint()
      val ca = asg.groupBy(col("a").as("node")).agg(count(lit(1)).as("n_keys_8ring"))
      val cb = asg.groupBy(col("b").as("node")).agg(count(lit(1)).as("n_keys_9ring"))
      val mi = asg.filter(col("a") =!= col("b"))
        .groupBy(col("b").as("node")).agg(count(lit(1)).as("moved_in"))
      val mo = asg.filter(col("a") =!= col("b"))
        .groupBy(col("a").as("node")).agg(count(lit(1)).as("moved_out"))
      cb.join(ca, Seq("node"), "left").join(mi, Seq("node"), "left")
        .join(mo, Seq("node"), "left")
        .select(col("node"), coalesce(col("n_keys_8ring"), lit(0L)).as("n_keys_8ring"),
          col("n_keys_9ring"), coalesce(col("moved_in"), lit(0L)).as("moved_in"),
          coalesce(col("moved_out"), lit(0L)).as("moved_out"))
        .orderBy("node")
    },
      // consistent hashing: the same md5 ring as one sorted struct list,
      // clockwise probe via list_filter
      """WITH r8 AS (SELECT list_sort(list({'pos':
                          CAST(('0x' || substring(md5('ch|n' || nd || '|' || v), 1, 6)) AS INTEGER),
                          'node': 'n' || nd})) AS ring
                      FROM (SELECT unnest(range(8)) AS nd), (SELECT unnest(range(32)) AS v)),
                r9 AS (SELECT list_sort(list({'pos':
                          CAST(('0x' || substring(md5('ch|n' || nd || '|' || v), 1, 6)) AS INTEGER),
                          'node': 'n' || nd})) AS ring
                      FROM (SELECT unnest(range(9)) AS nd), (SELECT unnest(range(32)) AS v)),
                kh AS (SELECT user_id,
                         CAST(('0x' || substring(md5('k|' || user_id), 1, 6)) AS INTEGER) AS h
                       FROM (SELECT DISTINCT user_id FROM events)),
                asg AS MATERIALIZED (SELECT user_id,
                        COALESCE(list_filter(r8.ring, e -> e.pos >= h)[1].node, r8.ring[1].node) AS a,
                        COALESCE(list_filter(r9.ring, e -> e.pos >= h)[1].node, r9.ring[1].node) AS b
                      FROM kh, r8, r9),
                ca AS (SELECT a AS node, count(*) AS n8 FROM asg GROUP BY 1),
                cb AS (SELECT b AS node, count(*) AS n9 FROM asg GROUP BY 1),
                mi AS (SELECT b AS node, count(*) AS mvin FROM asg WHERE a <> b GROUP BY 1),
                mo AS (SELECT a AS node, count(*) AS mvout FROM asg WHERE a <> b GROUP BY 1)
           SELECT cb.node, COALESCE(ca.n8, 0) AS n_keys_8ring, cb.n9 AS n_keys_9ring,
                  COALESCE(mi.mvin, 0) AS moved_in, COALESCE(mo.mvout, 0) AS moved_out
           FROM cb LEFT JOIN ca USING (node) LEFT JOIN mi USING (node) LEFT JOIN mo USING (node)
           ORDER BY node"""),

    // IGNORE-NULLS window battery (the frame modifier the w-series hadn't
    // exercised): md5-mask ~20% of each type's days to NULL, then LOCF =
    // last non-null looking back and NOCB = first non-null looking
    // forward, both as NATIVE ignore-nulls window calls — the built-in
    // operator form of x_backfill_interpolate's join fallback. One
    // type-partitioned window pair over the day grid.
    Query("w14_ignore_nulls", (s, dir) => {
      val wb = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      events(s, dir).groupBy("event_type", "day").agg(count(lit(1)).as("c0"))
        .withColumn("masked", graft.ext.Mixture.hash24(
          concat(lit("w14|"), col("event_type"), lit("|"), col("day"))) % 5 === 0)
        .withColumn("c", when(col("masked"), lit(null)).otherwise(col("c0")))
        .withColumn("locf", last(col("c"), ignoreNulls = true).over(wb))
        .withColumn("nocb", first(col("c"), ignoreNulls = true).over(wf))
        .filter(col("masked"))
        .select(col("event_type"), col("day"), col("c0").as("hidden_truth"),
          col("locf"), col("nocb"))
        .orderBy("event_type", "day")
    },
      // IGNORE NULLS windows: the native LOCF/NOCB pair
      s"""WITH dc AS (SELECT event_type, $dayE AS day, count(*) AS c0 FROM events GROUP BY 1, 2),
                m AS (SELECT event_type, day, c0,
                        CAST(('0x' || substring(md5('w14|' || event_type || '|' || day), 1, 6)) AS INTEGER) % 5 = 0 AS masked
                      FROM dc),
                v AS (SELECT *, CASE WHEN masked THEN NULL ELSE c0 END AS c FROM m),
                f AS (SELECT event_type, day, c0, masked,
                        last_value(c IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
                        first_value(c IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nocb
                      FROM v)
           SELECT event_type, day, c0 AS hidden_truth, locf, nocb
           FROM f WHERE masked ORDER BY event_type, day"""),
  )
}
