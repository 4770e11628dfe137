package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the registry holds 489 queries under distinct names") {
    // the three maps are built from the registry, and building a Map
    // silently keeps only the last of two same-named queries
    val names = SparkEntry.registry.map(_.name)
    assert(names.size === 489)
    assert(names.diff(names.distinct).isEmpty, s"duplicate names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.size === 489 && SparkEntry.oracleSql.size === 489)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("oracle coverage: every query has an oracle; the 4 known exceptions carry gate sentinels") {
    // xxhash64 signatures and hash-derived ANN buckets/cells aren't
    // SQL-portable across engines — but each has a derived checked cousin:
    // x_minhash_lsh ⊆-gated by x_lsh_exact_agreement, x_simhash_pairs
    // hamming-gated by x_simhash_exact_agreement, x_ann_* recall-gated by
    // x_ann_*_recall. Since round 10 these 4 carry a deliberate DuckDB
    // `SELECT error('no_oracle ... gated_by ...')` as their oracle, so the
    // driver's per-query err field names the gates — every queries entry
    // therefore has an oracleSql entry, and ONLY those 4 are sentinels.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"queries with no oracleSql at all: $rowsOnly")
    val sentinels = SparkEntry.oracleSql.filter(_._2.contains("no_oracle")).keySet
    assert(sentinels === Set("x_minhash_lsh", "x_simhash_pairs", "x_ann_lsh", "x_ann_ivf"))
    // gated_by.json is written in the 4-entry map's insertion order
    assert(SparkEntry.gatedBy.keys.toSeq === Seq("x_ann_lsh", "x_ann_ivf", "x_minhash_lsh", "x_simhash_pairs"))
    sentinels.foreach { n =>
      assert(SparkEntry.oracleSql(n).contains(SparkEntry.gatedBy(n).takeWhile(_ != ':')),
        s"$n's sentinel must name its gate query")
    }
  }

  test("all queries execute and are non-empty at sf0.001 (except known-sparse pair miners)") {
    val maybeEmpty = Set("x_ngram_jaccard", "x_embed_neardup", "x_minhash_lsh", "x_simhash_pairs",
      // full view->click->purchase chains within 1 h windows need sf0.1
      // density (0 converters at sf0.001 is corpus-correct, oracle agrees)
      "x_time_to_convert")
    // Global (unpartitioned) windows move the whole input to ONE task — at
    // 100 TB that plan is dead, so they are forbidden except where the
    // window input is provably bounded regardless of data volume:
    //   w2_moving_avg — frame over the daily AGGREGATE (<=1 row per day);
    //   x_quantile_norm / x_ks_test — cumulative sum over the ROUND-4
    //     SCORE GRID (<= 10^4+1 rows at any corpus scale).
    // Everything ordinal-shaped goes through Batching.globalOrdinal.
    //   x_mannwhitney — cumulative over the per-user COUNT grid (values
    //     bounded by max activity, not corpus rows).
    //   x_kruskal_wallis — same count-grid cumulative (midranks).
    //   x_mcnemar — lower-median scans over the two count grids.
    //   x_bh_fdr — BH step-up/adjust over the |types| battery grid (the
    //     constant partitionBy(lit(0)) is optimized away to global).
    //   x_gini — Lorenz prefix sums over the DOLLAR-BINNED histogram
    //     (value grid, not users).
    //   x_theilsen — median rank over the day-PAIR grid (calendar², not
    //     corpus rows).
    //   x_auc — cumulative over the PREDICTION-VALUE grid (distinct
    //     predictions <= nation×segment cells, not orders).
    //   x_sprt — cumulative LLR walk over the calendar day grid.
    //   x_skyline — prefix-best over the per-64-token BUCKET grid
    //     (bounded by token-range/64, never corpus rows).
    //   x_binseg — SSE prefix sums over the calendar day grid.
    val boundedInputWhitelist =
      Set("w2_moving_avg", "x_quantile_norm", "x_ks_test", "x_mannwhitney", "x_kruskal_wallis",
        "x_mcnemar", "x_cochran_q", "x_psm_att", "x_bh_fdr", "x_gini", "x_theilsen", "x_auc",
        "x_sprt", "x_skyline", "x_binseg",
        // x_anomaly_iqr — cumulative histogram of GLOBAL daily totals:
        // one row per distinct daily count, bounded by the calendar grid
        "x_anomaly_iqr",
        // x_gains_table — cum windows over the activity HISTOGRAM
        // (bounded by the activity domain) and the 10-row decile grid
        "x_gains_table",
        // x_outlier_mad — two cumulative count histograms of GLOBAL daily
        // totals, both calendar-bounded
        "x_outlier_mad",
        // x_rolling_corr — 14-row co-moment windows over the joined
        // click/purchase DAY series (one row per calendar day)
        "x_rolling_corr",
        // x_uplift_tlearner — cum window over the activity HISTOGRAM
        "x_uplift_tlearner")
    import org.apache.spark.sql.catalyst.plans.logical
    // A global window whose input is DOMINATED by a LIMIT is bounded by
    // construction (e.g. x_bm25_search round-robins the top-20 df terms
    // into probe queries) — the single task sees <= limit rows at any
    // corpus scale. Only the direct unary child chain counts: a limit
    // buried under one branch of a join does NOT bound the window input.
    @annotation.tailrec
    def limitBounded(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.GlobalLimit => true
      case u: logical.UnaryNode   => limitBounded(u.child)
      case _                      => false
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, TestSpark.sfDir)
      val globalWindows = df.queryExecution.optimizedPlan.collect {
        case w: logical.Window if w.partitionSpec.isEmpty && !limitBounded(w.child) => w
        case g: logical.WindowGroupLimit if g.partitionSpec.isEmpty && !limitBounded(g.child) => g
      }
      assert(globalWindows.isEmpty || boundedInputWhitelist.contains(name),
        s"$name has a global (unpartitioned) window over potentially unbounded input")
      val n = df.count()
      if (!maybeEmpty.contains(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("x_shapley_attribution: efficiency and monotone-game invariants") {
    val rows = SparkEntry.queries("x_shapley_attribution")(spark, TestSpark.sfDir)
      .collect()
    assert(rows.length === 3, "one row per channel")
    val phis = rows.map(_.getAs[Long]("phi_num"))
    // v is monotone (S ⊆ T ⇒ v(S) ≤ v(T)), so every marginal is ≥ 0
    assert(phis.forall(_ >= 0L))
    val total = phis.sum
    // Σφ_c = v(full) − v(∅): phi_num = 3!·φ so the sum is divisible by 6
    // and φ-mass never exceeds the purchase count
    assert(total % 6 === 0L)
    val purchases = sources.Tables.loadEvents(spark, TestSpark.sfDir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase").count()
    assert(total / 6 <= purchases)
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
  }

  test("x_anova_f: variance partition identity; x_gtest: information inequality") {
    import org.apache.spark.sql.functions._
    val a = SparkEntry.queries("x_anova_f")(spark, TestSpark.sfDir).collect().head
    // SSB + SSW must equal the independently computed total sum of squares
    // (the defining partition of variance), up to the floor-6 rounding of
    // the two addends
    val e = sources.Tables.loadEvents(spark, TestSpark.sfDir)
      .select(col("value").cast("decimal(18,4)").as("v"))
    val m = e.agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
      sum(col("v") * col("v")).as("ss")).collect().head
    val n = m.getAs[Long]("n").toDouble
    val s = m.getAs[java.math.BigDecimal]("s").doubleValue()
    val ss = m.getAs[java.math.BigDecimal]("ss").doubleValue()
    val ssTotal = ss - s * s / n
    val parts = a.getAs[Double]("ss_between") + a.getAs[Double]("ss_within")
    assert(math.abs(parts - ssTotal) < 1e-2, s"SSB+SSW=$parts vs SST=$ssTotal")
    assert(a.getAs[Double]("f_stat") >= 0.0)
    assert(a.getAs[Long]("n") === m.getAs[Long]("n"))

    val g = SparkEntry.queries("x_gtest")(spark, TestSpark.sfDir).collect().head
    // G = 2N·I(X;Y) ≥ 0 (Gibbs' inequality); dof is the observed grid's
    assert(g.getAs[Double]("g_stat") >= -1e-6, s"G=${g.getAs[Double]("g_stat")}")
    val types = sources.Tables.loadEvents(spark, TestSpark.sfDir)
      .select("event_type").distinct().count()
    assert(g.getAs[Long]("dof") === (types - 1) * 1L)
  }

  test("x_ar_forecast: 7 horizon rows, finite stationary fit") {
    val rows = SparkEntry.queries("x_ar_forecast")(spark, TestSpark.sfDir)
      .collect()
    assert(rows.map(_.getAs[Int]("h")).toSeq === (1 to 7))
    val phi1 = rows.head.getAs[Double]("phi1")
    val phi2 = rows.head.getAs[Double]("phi2")
    // Yule–Walker on a stationary sample sits inside the AR(2)
    // stationarity triangle: |φ2| < 1, φ2 ± φ1 < 1
    assert(math.abs(phi2) < 1.0 && phi2 + phi1 < 1.0 && phi2 - phi1 < 1.0,
      s"non-stationary fit phi1=$phi1 phi2=$phi2")
    assert(rows.forall(r => !r.getAs[Double]("forecast").isNaN))
  }

  test("x_kneser_ney: probabilities bounded, discount+continuation structure") {
    val rows = SparkEntry.queries("x_kneser_ney")(spark, TestSpark.sfDir).collect()
    assert(rows.length === 100)
    rows.foreach { r =>
      val p = r.getAs[Double]("p_kn")
      val c12 = r.getAs[Long]("c12").toDouble
      val c1 = r.getAs[Long]("c1").toDouble
      assert(p > 0.0 && p <= 1.0, s"p_kn out of range: $p")
      // interpolation only ADDS continuation mass to the discounted ML term
      assert(p >= (c12 - 0.75) / c1 - 1e-6)
      // and never exceeds undiscounted ML plus the full λ backoff budget
      assert(p <= c12 / c1 + 1e-6 || c12 < c1)
    }
  }

  test("x_record_linkage: confusion cells consistent, every true pair blocked together") {
    val r = SparkEntry.queries("x_record_linkage")(spark, TestSpark.sfDir).collect().head
    val nCust = sources.Tables.load(spark, TestSpark.sfDir, "customer").count()
    // blocking on nation never separates a record from its dirty twin
    assert(r.getAs[Long]("n_true") === nCust)
    val tp = r.getAs[Long]("tp")
    assert(tp <= r.getAs[Long]("n_pred") && tp <= r.getAs[Long]("n_true"))
    assert(r.getAs[Double]("precision") > 0.5 && r.getAs[Double]("recall") > 0.5,
      "FS weights should separate planted matches on this corpus")
    // u's are proper random-agreement probabilities
    Seq("u_name", "u_seg", "u_bal").foreach { u =>
      assert(r.getAs[Double](u) > 0.0 && r.getAs[Double](u) < 1.0) }
  }

  test("x_decision_tree: node masses nest, leaves beat the majority baseline") {
    val m = SparkEntry.queries("x_decision_tree")(spark, TestSpark.sfDir)
      .collect().map(r => r.getAs[String]("node") -> r).toMap
    def n(k: String) = m.get(k).map(_.getAs[Long]("n")).getOrElse(0L)
    def pos(k: String) = m.get(k).map(_.getAs[Long]("pos")).getOrElse(0L)
    assert(n("L") + n("R") === n("root"))
    assert(n("LL") + n("LR") === n("L"))
    assert(n("RL") + n("RR") === n("R"))
    assert(pos("LL") + pos("LR") + pos("RL") + pos("RR") === pos("root"))
    // greedy splits never lose training accuracy vs predicting the
    // root majority everywhere
    val leafCorrect = Seq("LL", "LR", "RL", "RR")
      .map(k => math.max(pos(k), n(k) - pos(k))).sum
    assert(leafCorrect >= math.max(pos("root"), n("root") - pos("root")))
    m.values.foreach(r => assert(r.getAs[Long]("pos") <= r.getAs[Long]("n")))
  }

  test("x_logrank: O/E mass balance and nonnegative variance") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("x_logrank")(spark, TestSpark.sfDir).collect().head
    val purchasers = sources.Tables.loadEvents(spark, TestSpark.sfDir)
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    // every purchaser contributes exactly one event to the risk table
    assert(r.getAs[Long]("n_events") === purchasers)
    val o1 = r.getAs[Long]("o1").toDouble
    val e1 = r.getAs[Double]("e1")
    // arm-1 expected events stay within the total event mass
    assert(e1 >= 0.0 && e1 <= r.getAs[Long]("n_events").toDouble + 1e-6)
    assert(o1 <= r.getAs[Long]("n_events"))
    assert(r.getAs[Double]("v") >= 0.0)
    assert(r.getAs[Double]("chi2") >= 0.0)
  }

  test("x_assoc_rules: confidence/lift consistency against raw basket counts") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("x_assoc_rules")(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    val b = sources.Tables.withDay(sources.Tables.loadEvents(spark, TestSpark.sfDir))
      .select("user_id", "day", "event_type").distinct().cache()
    val nb = b.select("user_id", "day").distinct().count().toDouble
    val itemN = b.groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      val (a, c) = (r.getAs[String]("antecedent"), r.getAs[String]("consequent"))
      val nab = r.getAs[Long]("n_ab").toDouble
      // the 5% support gate held
      assert(nab * 20 >= nb)
      val conf = r.getAs[Double]("confidence")
      assert(math.abs(conf - nab / itemN(a)) < 1e-6)
      // lift = conf / P(consequent)
      val lift = r.getAs[Double]("lift")
      assert(math.abs(lift - conf / (itemN(c) / nb)) < 1e-3)
      assert(conf > 0.0 && conf <= 1.0 + 1e-9)
    }
    // rules are directional: A→B and B→A confidences differ unless the
    // item supports match — but both must share the same symmetric lift
    val byPair = rows.groupBy(r => Set(r.getAs[String]("antecedent"), r.getAs[String]("consequent")))
    byPair.values.filter(_.length == 2).foreach { pr =>
      assert(math.abs(pr(0).getAs[Double]("lift") - pr(1).getAs[Double]("lift")) < 1e-4)
    }
    b.unpersist()
  }

  test("x_binseg: nested splits ordered, each recursion never increases its segment's SSE") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("x_binseg")(spark, TestSpark.sfDir).collect()
      .map(r => r.getAs[String]("seg") -> r).toMap
    val root = rows("root")
    // total SSE of the unsplit series, computed independently
    val d = sources.Tables.withDay(sources.Tables.loadEvents(spark, TestSpark.sfDir))
      .groupBy("day").count().select(col("count").cast("double").as("c"))
    val m = d.agg(count(lit(1)).as("n"), sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
      .collect().head
    val sseTotal = m.getAs[Double]("s2") - m.getAs[Double]("s1") * m.getAs[Double]("s1") / m.getAs[Long]("n")
    // the root split cannot cost more than not splitting at all
    assert(root.getAs[Double]("sse_after") <= sseTotal + 1e-6)
    // child split indices nest strictly around the root index
    val ri = root.getAs[Long]("split_idx")
    rows.get("left").foreach(l => assert(l.getAs[Long]("split_idx") < ri))
    rows.get("right").foreach(r => assert(r.getAs[Long]("split_idx") > ri))
    rows.values.foreach(r => assert(r.getAs[Double]("sse_after") >= -1e-9))
  }

  test("x_mediation: effect decomposition c_total = c' + a*b") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("x_mediation")(spark, TestSpark.sfDir).collect().head
    val a = r.getAs[Double]("a"); val b = r.getAs[Double]("b")
    val cT = r.getAs[Double]("c_total"); val cP = r.getAs[Double]("c_prime")
    // the defining OLS identity (exact algebraically; floor-6 outputs)
    assert(math.abs(cT - (cP + a * b)) < 1e-4, s"c_total=$cT c'=$cP a*b=${a * b}")
    assert(math.abs(r.getAs[Double]("indirect") - a * b) < 1e-5)
    // more active days can only come from more events: a > 0 on this corpus
    assert(a > 0.0)
  }

  test("x_hmm_decode: Viterbi beats every constant-state path, stats are path-consistent") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("x_hmm_decode")(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    // recompute the observation sequence independently (same mean gate)
    val dc = sources.Tables.withDay(sources.Tables.loadEvents(spark, TestSpark.sfDir))
      .groupBy("event_type", "day").count()
    val obsCnt = dc.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("count")).as("tot"))
      .join(dc, "event_type")
      .groupBy("event_type").agg(
        sum(when(col("count") * col("n") > col("tot"), 1L).otherwise(0L)).as("n1"),
        count(lit(1)).as("nd"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n1"), r.getAs[Long]("nd"))).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val n = r.getAs[Long]("n_days")
      val (n1, nd) = obsCnt(t)
      assert(n === nd)
      val score = r.getAs[Long]("score")
      // a constant path scores (n-1) stay-transitions + its emission matches;
      // Viterbi must do at least as well as the better constant path,
      // and can never beat all-factors-good
      assert(score >= (n - 1) + math.max(n1, n - n1), s"$t: score $score below constant-path bound")
      assert(score <= 2 * n - 1)
      val h = r.getAs[Long]("n_high"); val sw = r.getAs[Long]("n_switches")
      assert(h >= 0 && h <= n)
      assert(sw >= 0 && sw <= n - 1)
      // zero switches means the decoded path is constant
      if (sw == 0) assert(h == 0L || h == n)
    }
  }

  test("x_kcenter_coreset: cover radius is non-increasing and picks are distinct") {
    val rows = SparkEntry.queries("x_kcenter_coreset")(spark, TestSpark.sfDir).collect()
    assert(rows.map(_.getAs[Int]("pick_order")).toSeq === (1 to 8))
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === 8)
    // each new center is the farthest point from the chosen set, so the
    // max-min distance (the cover radius) can only shrink
    val radii = rows.filter(_.getAs[Int]("pick_order") >= 2).map(_.getAs[Double]("radius"))
    assert(radii.forall(_ >= 0.0))
    radii.sliding(2).foreach { case Array(a, b) => assert(b <= a + 1e-9, s"radius grew: $a -> $b") }
  }

  test("x_bandit_replay: one pull per day, every arm tried, wins bounded") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("x_bandit_replay")(spark, TestSpark.sfDir).collect()
    val nDays = sources.Tables.withDay(sources.Tables.loadEvents(spark, TestSpark.sfDir))
      .select("day").distinct().count()
    // the replay pulls exactly one arm per day
    assert(rows.map(_.getAs[Long]("n_pulls")).sum === nDays)
    // explore-first guarantees every arm is pulled at least once
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pulls") >= 1)
      assert(r.getAs[Long]("wins") <= r.getAs[Long]("n_pulls"))
      val wr = r.getAs[Double]("win_rate")
      assert(wr >= 0.0 && wr <= 1.0)
    }
  }
}
