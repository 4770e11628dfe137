package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Quant.f6

/** Distributed closed-form regression / correlation over grouped data
  * (north-star extension; SURVEY.md §2.10) — the profiling step behind
  * corpus heuristics like "does doc length predict token count per
  * source?" and feature sanity checks before training a quality
  * classifier.
  *
  * Scale design: everything reduces to the five classical sufficient
  * statistics (n, Σx, Σy, Σxy, Σx², Σy²) computed in ONE
  * map-side-combined groupBy — the shuffle carries partitions×groups
  * partial rows, never data rows, and the closed-form solve is a per-group
  * projection on the aggregate output (no driver round-trip, no iteration).
  * This is the same one-pass shape at 5000 rows and at 100 TB.
  *
  * Cross-engine determinism: x and y are INTEGER expressions here, so the
  * sufficient statistics are exact (LongType sums; caller guarantees the
  * SUMS fit in 2^63 — true through petabyte-scale groups for
  * character/token counts). The n·Σxy − Σx·Σy style numerators are then
  * formed in DECIMAL(38,0), exact whenever the sums themselves fit in
  * long. The closed forms after that are a fixed sequence of IEEE double
  * ops on exact inputs — identical in any engine — with one final
  * floor-round to 6 decimals.
  */
object Stats {

  /** Per-group simple OLS y = slope·x + intercept plus Pearson r, from
    * exact integer sufficient statistics. Groups where the x variance is
    * zero yield NULL slope/intercept/r (division by zero → NULL in both
    * Spark non-ANSI and DuckDB via nullif).
    *
    * Output: groupCols*, n, slope, intercept, r (each rounded 6).
    */
  def groupedLinReg(
      df: DataFrame, groupCols: Seq[String], x: Column, y: Column): DataFrame = {
    val stats = df
      .select(groupCols.map(col) ++ Seq(
        x.cast("long").as("__x"), y.cast("long").as("__y")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__x")).as("sx"),
        sum(col("__y")).as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"))
    // cov/var numerators are formed in DECIMAL(38,0): each is a product of
    // two long-bounded sums, so the exact value stays under 10^38 whenever
    // the inputs fit in long — whereas a 64-bit n·sxy product wraps
    // silently (Spark non-ANSI) long before the individual sums overflow,
    // and DuckDB would raise where Spark wrapped. The oracle mirrors this
    // with HUGEINT products. One cast to double AFTER the exact subtract.
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val covN = (d38(col("n")) * d38(col("sxy")) - d38(col("sx")) * d38(col("sy"))).cast("double")
    val varXN = (d38(col("n")) * d38(col("sxx")) - d38(col("sx")) * d38(col("sx"))).cast("double")
    val varYN = (d38(col("n")) * d38(col("syy")) - d38(col("sy")) * d38(col("sy"))).cast("double")
    // rounded with Quant.f6's floor idiom, NOT round() (see Quant)
    val slope = covN / nullif(varXN, lit(0.0))
    stats.select(
      groupCols.map(col) ++ Seq(
        col("n"),
        f6(slope).as("slope"),
        f6((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"),
        f6(covN / nullif(sqrt(varXN) * sqrt(varYN), lit(0.0))).as("r")): _*)
  }

  /** Logistic regression P(y=1 | x) by distributed IRLS over the (x, y)
    * JOINT HISTOGRAM: `iters` quantized Newton steps, each one five
    * DECIMAL sums over the bounded value grid with the coefficient pair
    * broadcast as a 1-row frame — per-iteration cluster traffic is five
    * numbers regardless of corpus size, and the corpus contributes only
    * the one shuffle that builds the histogram. The per-cell sigmoid is
    * floor-6-quantized and clamped to [1e-6, 1−1e-6] (log-likelihood
    * never hits ln 0); coefficients floor-6 after every step, so an
    * engine replaying the same unrolled stages (the oracle's CTE chain)
    * reproduces the solve bit-for-bit. Returns the histogram and the
    * final 1-row coefficient frame (b0, b1).
    */
  def logisticIrls(pts: DataFrame, x: Column, y: Column, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1)
    val spark = pts.sparkSession
    val histPlan = pts.select(x.as("x"), y.as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("f"))
    // The joint histogram is VALUE-GRID bounded (quantized score × binary
    // label — cells, never rows), i.e. metadata-scale at any corpus size,
    // so it is collected once and the Newton steps run as driver
    // arithmetic over it — the kmeansCents/Compaction discipline for
    // alphabet-bounded state. The corpus still pays exactly its one
    // histogram shuffle (ShuffleAuditSpec pins iteration count adds ~zero
    // shuffle bytes); what this removes is the per-step tiny-frame
    // cross-join/aggregate round-trips (~3 scheduler jobs per step) that
    // dominated the fit's wall time at any histogram size.
    //
    // Every driver op below replicates the previous Column chain's IEEE /
    // decimal semantics exactly (StatsSpec + the DuckDB oracle pin it):
    //  - f6(v)  = Quant.f6's driver form (Spark's floor-to-LONG);
    //  - d6 sums = java BigDecimal.valueOf(f6val).setScale(6, HALF_UP)
    //    (Spark's double→decimal(28,6) cast), summed exactly, then one
    //    .doubleValue() (the aggregate's final double cast);
    //  - a cell with a null x or y keeps the terms the null is not in:
    //    least/greatest skip a null sigmoid, so a null x gets p = 0.999999,
    //    and only the products holding the null drop out of their sums;
    //  - a sum with no terms (an EMPTY histogram) is NULL, not 0, so the
    //    coef pair is null, as the aggregate form returned.
    val rows = histPlan.collect()
    val hist = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), histPlan.schema)
    val xi = hist.schema.fieldIndex("x")
    val yi = hist.schema.fieldIndex("y")
    val fi = hist.schema.fieldIndex("f")
    val cells = rows.map { r =>
      def num(i: Int): Option[Double] = Option(r.get(i)).map {
        case d: java.lang.Double => d.doubleValue
        case f: java.lang.Float => f.toDouble
        case n: java.lang.Number => n.doubleValue()
        case other => other.toString.toDouble
      }
      (num(xi), num(yi), r.getLong(fi).toDouble)
    }
    val (b0, b1) = irlsSolve(cells, iters)
    val coef = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(b0, b1)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b0", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("b1", org.apache.spark.sql.types.DoubleType))))
    (hist, coef)
  }

  /** The driver-side Newton loop of [[logisticIrls]] over (x, y, f) cells
    * (None = a null x or y) — exposed so callers that already hold a
    * (sliced) joint histogram can fit without another corpus pass.
    * Returns (b0, b1), null when a sum has no terms (the aggregate form's
    * NULL-sum edge).
    */
  private[graft] def irlsSolve(
      cells: Array[(Option[Double], Option[Double], Double)],
      iters: Int): (java.lang.Double, java.lang.Double) = {
    // Spark parity on the degenerate edges: f6 floors through LONG, so
    // the sigmoid is never NaN and min/max clamp it as least/greatest do;
    // a non-finite double casts to decimal as NULL, which sum skips —
    // replicated by skipping the term, as a null term is skipped. A sum
    // stays None until its first term.
    def d6(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(f6(v)).setScale(6, java.math.RoundingMode.HALF_UP)
    def addD6(acc: Option[java.math.BigDecimal], v: Option[Double]) = v match {
      case Some(d) if !d.isNaN && !d.isInfinite => Some(acc.fold(d6(d))(_.add(d6(d))))
      case _ => acc
    }
    var b0 = 0.0
    var b1 = 0.0
    for (_ <- 1 to iters) {
      var g0, g1, h00, h01, h11 = Option.empty[java.math.BigDecimal]
      cells.foreach { case (xv, yv, fv) =>
        val p = xv.fold(0.999999)(x =>
          math.max(math.min(f6(1.0 / (1.0 + math.exp(-(b0 + b1 * x)))), 0.999999), 0.000001))
        val w = p * (1.0 - p)
        val res = yv.map(y => fv * (y - p))
        g0 = addD6(g0, res)
        g1 = addD6(g1, for (r <- res; x <- xv) yield r * x)
        h00 = addD6(h00, Some(fv * w))
        h01 = addD6(h01, xv.map(x => fv * w * x))
        h11 = addD6(h11, xv.map(x => fv * w * x * x))
      }
      // a NULL sum nulls both coefficients, and a null coefficient stays
      // null through every later step
      val sums = Seq(g0, g1, h00, h01, h11)
      if (sums.exists(_.isEmpty)) return (null, null)
      val Seq(g0d, g1d, h00d, h01d, h11d) = sums.map(_.get.doubleValue)
      val det = h00d * h11d - h01d * h01d
      b0 = f6(b0 + (h11d * g0d - h01d * g1d) / det)
      b1 = f6(b1 + (h00d * g1d - h01d * g0d) / det)
    }
    (b0, b1)
  }

  /** The clamped floor-6 sigmoid of [[logisticIrls]] for a given
    * coefficient frame — callers scoring rows or computing likelihoods
    * must use the identical quantized tree. */
  def logisticP(x: Column): Column = {
    greatest(least(
      f6(lit(1.0) / (lit(1.0) + exp(-(col("b0") + col("b1") * x.cast("double"))))),
      lit(0.999999)), lit(0.000001))
  }
}
