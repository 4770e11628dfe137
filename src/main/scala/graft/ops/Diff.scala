package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-detection joins (SURVEY.md §2.4 J1–J5, §2.9 T1/T2).
  *
  * The reference computes all of these in driver Python over collected sets
  * (`data-s3-elastic-transfer.py:282-285`, `ID-based-transfer.py:241`) —
  * O(all keys) through one process. Here each is a distributed join;
  * Catalyst picks broadcast-hash when one side's stats are small and
  * sort-merge otherwise, so the same three lines work at 60 k rows and at
  * 100 TB (where the sink-state id set shuffles instead of OOMing a driver).
  */
object Diff {

  /** J1/T1: partitions present in source but absent from the sink. */
  def partitionDiff(source: DataFrame, sinkState: DataFrame, partCol: String): DataFrame =
    source
      .select(partCol)
      .distinct()
      .join(sinkState.select(partCol).distinct(), Seq(partCol), "left_anti")

  /** J2/T2: row ids present in source but absent from the sink.
    * At extreme scale, pre-filter with a bloom filter on the sink ids
    * before the anti-join shuffle (SURVEY.md §2.9 T2).
    */
  def idDiff(source: DataFrame, sinkState: DataFrame, idCol: String): DataFrame =
    source
      .select(idCol)
      .distinct()
      .join(sinkState.select(idCol).distinct(), Seq(idCol), "left_anti")

  /** T2 scale path: id-diff with a bloom-filter pre-split. The sink's id
    * set is sketched once (driver-side aggregation, a few MB); source rows
    * the filter definitely excludes ARE missing and skip the join entirely;
    * only the "might contain" residue (≈ fpp of the missing side plus all
    * true matches) pays the anti-join shuffle. At 100 TB this turns a
    * full-source shuffle into a shuffle of ~|sink∩source| + ε.
    * Exact — false positives are re-checked by the anti-join.
    *
    * The membership probe is Spark's native `BloomFilterMightContain`
    * expression over the serialized sketch as a binary literal — the same
    * mechanism Catalyst's injected runtime row-level filters use — so the
    * pre-filter stays inside whole-stage codegen (the earlier Scala UDF
    * broke codegen on this path; the sketch bytes ride the task binary
    * once per stage and deserialize lazily per task).
    *
    * SIZE THE SKETCH HONESTLY: `expectedSinkIds` should be the actual sink
    * id cardinality, not a generous guess — the literal lives in the plan
    * tree, where optimizer canonicalization hashes it repeatedly, so a 10×
    * oversized sketch costs real planning time on top of wasted shipping
    * (measured ~+0.3 s/query at a 1.2 MB literal). Pass a non-positive
    * value to auto-size from `sinkState.count()` — one cheap extra job
    * (metadata-only over parquet sources); callers who know the
    * cardinality at scale should pass it explicitly.
    */
  def idDiffBloom(
      source: DataFrame,
      sinkState: DataFrame,
      idCol: String,
      expectedSinkIds: Long,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    val expected = if (expectedSinkIds > 0) expectedSinkIds else math.max(1L, sinkState.count())
    val bf = sinkState.stat.bloomFilter(idCol, expected, fpp)
    val bytes = {
      val os = new java.io.ByteArrayOutputStream()
      bf.writeTo(os)
      os.toByteArray
    }
    val mightContain = column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bytes, org.apache.spark.sql.types.BinaryType),
        expression(col(idCol).cast("long"))))
    val src = source.select(idCol).distinct()
    val definitelyMissing = src.filter(!mightContain)
    val suspects = src.filter(mightContain)
      .join(sinkState.select(idCol).distinct(), Seq(idCol), "left_anti")
    definitelyMissing.unionByName(suspects)
  }

  /** J3: per-partition count reconciliation — full-outer join of grouped
    * counts, nulls coalesced to 0, mismatches kept. This is the reference's
    * correctness check (`ID-based-transfer.py:90-109`) as one plan.
    * Output columns: partCol, src_cnt, sink_cnt.
    */
  def countReconcile(source: DataFrame, sinkState: DataFrame, partCol: String): DataFrame = {
    val s = source.groupBy(partCol).agg(count(lit(1)).as("src_cnt"))
    val k = sinkState.groupBy(partCol).agg(count(lit(1)).as("sink_cnt"))
    s.join(k, Seq(partCol), "full_outer")
      .select(
        col(partCol),
        coalesce(col("src_cnt"), lit(0L)).as("src_cnt"),
        coalesce(col("sink_cnt"), lit(0L)).as("sink_cnt")
      )
      .filter(col("src_cnt") =!= col("sink_cnt"))
  }

  /** J3 at CONTENT level: per-partition checksum reconciliation — catches
    * partitions whose row COUNTS agree but whose values drifted (partial
    * overwrite, column corruption, a sink-side default that diverged),
    * which [[countReconcile]] is blind to. Each row contributes a 24-bit
    * content hash (md5 prefix of the '|'-joined canonical column values —
    * the same engine-portable uniformizer as graft.ext.Mixture, so an
    * external system can recompute it in SQL); the per-partition SUM of
    * row hashes is order-independent, and 2^24·rows stays far below Long
    * overflow at any realistic partition size (ANSI-safe to ~2^39 rows).
    * Collisions need two partitions with equal counts AND colliding hash
    * sums — negligible against the corruption rates this guards.
    * Output: partCol, src_cnt, sink_cnt, src_sum, sink_sum (mismatches
    * only; equal-count value drift shows as src_sum != sink_sum).
    */
  def contentReconcile(
      source: DataFrame,
      sinkState: DataFrame,
      partCol: String,
      cols: Seq[String]): DataFrame = {
    def sums(df: DataFrame, cntName: String, sumName: String): DataFrame = {
      val rowHash = conv(substring(md5(concat_ws("|", cols.map(c => col(c).cast("string")): _*)), 1, 6), 16, 10)
        .cast("long")
      df.groupBy(partCol).agg(count(lit(1)).as(cntName), sum(rowHash).as(sumName))
    }
    sums(source, "src_cnt", "src_sum")
      .join(sums(sinkState, "sink_cnt", "sink_sum"), Seq(partCol), "full_outer")
      .select(
        col(partCol),
        coalesce(col("src_cnt"), lit(0L)).as("src_cnt"),
        coalesce(col("sink_cnt"), lit(0L)).as("sink_cnt"),
        coalesce(col("src_sum"), lit(0L)).as("src_sum"),
        coalesce(col("sink_sum"), lit(0L)).as("sink_sum"))
      .filter(col("src_cnt") =!= col("sink_cnt") || col("src_sum") =!= col("sink_sum"))
  }

  /** J4: fetch the full rows for a set of keys — a left-semi join instead
    * of the reference's chunked 10 000-id SQL IN-lists
    * (`ID-based-transfer.py:177-187`). No chunking: the key set is a
    * DataFrame, and the join strategy (broadcast vs shuffle) is chosen from
    * its size.
    */
  def fetchByKeys(source: DataFrame, keys: DataFrame, keyCol: String): DataFrame =
    source.join(keys.select(keyCol), Seq(keyCol), "left_semi")

  /** J2+J4 fused: rows whose id is missing from the sink, in one anti-join
    * (skips materializing the id set — one shuffle instead of two).
    */
  def missingRows(source: DataFrame, sinkState: DataFrame, idCol: String): DataFrame =
    source.join(sinkState.select(idCol).distinct(), Seq(idCol), "left_anti")

  /** Apply an I/U/D changeset (the output shape of [[changeSet]]) back
    * onto a snapshot: ONE full-outer merge on the key — inserts arrive
    * from the change side, deletes drop the snapshot row, updates take
    * the `new_*` value. By construction
    * `applyChangeSet(a, changeSet(a, b)) == b` — pinned as a property in
    * PropertySpec and as the `matches_target` gate in k14_cdc_apply.
    */
  def applyChangeSet(snap: DataFrame, changes: DataFrame, keyCol: String,
      valueCols: Seq[String]): DataFrame = {
    val c = changes.select(col(keyCol) +: (col("op") +: valueCols.map(v => col(s"new_$v"))): _*)
    snap.join(c, Seq(keyCol), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col(keyCol) +: valueCols.map(v =>
        when(col("op").isNotNull, col(s"new_$v")).otherwise(col(v)).as(v)): _*)
  }

  /** CDC changeset between two keyed snapshots: one FULL OUTER join on the
    * key emitting `op` = 'I' (key only in `newSnap`), 'D' (only in
    * `oldSnap`), or 'U' (in both with any `valueCols` differing —
    * null-safe compare, the scd2Merge convention). Unchanged keys are
    * dropped, so the output is exactly the change feed a downstream
    * consumer replays — the generalization of the reference's "which ids
    * are missing" reconcile (ID-based-transfer.py:241) to full
    * insert/update/delete semantics. ONE key-shuffle; both value sets ride
    * the join, no second lookup. Columns: key, op, then old_/new_ pairs.
    */
  def changeSet(oldSnap: DataFrame, newSnap: DataFrame, keyCol: String,
      valueCols: Seq[String]): DataFrame = {
    val o = oldSnap.select(col(keyCol) +: valueCols.map(c => col(c).as(s"old_$c")): _*)
    val n = newSnap.select(col(keyCol) +: valueCols.map(c => col(c).as(s"new_$c")): _*)
    // presence flags survive the outer join where key-nullability can't
    val j = o.withColumn("_in_old", lit(true))
      .join(n.withColumn("_in_new", lit(true)), Seq(keyCol), "full_outer")
    val changed = valueCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    j.withColumn("op",
        when(col("_in_old").isNull, "I")
          .when(col("_in_new").isNull, "D")
          .when(changed, "U"))
      .filter(col("op").isNotNull)
      .drop("_in_old", "_in_new")
  }
}
