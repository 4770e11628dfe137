package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent last-write-wins semantics (SURVEY.md §2.2 K3).
  *
  * Elasticsearch's index-with-`_id` is last-write-wins per document
  * (`ID-based-transfer.py:202`). Emulated relationally: rank versions per id
  * descending, keep rank 1. The window shuffles by `idCol` only — at scale
  * this is one hash-partition exchange, no global sort.
  */
object Upsert {

  /** Keep the highest-`versionCol` row per `idCol` (ties broken stably by
    * the remaining columns never being compared — version must be a total
    * order per id for determinism; use an ingest timestamp or batch epoch).
    */
  def lastWriteWins(df: DataFrame, idCol: String, versionCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col(versionCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Time travel over an append-only change log: reconstruct the keyed
    * state AS OF version `v`. Filter `versionCol <= v` (at a versioned
    * layout this prunes whole files/partitions before any shuffle), then
    * [[lastWriteWins]] per key, then drop keys whose latest surviving
    * entry is a delete marker (`opCol` = 'D'). ONE key-shuffle per
    * reconstruct; any snapshot, past or present, is the same O(log)
    * query — the lakehouse-style versioned read the reference's
    * overwrite-in-place sync cannot answer at all. `opCol` may be null
    * for upsert-only logs.
    */
  def snapshotAt(log: DataFrame, idCol: String, versionCol: String, v: Long,
      opCol: Option[String] = None): DataFrame = {
    val asOf = lastWriteWins(log.filter(col(versionCol) <= v), idCol, versionCol)
    opCol.fold(asOf)(op => asOf.filter(col(op) =!= "D"))
  }

  /** Type-2 slowly-changing-dimension merge: versioned history where each
    * id's current attributes live in an OPEN row (`toCol` null) and every
    * superseded state is a CLOSED interval [`fromCol`, `toCol`).
    *
    * `updates` must carry at most ONE row per id (pre-merge a batch with
    * [[lastWriteWins]]); `attrCols` are the tracked attributes; `tsCol`
    * is the update's effective time. Semantics per update:
    *  - attrs equal the id's open row → no-op (idempotent re-delivery);
    *  - attrs differ → the open row closes at the update ts and a new
    *    open row starts there;
    *  - unknown id → inserts as a new open row.
    * Closed history rows pass through untouched.
    *
    * Plan shape: one full-outer join of open rows with updates on id plus
    * a union with the closed rows — two exchanges keyed by id at any
    * scale, no window, no driver state.
    */
  def scd2Merge(
      history: DataFrame,
      updates: DataFrame,
      idCol: String,
      fromCol: String,
      toCol: String,
      tsCol: String,
      attrCols: Seq[String]): DataFrame = {
    val closed = history.filter(col(toCol).isNotNull)
    val open = history.filter(col(toCol).isNull)
    val u = updates.select(
      (col(idCol).as(s"__u_$idCol") +: col(tsCol).as("__u_ts") +:
        attrCols.map(c => col(c).as(s"__u_$c"))): _*)
    val j = open.join(u, col(idCol) === col(s"__u_$idCol"), "full_outer")
    // null-safe inequality: a null attribute on either side is a change
    // unless both are null
    val changed = attrCols.map(c => !(col(s"__u_$c") <=> col(c))).reduce(_ || _)
    val outCols = (idCol +: attrCols :+ fromCol :+ toCol).map(col)

    // open rows: unmatched keep theirs; matched-and-equal keep theirs;
    // matched-and-changed close at the update ts
    val keptOrClosed = j.filter(col(idCol).isNotNull)
      .withColumn(toCol, when(col(s"__u_$idCol").isNotNull && changed, col("__u_ts")))
      .select(outCols: _*)
    // new open rows: changed updates and brand-new ids
    val toType = history.schema(toCol).dataType
    val newOpen = j.filter(col(s"__u_$idCol").isNotNull && (col(idCol).isNull || changed))
      .select((col(s"__u_$idCol").as(idCol) +:
        attrCols.map(c => col(s"__u_$c").as(c)) :+
        col("__u_ts").as(fromCol) :+ lit(null).cast(toType).as(toCol)): _*)
    closed.select(outCols: _*)
      .unionByName(keptOrClosed)
      .unionByName(newOpen)
  }
}
