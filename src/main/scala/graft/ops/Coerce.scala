package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Lenient schema coercion (SURVEY.md §2.7 F1/F2/F5).
  *
  * The reference coerces every field row-by-row in Python with
  * try/except-to-default (`data-s3-elastic-transfer.py:126-184`,
  * `ID-based-transfer.py:262-271`) — a per-row JVM↔Python crossing. Here
  * the whole map becomes ONE `select` of `coalesce(try_cast(c AS T),
  * default)` column expressions: it stays inside whole-stage codegen, the
  * parquet reader stays vectorized, and a missing column degrades to a
  * plan-time literal instead of a runtime branch per row. At 100 TB this is
  * the difference between a scan-speed pipeline and a Python bottleneck.
  */
object Coerce {

  /** One field of the coercion spec: target name, SQL type, and the default
    * used when the column is missing, null, or un-castable.
    */
  final case class FieldSpec(name: String, sqlType: String, default: Any)

  /** try_cast + default for one column (F1). try_cast (never throws, even
    * under ANSI mode) reproduces the reference's try/except exactly.
    */
  def lenientCol(c: Column, sqlType: String, default: Any): Column =
    coalesce(c.try_cast(sqlType), lit(default).cast(sqlType))

  /** Schema-aware whole-row coercion (F1+F2+F5 fused). Columns absent from
    * `df` are materialized as plan-time defaults — the runtime
    * `field in df.columns` check of `row_to_document_safe`
    * (`data-s3-elastic-transfer.py:174-184`) resolved once at plan time.
    */
  def lenient(df: DataFrame, spec: Seq[FieldSpec]): DataFrame = {
    val present = df.columns.toSet
    val cols = spec.map { f =>
      if (present.contains(f.name)) lenientCol(col(f.name), f.sqlType, f.default).as(f.name)
      else lit(f.default).cast(f.sqlType).as(f.name)
    }
    df.select(cols: _*)
  }

  /** The reference pipeline's own table spec (union of
    * `data-s3-elastic-transfer.py:156-172` and `ID-based-transfer.py:263-271`,
    * defaults per `:129-148`). Used by the sync tests.
    */
  val sensorReadingSpec: Seq[FieldSpec] = Seq(
    FieldSpec("id", "string", ""),
    FieldSpec("month", "string", ""),
    FieldSpec("month_num", "int", 0),
    FieldSpec("value", "int", 0),
    FieldSpec("temperature", "double", 0.0),
    FieldSpec("humidity", "double", 0.0),
    FieldSpec("ts", "bigint", 0L),
    FieldSpec("city", "string", ""),
    FieldSpec("date", "string", ""),
    FieldSpec("date_timestamp_ns", "string", ""),
    FieldSpec("date_timestamp_converted", "string", "")
  )
}
