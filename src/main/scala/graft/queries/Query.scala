package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark plan over a dataset
  * directory, and the DuckDB SQL the driver compares it against, side by
  * side. `gate` is set only on the approximate-by-nature rows, which have
  * no exact oracle: it names the exact-oracled sibling(s) that pin their
  * computation.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    gate: Option[String] = None)

object Query {

  /** An approximate-by-nature row. Its oracle is a DuckDB error() whose
    * message lands verbatim in the row's err field, so a correctness
    * reader sees WHY the row has no hash compare and WHICH exact-oracled
    * rows pin the computation, without opening gated_by.json or NOTES.md.
    */
  def gated(name: String, build: (SparkSession, String) => DataFrame, gate: String): Query =
    Query(name, build,
      s"SELECT error('no_oracle (deliberate, approximate-by-nature) - $gate')", Some(gate))
}
