package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler: tiles an existing testdata SF directory
  * `tiles`× with consistent key remapping, producing the next scale point
  * (default: sf0.1 × 10 → an sf1-equivalent at /tmp/graft_sf1) for the
  * three-point BenchScaling curve. The driver's testdata is read-only and
  * its generators aren't in-repo, so the third point is synthesized from
  * the second — same schema, same per-key fan-ins, 10× volume.
  *
  * Scaling semantics (what "10× data" should mean for plan measurement):
  *  - FACT keys (orders, lineitem, customer, part, supplier, documents,
  *    embeddings, events ids/users) are offset per tile by max(key)+1, so
  *    the key population grows 10× while every JOIN FAN-IN per key stays
  *    exactly the sf0.1 value — a linear plan must stay linear.
  *  - DIMENSIONS (nation, region) are copied unchanged: dimension tables
  *    don't scale with fact volume (the TPC-H convention), so broadcast
  *    sides stay broadcast-sized.
  *  - The events TIME RANGE is unchanged → 10× daily density, the same
  *    day-grid cardinality (calendar grids are metadata, not data).
  *  - document TEXT gets a per-tile word suffix ("the_3"): token counts
  *    and length stats scale cleanly, but tiles are NOT near-duplicates
  *    of each other — raw copies would hand every doc 9 cross-tile
  *    ~J=1.0 twins and quadratically inflate every pair-generating dedup
  *    query for DATA reasons, which is exactly what a plan-scaling
  *    measurement must not conflate.
  *  - embeddings copy as-is under offset ids (vector VALUES repeat per
  *    tile; distance arithmetic cost is value-independent).
  *
  * Usage: `runMain graft.MakeScale [srcDir] [outDir] [tiles]`. Each table
  * lands as a single `<name>.parquet` FILE (the testdata layout the
  * streaming/stage-copy queries expect).
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val tiles = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(32, "MakeScale")
    new java.io.File(out).mkdirs()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    /** max(key)+1 per remapped column — the per-tile offset stride */
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    /** union `tiles` copies, offsetting every listed key column by
      * tile × its stride and applying `mutate` with the tile index
      */
    def tile(df: DataFrame, keys: Map[String, Long],
        mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until tiles).map { k =>
        val shifted = keys.foldLeft(df) { case (d, (c, s)) =>
          d.withColumn(c, col(c) + lit(k * s))
        }
        mutate(shifted, k)
      }.reduce(_ unionByName _)

    /** write as a single parquet FILE named <t>.parquet */
    def write(df: DataFrame, t: String): Unit = {
      LocalFs.writeSingleParquet(df, s"$out/$t.parquet")
      println(s"$t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    // dimensions: unchanged
    write(read("region"), "region")
    write(read("nation"), "nation")

    val cust = read("customer"); val custS = stride(cust, "c_custkey")
    val ord = read("orders"); val ordS = stride(ord, "o_orderkey")
    val part = read("part"); val partS = stride(part, "p_partkey")
    val supp = read("supplier"); val suppS = stride(supp, "s_suppkey")

    write(tile(cust, Map("c_custkey" -> custS)), "customer")
    write(tile(supp, Map("s_suppkey" -> suppS)), "supplier")
    write(tile(part, Map("p_partkey" -> partS)), "part")
    write(tile(ord, Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders")
    write(tile(read("lineitem"), Map(
      "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)), "lineitem")

    val ev = read("events")
    write(tile(ev, Map(
      "event_id" -> stride(ev, "event_id"), "user_id" -> stride(ev, "user_id"))), "events")

    val docs = read("documents")
    write(tile(docs, Map("doc_id" -> stride(docs, "doc_id")),
      (d, k) => d.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "), w => concat(w, lit(s"_$k")))))
        .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents")

    // vector VALUES must not repeat verbatim across tiles: 10 identical
    // twins per point is a degenerate density structure (every ε-ball gets
    // 10× points, neighbor-pair counts inflate 100× — the round-10 x_dbscan
    // lesson). A per-tile COORDINATE ROTATION preserves norms and all
    // within-tile pairwise distances while decorrelating tiles.
    val emb = read("embeddings")
    write(tile(emb, Map("vec_id" -> stride(emb, "vec_id")),
      (d, k) => if (k == 0) d else d.withColumn("embedding",
        concat(slice(col("embedding"), k + 1, 64 - k), slice(col("embedding"), 1, k)))),
      "embeddings")

    spark.stop()
  }
}
