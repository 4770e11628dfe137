package graft

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}

/** Pairs every engine-internal `Dataset.cache()` with an `unpersist`.
  *
  * Query builders return LAZY DataFrames — the action that materializes an
  * internal cache happens later, in the caller — so the builder itself
  * cannot unpersist without defeating the cache. Sites therefore register
  * through [[cached]], and the harness (Bench / BenchScaling / Verify /
  * Scratch through [[timed]], or any library caller) calls [[drain]]
  * after the final action on the returned plan. Blocking unpersist, so
  * executor storage memory is measurably empty afterward
  * (`sparkContext.getPersistentRDDs` — pinned by BenchSpec).
  *
  * At 100 TB this is the difference between "bounded intermediate per
  * query" and "storage memory monotonically accumulating across a long
  * session": `catalog.clearCache()` also works but is a global hammer that
  * would evict caches a co-resident application owns; drain() releases
  * exactly what this engine took.
  *
  * CONTRACT — single-threaded harness, drain-per-query: the registry is a
  * process-global buffer, so (1) a caller that never drains accumulates
  * strong Dataset references (and their pinned cache blocks) without
  * bound, and (2) a drain() on one thread unpersists caches a
  * concurrently-building query just registered. Bench / BenchScaling /
  * Verify / Scratch all run queries serially through [[timed]], which
  * drains after each action — the intended use. A multi-tenant caller
  * needs per-query scope handles instead — deliberately NOT built here:
  * no concurrent caller exists in this engine, and a speculative handle
  * API would leave the simple serial contract untested.
  */
object CacheScope {
  private val live = mutable.ArrayBuffer.empty[Dataset[_]]

  /** Cache `df` and register it for the next [[drain]]. */
  def cached[T](df: Dataset[T]): Dataset[T] = synchronized {
    val c = df.cache()
    live += c
    c
  }

  /** Unpersist (blocking) every dataset cached since the last drain. */
  def drain(): Unit = synchronized {
    live.foreach(_.unpersist(blocking = true))
    live.clear()
  }

  /** Run `force` (the action that materializes one query), time it in
    * seconds, and ALWAYS release what it cached — [[drain]], then
    * `clearCache()` as the backstop: a leaked entry distorts every later
    * measurement. Any failure is returned, not thrown, so a harness
    * records it against the query (side-effecting entries that break must
    * be distinguishable from fast ones) and moves on to the next.
    */
  def timed(spark: SparkSession)(force: => Any): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    val r =
      try { force; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(e) }
    drain()
    spark.catalog.clearCache()
    r
  }
}
