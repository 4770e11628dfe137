package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the cache-pairing discipline (r9 ADVICE): every engine-internal
  * `.cache()` goes through CacheScope, and after the query's action +
  * drain() the executor storage is measurably empty — nothing accumulates
  * across a long multi-query session.
  */
class CacheScopeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  /** Queries that cache internally but do NOT localCheckpoint (checkpoint
    * blocks are released asynchronously by the ContextCleaner once the
    * plan is unreferenced — a different, GC-paced mechanism).
    */
  private val cachingQueries =
    Seq("q11_important_values", "x_winnow_pairs", "x_collocations", "x_unigram_tok")

  test("drain() releases every internally-cached dataset (no NEW persisted RDDs survive)") {
    // delta-based: the shared test session may still hold localCheckpoint
    // blocks from OTHER suites' queries (released asynchronously by the
    // ContextCleaner once unreferenced — a different mechanism); what this
    // pins is that the query under test adds NOTHING that outlives drain()
    cachingQueries.foreach { name =>
      spark.sharedState.cacheManager.clearCache()
      CacheScope.drain()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val n = SparkEntry.queries(name)(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
      CacheScope.drain()
      val leaked = spark.sparkContext.getPersistentRDDs.filter(kv => !before.contains(kv._1))
      assert(leaked.isEmpty,
        s"$name leaked ${leaked.size} persisted RDD(s) after drain: " +
          leaked.values.map(r => String.valueOf(r.name)).mkString(", "))
    }
  }

  test("every .cache() call site in main sources is CacheScope- or unpersist-paired") {
    // structural grep pin: a bare Dataset.cache() outside CacheScope.cached
    // or an explicit try/finally unpersist pair is a storage leak at session
    // scale. IncrementalSync is the sanctioned explicit pair.
    val root = java.nio.file.Paths.get("src/main/scala")
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        val bare = "\\.cache\\(\\)".r.findAllIn(text).size
        val unpersists = "\\.unpersist\\(".r.findAllIn(text).size
        // CacheScope.scala itself holds the one sanctioned df.cache()
        val own = if (p.getFileName.toString == "CacheScope.scala") 1 else 0
        // every bare .cache() needs its own unpersist; CacheScope.cached
        // call sites contain no ".cache()" text, so they don't exempt a
        // file from this count (the r10 ADVICE hole: any file using
        // CacheScope could previously add unpaired bare caches unseen)
        if (bare - own > unpersists) Some(s"$p ($bare cache / $unpersists unpersist)")
        else None
      }.toList
    assert(offenders.isEmpty, s"unpaired .cache() sites: ${offenders.mkString("; ")}")
  }

  test("timed drains after a failed action and returns the failure instead of throwing") {
    spark.sharedState.cacheManager.clearCache()
    CacheScope.drain()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val boom = new IllegalStateException("query failed mid-action")
    val r = CacheScope.timed(spark) {
      CacheScope.cached(spark.range(100).toDF("id")).count()
      throw boom
    }
    assert(r === Left(boom))
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before),
      "a failed query's internal caches must be released")
    val ok = CacheScope.timed(spark)(spark.range(10).count())
    assert(ok.exists(_ >= 0.0))
  }
}
