package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins on the measurement/deployment harness itself — the properties the
  * driver depends on to compare rounds and that a cluster deployment
  * depends on to not inherit local-mode defaults.
  */
class HarnessSpec extends AnyFunSuite {

  test("the bench's one-line headline JSON stays under the driver's stdout capture") {
    // The driver captures only a bounded tail of stdout (~2000 chars
    // observed) and json-parses the LAST line; round 13's line overran it
    // and the whole round-over-round comparison was lost (PERF_r14
    // n_common=0). Pin the worst-case rendered length of the headline
    // line so adding entries to Bench.headline can never break the parse
    // again. Worst case: every query present, every value 3 digits + 3
    // decimals ("999.999"), total 5 digits + 3 decimals.
    val header = """{"metric":"total","value":99999.999,"unit":"sec","queries":"""
    val entries = Bench.headline.map(n => "\"" + n + "\":999.999").mkString("{", ",", "}")
    val tail = ""","errors":{},"sf":"/root/testdata/sf0.1"}"""
    val worstCase = header + entries + tail
    assert(worstCase.length < 1950,
      s"headline JSON line would render ${worstCase.length} chars — the driver's " +
        "stdout tail is ~2000; stop ADDING to Bench.headline (never remove existing " +
        "entries — full detail is always in BENCH_FULL.json)")
  }

  test("tmpfs scratch default fires ONLY for local masters") {
    // A cluster node with nothing configured must keep Spark's own disk
    // default: shuffle spill into RAM-backed tmpfs at 100 TB scale is an
    // OOM, not an optimization. The env-override paths (SPARK_LOCAL_DIRS /
    // spark.local.dir) are exercised implicitly: if either is set in this
    // test JVM the local case returns None too, which the assertion allows.
    Seq("spark://host:7077", "yarn", "k8s://https://host:6443", "mesos://host").foreach { m =>
      assert(GraftSession.scratchLocalDir(m).isEmpty,
        s"scratch default must not fire for non-local master $m")
    }
    // local masters may legitimately get None as well (no /dev/shm, low
    // space, env override) — the pin is that any Some(...) is tmpfs-backed
    GraftSession.scratchLocalDir("local[8]").foreach { d =>
      assert(d.startsWith("/dev/shm/"), s"local scratch default must be tmpfs, got $d")
    }
  }

  test("GraftSession.local pins the settings every main and the test suite run under") {
    // TestSpark's session IS a GraftSession.local session; a local[N]
    // master's default parallelism is its thread count N
    val spark = TestSpark.spark
    assert(spark.conf.get("spark.sql.shuffle.partitions") === spark.sparkContext.defaultParallelism.toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.experimental.extraOptimizations.contains(graft.plans.TsRangePushdown))
  }

  test("sweepStale judges a scratch dir by its newest entry anywhere in the tree") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_sweep").toFile
    val old = System.currentTimeMillis() - 7L * 60 * 60 * 1000 // past the 6 h threshold
    def mk(path: String, mtime: Long): java.io.File = {
      val f = new java.io.File(root, path)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, Array[Byte](1))
      assert(f.setLastModified(mtime))
      f
    }
    // live run: its top-level dir is old, but a shuffle file under
    // blockmgr-*/NN was just written
    mk("spark-live/blockmgr-1/0c/shuffle_0_0_0.data", System.currentTimeMillis())
    // crashed run: every entry is old
    mk("spark-dead/blockmgr-2/1a/shuffle_1_0_0.data", old)
    // directory mtimes last: creating children bumps their parents
    Seq("spark-live/blockmgr-1/0c", "spark-live/blockmgr-1", "spark-live",
        "spark-dead/blockmgr-2/1a", "spark-dead/blockmgr-2", "spark-dead")
      .foreach(d => assert(new java.io.File(root, d).setLastModified(old)))
    try {
      GraftSession.sweepStale(root)
      assert(new java.io.File(root, "spark-live/blockmgr-1/0c/shuffle_0_0_0.data").isFile,
        "a dir with a fresh nested file must survive the sweep")
      assert(!new java.io.File(root, "spark-dead").exists(), "a wholly old tree must be removed")
    } finally LocalFs.deleteRecursively(root)
  }
}
