package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main (Bench, BenchScaling,
  * Verify, Scratch, Explain, MakeScale), the test suite and the pipeline
  * benchmark get their session from [[local]], so how a session is
  * configured is decided here and nowhere else. Settings are chosen to
  * scale: AQE on (runtime re-planning, skew-join splitting), shuffle
  * partitions sized to the parallelism rather than the Spark default of
  * 200, and the engine's optimizer rule registered exactly once.
  */
object GraftSession {

  /** Minimum usable /dev/shm space before the tmpfs scratch default fires:
    * shuffle spill into a nearly-full RAM-backed tmpfs fails with "No space
    * left on device" mid-query, which is strictly worse than slower disk
    * scratch. 8 GiB comfortably covers the local bench's shuffle footprint
    * (MBs at sf0.1, low GBs at sf1) with a wide margin.
    */
  private val MinShmUsableBytes: Long = 8L * 1024 * 1024 * 1024

  /** Age after which an orphaned scratch subdir (a crashed JVM's spark-*
    * dir, resident in RAM on tmpfs) is swept on the next session start.
    * Long enough that no live run on this box is ever touched.
    */
  private val StaleScratchMs: Long = 6L * 60 * 60 * 1000

  /** Shuffle/spill scratch directory for LOCAL-MASTER sessions
    * (spark.local.dir).
    *
    * Shuffle files are ephemeral per-run scratch, and local scratch
    * bandwidth/latency is a first-order cost for shuffle-heavy work
    * (optimization guide §1.3) — on this box, creating+fsyncing the
    * per-task shuffle data/index files on the root disk costs more than
    * the data itself (measured: a trivial 32-task aggregation drops from
    * ~174 ms to ~111 ms with scratch on tmpfs; x_dbscan at sf0.1 from
    * 4.8 s to 2.9 s). Production parameterisation is Spark's own:
    * SPARK_LOCAL_DIRS / spark.local.dir pointing at fast local SSDs
    * override this. Guard rails:
    *  - the default NEVER fires for a non-local master: on a cluster node
    *    with nothing configured, shuffle spill into RAM-backed tmpfs at
    *    100 TB scale is an OOM, not an optimization — executors there keep
    *    Spark's own disk default until the deployment configures scratch;
    *  - it also stays off when /dev/shm has less than [[MinShmUsableBytes]]
    *    usable (a co-tenant filled it; spilling into it would ENOSPC);
    *  - stale orphans from crashed JVMs (older than [[StaleScratchMs]]) are
    *    swept on session start so they do not stay resident in memory.
    */
  def scratchLocalDir(master: String): Option[String] = {
    if (!master.startsWith("local")) None
    else if (sys.env.contains("SPARK_LOCAL_DIRS") || sys.props.contains("spark.local.dir")) None
    else {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= MinShmUsableBytes) {
        val d = new java.io.File(shm, "graft_spark_local")
        sweepStale(d)
        d.mkdirs()
        Some(d.getAbsolutePath)
      } else None
    }
  }

  /** Delete the subdirs of `root` in which nothing is newer than
    * [[StaleScratchMs]] — crashed JVMs leave their spark-* dirs behind, and
    * on tmpfs those orphans occupy RAM until something removes them. Age
    * is the NEWEST mtime anywhere in the tree, not the top-level dir's:
    * shuffle writes land in nested `blockmgr-<uuid>/NN` dirs and leave the
    * top-level mtime untouched, so a live run older than the threshold
    * must not lose its scratch. The walk stops at the first fresh entry.
    */
  private[graft] def sweepStale(root: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis() - StaleScratchMs
    def fresh(f: java.io.File): Boolean =
      f.lastModified() >= cutoff || Option(f.listFiles()).exists(_.exists(fresh))
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (!fresh(f)) LocalFs.deleteRecursively(f)
    }
  }

  /** Apply [[scratchLocalDir]] to a session builder (no-op when the master
    * is not local or the environment already configures scratch dirs).
    */
  private def withScratchLocalDir(b: SparkSession.Builder, master: String): SparkSession.Builder =
    scratchLocalDir(master).fold(b)(d => b.config("spark.local.dir", d))

  /** Thread count for a harness main: `SPARK_GRAFT_CPUS` when set, else
    * the main's own default.
    */
  def envThreads(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** Local-master session on `threads` cores (`getOrCreate`: a second call
    * in the same JVM returns the first session). The engine's optimizer
    * rule is registered here ONCE, before any query: no per-query session
    * mutation, no run-order coupling (s8's own register is an idempotent
    * no-op after this).
    *
    * The two `spark.hadoop.fs.*` entries swap Hadoop's local file systems
    * (`FileSystem` and the FileContext that stream checkpoints and state
    * stores use) for [[InProcessLocalFileSystem]] / [[InProcessLocalFs]].
    * Without libhadoop, the stock ones fork a `chmod` process per created
    * file and a `readlink` process per checkpoint rename — about 1 s of a
    * 3.3 s perfbench `stream_counts` drain. Permissions, `.crc` side files,
    * rename semantics and the checkpoint file manager stay identical. The
    * entries take effect only if they precede the first cached local
    * `FileSystem` in the JVM (Hadoop caches it per scheme and user, not per
    * configuration), so nothing should touch the local `FileSystem` before
    * the first session is built.
    */
  def local(threads: Int = 32, appName: String = "graft"): SparkSession = {
    val master = s"local[$threads]"
    val spark = withScratchLocalDir(SparkSession.builder(), master)
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // JVM-wide compiled-codegen cache (STATIC conf, read once at first
      // codegen): the default 100 entries thrashes under a many-query
      // session — every cache miss is a fresh Janino compile on the task
      // path (measured: x_dbscan -47%, x_mmr_rerank -33% at sf0.1 from
      // this alone). Sized for one long-lived JVM running the full query
      // surface; compiled classes are small, heap cost is negligible.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts encoding drifts between corpus drops (TIMESTAMP(NANOS)
      // nanos-long / TIMESTAMP_MICROS NTZ); nanosAsLong covers the legacy
      // form and Tables.loadEvents normalizes whatever is stored
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl", classOf[InProcessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[InProcessLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TsRangePushdown.register(spark)
    spark
  }
}
