package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One op that passed its gate. */
final case class Op(traced: Boolean, wall: Double, result: OpResult, layer: Map[String, Double])

/** Runs one benchmark workload in this JVM and prints one JSON result line.
  *
  * {{{
  * perfbench.Main --workload sync_delta|stream_counts|query_mix --seed N
  *   --seconds S --trace 0|1 --scratch DIR --data DIR --pins FILE
  *   --report FILE [--commit SHA] [--smoke]
  * perfbench.Main --pin --data DIR      (print the query_mix pins)
  * }}}
  *
  * One closed-loop client runs the workload's op back to back for S
  * seconds after set-up and warm-up. With `--trace 0` the result line
  * carries the end-to-end metrics; with `--trace 1` every other op runs
  * with the layer listener attached and the line carries the per-layer
  * metrics. Either way the full record (environment, calibration, every
  * op, every span) goes to the report file.
  */
object Main {

  /** Per-layer metrics every traced run reports, whatever the workload;
    * a layer the workload does not exercise reads 0.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.task_s" -> "s", "scheduler.cpu_s" -> "s", "scheduler.gc_s" -> "s",
    "scheduler.job_wall_s" -> "s", "scheduler.outside_jobs_s" -> "s",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes", "shuffle.spill_bytes" -> "bytes",
    "sources.input_rows" -> "rows", "sources.input_bytes" -> "bytes",
    "sync.rows_moved" -> "rows", "sync.partitions_moved" -> "count", "sync.ids_reconciled" -> "rows",
    "sinks.rows_written" -> "rows", "sinks.bytes_written" -> "bytes",
    "sinks.files_written" -> "count", "sinks.files_kept" -> "count", "sinks.write_amplification" -> "ratio",
    "sync.partition_sync_s" -> "s", "sync.reconcile_s" -> "s", "sync.verify_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "state.rows_total" -> "rows", "state.rows_updated" -> "rows",
    "state.partitions" -> "count", "state.commit_ms" -> "ms", "state.memory_bytes" -> "bytes") ++
    QueryMix.Names.map(n => s"query.${n}_s" -> "s") ++
    LayerListener.Attributions.map(m => s"$m.job_s" -> "s") ++
    Seq("agg", "scan", "join", "raw_rdd").flatMap(p =>
      Seq(s"calib.${p}_job_ms_start" -> "ms", s"calib.${p}_job_ms_end" -> "ms")) :+
    ("trace.overhead_frac" -> "ratio")

  val EndToEndMetrics: Seq[(String, String)] = Seq(
    "op_s" -> "s", "step_geomean_ms" -> "ms", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  /** How a workload is set up: fixture builds (their median is taken) and
    * untimed warm-up ops.
    */
  final case class Plan(fixtureBuilds: Int, warmupOps: Int)

  val Plans: Map[String, Plan] = Map(
    "sync_delta" -> Plan(fixtureBuilds = 3, warmupOps = 2),
    "stream_counts" -> Plan(fixtureBuilds = 3, warmupOps = 2),
    "query_mix" -> Plan(fixtureBuilds = 1, warmupOps = 3))

  def main(args: Array[String]): Unit = {
    // `--key value` pairs; a `--flag` followed by another option has no value
    val opts = args.indices.collect {
      case i if args(i).startsWith("--") =>
        args(i).drop(2) -> args.lift(i + 1).filterNot(_.startsWith("--")).getOrElse("1")
    }.toMap
    val code =
      try if (opts.contains("pin")) { pin(opts("data")); 0 } else run(opts)
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def session(): SparkSession =
    graft.GraftSession.local(Runtime.getRuntime.availableProcessors, "perfbench")

  private def pin(data: String): Unit = {
    val spark = session()
    val queries = graft.SparkEntry.queries
    QueryMix.Names.foreach { n =>
      val (rows, hash) = QueryMix.contentHash(queries(n)(spark, data))
      println(s"$n\t$rows\t$hash")
    }
    spark.stop()
  }

  private def readPins(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.split('\t')).collect { case Array(n, r, h) => n -> (r.toLong, h) }.toMap
    finally src.close()
  }

  private def run(opts: Map[String, String]): Int = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val smoke = opts.contains("smoke")
    val scratch = opts("scratch")
    val plan = if (smoke) Plan(1, 0) else Plans(workload)
    val sizes = if (smoke) Sizes.smoke else Sizes.full
    val calibReps = if (smoke) 2 else 3

    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = Stats.secondsSince(t0)
    val sc = spark.sparkContext
    val tr = new Tracer(sc)
    val listener = new LayerListener
    val calibStart = tr.span("calib.start")(Calib.probe(spark, calibReps))

    val w: Workload = workload match {
      case "sync_delta" => new SyncDelta(spark, s"$scratch/sync", opts("data"), seed, sizes.syncTiles)
      case "stream_counts" =>
        new StreamCounts(spark, s"$scratch/stream", opts("data"), seed, sizes.streamTiles, sizes.streamFiles)
      case "query_mix" => new QueryMix(spark, opts("data"), seed, readPins(opts("pins")))
    }

    val fixtureS = (1 to plan.fixtureBuilds).map { _ =>
      val t = System.nanoTime()
      tr.span("setup.fixture")(w.buildFixture())
      Stats.secondsSince(t)
    }

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val ops = mutable.ArrayBuffer.empty[Op]

    def gate(check: => Option[String]): Boolean = {
      attempted += 1
      Try(check) match {
        case Success(None) => true
        case Success(Some(msg)) => failures += msg; false
        case Failure(e) => failures += e.toString; false
      }
    }

    def runOp(traced: Boolean): Option[Op] = {
      w.prepare()
      if (traced) sc.addSparkListener(listener)
      tr.linked = traced
      val t = System.nanoTime()
      val res = Try(tr.span("op")(w.run(tr, traced)))
      val wall = Stats.secondsSince(t)
      tr.linked = false
      val layer =
        if (!traced) Map.empty[String, Double]
        else {
          LayerListener.drain(sc)
          sc.removeSparkListener(listener)
          val opSpan = tr.spans.findLast(_.name == "op").get
          res.toOption.fold(Map.empty[String, Double])(opLayer(tr, listener, opSpan, _))
        }
      val ok = gate(res match {
        case Failure(e) => Some(s"$workload: ${e.toString}")
        case Success(r) => w.check(r)
      })
      if (ok) Some(Op(traced, wall, res.get, layer)) else None
    }

    val tw = System.nanoTime()
    (1 to plan.warmupOps).foreach(_ => tr.span("setup.warmup")(runOp(traced = false)))
    val warmupS = Stats.secondsSince(tw)
    val setupS = sessionS + Stats.median(fixtureS) + warmupS

    tr.span("check.run")(gate(w.checkRun()))

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    val minOps = if (smoke && !trace) 1 else 2
    while (i < minOps || (!smoke && System.nanoTime() < deadline)) {
      runOp(traced = trace && i % 2 == 0).foreach(ops += _)
      i += 1
    }

    val calibEnd = tr.span("calib.end")(Calib.probe(spark, calibReps))
    val peakRssMb = vmHwmMb()

    // ---- end-to-end: untraced ops only
    val plain = ops.filterNot(_.traced).toSeq
    val stepMedians = plain.flatMap(_.result.steps).filterNot(_._1 == "streaming.drain")
      .groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    val endToEnd = Map(
      "op_s" -> Stats.median(plain.map(_.wall)),
      "step_geomean_ms" -> Stats.geomean(stepMedians.values) * 1e3,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb)

    // ---- per layer: traced ops
    val traced = ops.filter(_.traced).toSeq
    def layerMean(k: String): Double = if (traced.isEmpty) 0.0 else Stats.mean(traced.map(_.layer.getOrElse(k, 0.0)))
    val calib = (calibStart.map { case (k, v) => s"calib.${k}_start" -> v } ++
      calibEnd.map { case (k, v) => s"calib.${k}_end" -> v }).toMap
    val overhead =
      if (traced.isEmpty || plain.isEmpty) 0.0
      else Stats.median(traced.map(_.wall)) / Stats.median(plain.map(_.wall)) - 1
    val layerKeys = traced.flatMap(_.layer.keys).distinct.sorted
    val allLayer = layerKeys.map(k => k -> layerMean(k)).toMap ++ calib + ("trace.overhead_frac" -> overhead)
    val perLayer = LayerMetrics.map { case (k, _) => k -> allLayer.getOrElse(k, 0.0) }.toMap

    val failed = failures.size
    val correct = failed == 0 && ops.nonEmpty
    val emitted = if (trace) LayerMetrics.map { case (k, u) => (k, u, perLayer(k)) }
      else EndToEndMetrics.map { case (k, u) => (k, u, endToEnd(k)) }
    val line = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(emitted.map { case (k, u, v) =>
        k -> mutable.LinkedHashMap("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u) }: _*))

    val conf = sc.getConf
    val env = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> sc.master,
      "spark.local.dir" -> conf.getOption("spark.local.dir").getOrElse("(spark default)"),
      "heap_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
        .map(_.toString).filter(a => a.startsWith("-Xmx") || a.startsWith("-Xms")).mkString(" "),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "commit" -> opts.getOrElse("commit", "unknown"))
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace, "smoke" -> smoke,
      "env" -> env, "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq,
      "setup" -> mutable.LinkedHashMap("session_s" -> sessionS, "fixture_s" -> fixtureS, "warmup_s" -> warmupS),
      "end_to_end" -> endToEnd,
      "workload_metrics" -> workloadMetrics(workload, plain, stepMedians, failed, attempted),
      "step_medians_s" -> stepMedians,
      "per_layer" -> perLayer,
      "layer_all" -> allLayer,
      "ops" -> ops.map(o => mutable.LinkedHashMap("traced" -> o.traced, "wall_s" -> o.wall,
        "steps" -> o.result.steps.toMap, "counts" -> o.result.counts)),
      "spans" -> tr.spans.map(s => mutable.LinkedHashMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds, "self_s" -> tr.selfSeconds(s))))
    opts.get("report").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p), Json.render(report).getBytes("UTF-8"))
    }
    failures.take(5).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    spark.stop()
    println(Json.render(line))
    System.out.flush()
    0
  }

  /** The workload's own names for its end-to-end numbers (report file). */
  private def workloadMetrics(workload: String, plain: Seq[Op],
      stepMedians: Map[String, Double], failed: Int, attempted: Int): Map[String, Double] = {
    val opS = Stats.median(plain.map(_.wall))
    val named = workload match {
      case "sync_delta" => Map("sync_cycle_s" -> opS)
      case "stream_counts" => Map("stream_drain_s" -> opS,
        "stream_batch_ms" -> Stats.median(plain.flatMap(_.result.steps).collect {
          case (k, v) if k.startsWith("batch.") => v * 1e3 }))
      case _ => Map("query_pass_s" -> opS, "query_geomean_s" -> Stats.geomean(stepMedians.values))
    }
    named ++ stepMedians.map { case (k, v) => s"${k}_s" -> v } +
      ("ops_failed_frac" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted))
  }

  /** Per-layer numbers of one traced op: scheduler counters of its span
    * tree, job time by submitting module, op time with and without a job
    * running, per-phase counters, the op's step times and the workload's
    * own counts.
    */
  private def opLayer(tr: Tracer, listener: LayerListener, op: Span, r: OpResult): Map[String, Double] = {
    val ids = tr.subtree(op).map(_.id).toSet
    val counters = listener.countersFor(ids)
    val jobs = listener.jobsFor(ids).filter(_.endMs >= 0)
    val jobWallS = Tracer.covered(jobs.map(j => (j.startMs, j.endMs))) / 1e3
    val byModule = LayerListener.Attributions.map { m =>
      s"$m.job_s" -> jobs.filter(_.module == m).map(j => (j.endMs - j.startMs) / 1e3).sum
    }
    val phases = tr.children(op).groupBy(_.name).toSeq.flatMap { case (name, spans) =>
      val c = listener.countersFor(spans.flatMap(tr.subtree).map(_.id).toSet)
      c.metrics.map { case (k, v) => s"phase.$name.$k" -> v }
    }
    val steps = r.steps.collect { case (k, v) if !k.startsWith("batch.") => s"${k}_s" -> v }
    val base = counters.metrics.toMap ++ byModule ++ phases ++ steps ++ r.counts ++ r.layer ++ Map(
      "scheduler.job_wall_s" -> jobWallS,
      "scheduler.outside_jobs_s" -> (op.seconds - jobWallS))
    // rows the op had to change in the index: the sync delta, or the
    // state rows the stream emitted in update mode
    val useful = r.counts.getOrElse("sync.rows_moved", 0.0) + r.counts.getOrElse("sync.ids_reconciled", 0.0) +
      r.counts.getOrElse("state.rows_updated", 0.0)
    base + ("sinks.write_amplification" -> (if (useful > 0) base("sinks.rows_written") / useful else 0.0))
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}
