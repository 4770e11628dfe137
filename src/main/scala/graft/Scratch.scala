package graft

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Local best-of-3 timing for named queries — the re-measure discipline
  * NOTES.md mandates before optimizing anything (driver BENCH absolutes
  * can be 2× local best-of-3 under co-tenant load) — plus, so "where do
  * the seconds go" is answered with numbers instead of guesses, the last
  * timed run's jobs, stages, tasks and task/CPU/GC seconds as tallied by a
  * SparkListener (optimization guide §1). `--stages` also prints that
  * run's per-stage wall and task time. Usage:
  *   sbt "runMain graft.Scratch 0.1 x_token_fertility x_minhash_lsh [--stages]"
  */
object Scratch {

  /** Scheduler counters of the jobs run since the last [[reset]]. */
  private final class Counters extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0)
    val cpuMs = new AtomicLong(0)
    val gcMs = new AtomicLong(0)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()

    def reset(): Unit = {
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(taskMs, cpuMs, gcMs).foreach(_.set(0))
      stageRows.clear()
      stageTaskMs.clear()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val si = sc.stageInfo
      val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
      val tms = Option(stageTaskMs.get(si.stageId)).map(_.get).getOrElse(0L)
      stageRows.add(f"    stage ${si.stageId}%4d wall=${wall}%5d ms taskMs=${tms}%7d tasks=${si.numTasks}%3d  ${si.name.take(60)}")
      ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) {
        taskMs.addAndGet(t.taskInfo.duration)
        stageTaskMs.computeIfAbsent(t.stageId, _ => new AtomicLong(0)).addAndGet(t.taskInfo.duration)
      }
      if (t.taskMetrics != null) {
        gcMs.addAndGet(t.taskMetrics.jvmGCTime)
        cpuMs.addAndGet(t.taskMetrics.executorCpuTime / 1000000L)
      }
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val sf = rest.headOption.getOrElse("0.1")
    val names = if (rest.length > 1) rest.drop(1).toSeq else Bench.headline
    // an absolute path selects a synthesized corpus (e.g. MakeScale's sf1)
    val sfDir = if (sf.startsWith("/")) sf else s"/root/testdata/sf$sf"
    val spark = GraftSession.local(32, "Scratch")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    // listener events arrive asynchronously: let the previous run's settle
    // before the counters are reset, and the counted run's before they are read
    def settle(): Unit = Thread.sleep(300)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Either[Throwable, Double] = CacheScope.timed(spark)(fn(spark, sfDir).count())
      // warmup (JIT/codegen), then three timed runs — report each + min,
      // and the counters of the last
      run()
      val times = (Seq.fill(2)(run()) :+ { settle(); counters.reset(); run() }).map(_.fold(
        e => { println(s"$name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}"); -1.0 },
        identity))
      settle()
      import counters._
      println(f"SCRATCH $name%-28s runs=${times.map(t => f"$t%.2f").mkString(",")} min=${times.min}%.2f" +
        f" jobs=${jobs.get}%d stages=${stages.get}%d tasks=${tasks.get}%d" +
        f" taskTime=${taskMs.get / 1000.0}%.1f cpu=${cpuMs.get / 1000.0}%.1f gc=${gcMs.get / 1000.0}%.1f")
      if (flags.contains("--stages")) stageRows.forEach(r => println(r))
    }
    spark.stop()
  }
}
