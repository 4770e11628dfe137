package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call into a layer of the program. `parent` is the span that
  * was open when this one started (-1 at the top).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from the benchmark's own code around its calls into the
  * program, kept in memory and written out when the run ends.
  *
  * While `linked` is set, the open span's id is also put on the Spark
  * context as a local property, so every job, stage and task the span
  * causes can be attributed to it by [[LayerListener]]. Stream execution
  * threads inherit the property from the thread that starts the query.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  var linked = false

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    if (linked) sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (linked) sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  /** [[span]], also returning the span's duration in seconds. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val a = span(name)(body)
    (a, spans.findLast(_.name == name).get.seconds)
  }

  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)

  /** Every span below `s`, `s` included. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - Tracer.covered(children(s).map(c => (c.startNs, c.endNs))) / 1e9
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of the union of half-open intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Scheduler counters for one span. Times in ms except cpuNs. */
final class LayerCounters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputRows, inputBytes, outputRows, outputBytes = 0L

  def +=(o: LayerCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputRows += o.inputRows; inputBytes += o.inputBytes
    outputRows += o.outputRows; outputBytes += o.outputBytes
  }

  def metrics: Seq[(String, Double)] = Seq(
    "scheduler.jobs" -> jobs.toDouble,
    "scheduler.stages" -> stages.toDouble,
    "scheduler.tasks" -> tasks.toDouble,
    "scheduler.task_s" -> taskMs / 1e3,
    "scheduler.cpu_s" -> cpuNs / 1e9,
    "scheduler.gc_s" -> gcMs / 1e3,
    "shuffle.write_bytes" -> shuffleWrite.toDouble,
    "shuffle.read_bytes" -> shuffleRead.toDouble,
    "shuffle.spill_bytes" -> spill.toDouble,
    "sources.input_rows" -> inputRows.toDouble,
    "sources.input_bytes" -> inputBytes.toDouble,
    "sinks.rows_written" -> outputRows.toDouble,
    "sinks.bytes_written" -> outputBytes.toDouble)
}

/** A Spark job seen by [[LayerListener]]: the span open when it started
  * and the program module whose code submitted it.
  */
final case class JobRecord(span: Int, module: String, startMs: Long) {
  var endMs: Long = -1L
}

/** Counts jobs, stages, tasks and their task metrics per span (the span
  * id rides on the job's local properties), and keeps each job's interval
  * and the program module whose code submitted it.
  */
final class LayerListener extends SparkListener {
  private val counters = mutable.Map.empty[Int, LayerCounters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobRecords = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val execModules = mutable.Map.empty[Long, String]

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).fold(-1)(_.toInt)

  private def at(span: Int): LayerCounters = counters.getOrElseUpdate(span, new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    // the job's result stage is the newest one; its details carry the
    // call site of the action. Jobs that adaptive execution submits from
    // Spark's own threads have no program frame there, so they take the
    // call site of the SQL execution they belong to.
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val module = LayerListener.moduleOf(e.stageInfos.sortBy(-_.stageId).headOption.fold("")(_.details))
      .orElse(exec.flatMap(id => execModules.get(id.toLong)))
      .getOrElse("bench")
    jobRecords(e.jobId) = JobRecord(span, module, e.time)
    at(span).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      LayerListener.moduleOf(x.details).foreach(execModules(x.executionId) = _)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecords.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = span
    at(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputRows += m.outputMetrics.recordsWritten
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counters summed over `spans`. */
  def countersFor(spans: Set[Int]): LayerCounters = synchronized {
    val sum = new LayerCounters
    counters.foreach { case (id, c) => if (spans(id)) sum += c }
    sum
  }

  def jobsFor(spans: Set[Int]): Seq[JobRecord] = synchronized {
    jobRecords.values.filter(j => spans(j.span)).toSeq
  }
}

object LayerListener {
  /** Program modules job time is attributed to: `graft.<module>.*`. */
  val Modules: Seq[String] = Seq("sinks", "ops", "sync", "streaming", "ext", "sources", "functions", "plans")

  /** Everything job time is attributed to: the modules, the rest of the
    * program ("graft") and the benchmark's own actions ("bench").
    */
  val Attributions: Seq[String] = Modules ++ Seq("graft", "bench")

  /** The module of the first program frame in a long call site:
    * `graft.sinks.EsBulkSink$.upsertById(EsBulkSink.scala:71)` gives
    * "sinks" and a top-level `graft.X` class gives "graft". Without a
    * program frame the job came from the benchmark's own code ("bench").
    */
  def moduleOf(longCallSite: String): Option[String] =
    longCallSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { frame =>
      val part = frame.split('.')(1)
      if (Modules.contains(part)) part else "graft"
    }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
}
