package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call into a layer, with the span that caused it. Times are
  * epoch milliseconds with sub-millisecond precision, the same clock the
  * Spark listener stamps jobs with.
  */
final case class Span(id: Int, parent: Option[Int], layer: String, name: String,
    startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** Counters of one Spark job, summed over its tasks. */
final case class JobStats(id: Int, span: Option[Int], submitMs: Double, endMs: Double,
    tasks: Long = 0, taskMs: Long = 0, gcMs: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, inputRecords: Long = 0,
    inputBytes: Long = 0, outputRecords: Long = 0, outputBytes: Long = 0) {
  def +(o: JobStats): JobStats = copy(tasks = tasks + o.tasks, taskMs = taskMs + o.taskMs,
    gcMs = gcMs + o.gcMs, shuffleReadBytes = shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes = spillBytes + o.spillBytes, inputRecords = inputRecords + o.inputRecords,
    inputBytes = inputBytes + o.inputBytes, outputRecords = outputRecords + o.outputRecords,
    outputBytes = outputBytes + o.outputBytes)
}

/** The spans of one traced run, kept in memory. Each thread nests its own
  * spans; a span opened on a thread with none open (a worker thread of a
  * call) gets as parent the innermost span open on the thread that opened
  * the first span.
  */
final class Trace {
  private val clockOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + clockOffsetMs

  private final case class Open(id: Int, parent: Option[Int], layer: String, name: String,
      start: Double)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Thread, List[Open]].withDefaultValue(Nil)
  private var main: Option[Thread] = None
  private var nextId = 0

  def spans: Seq[Span] = synchronized(done.toSeq.sortBy(_.id))

  def begin(layer: String, name: String): Int = synchronized {
    val t = Thread.currentThread()
    if (main.isEmpty) main = Some(t)
    val parent = open(t).headOption.orElse(main.flatMap(open(_).headOption)).map(_.id)
    nextId += 1
    open(t) = Open(nextId, parent, layer, name, nowMs) :: open(t)
    nextId
  }

  def end(id: Int): Unit = synchronized {
    val t = Thread.currentThread()
    val top = open(t).head
    require(top.id == id, s"span $id closed while span ${top.id} is open")
    open(t) = open(t).tail
    done += Span(id, top.parent, top.layer, top.name, top.start, nowMs)
  }

  /** Attribute jobs to spans once; the accessors below read the result. */
  def analyze(jobs: Seq[JobStats]): TraceView = new TraceView(spans, jobs)
}

/** Spans and jobs of one traced run with the arithmetic over them: self
  * time, job attribution and driver time.
  */
final class TraceView(val spans: Seq[Span], val jobs: Seq[JobStats]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val kids = spans.groupBy(_.parent).withDefaultValue(Nil)
  private def depth(s: Span): Int = s.parent.flatMap(byId.get).map(depth(_) + 1).getOrElse(0)

  /** The span that owns a job: the one the submitting thread named, else
    * the innermost span whose interval holds the job's submission.
    */
  val owner: Map[Int, Span] = jobs.flatMap { j =>
    j.span.flatMap(byId.get).orElse(
      spans.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
        .sortBy(s => -depth(s)).headOption).map(j.id -> _)
  }.toMap
  private val ownJobs = jobs.filter(j => owner.contains(j.id)).groupBy(j => owner(j.id).id)
    .withDefaultValue(Nil)

  def children(s: Span): Seq[Span] = kids(Some(s.id))
  def roots: Seq[Span] = kids(None)

  /** Wall minus the part of the span's interval its children cover. */
  def selfMs(s: Span): Double =
    s.wallMs - Trace.unionMs(children(s).map(c => (c.startMs, c.endMs)))

  /** Jobs owned by the span or any span below it. */
  def jobsUnder(s: Span): Seq[JobStats] = ownJobs(s.id) ++ children(s).flatMap(jobsUnder)

  def total(s: Span): JobStats =
    jobsUnder(s).foldLeft(JobStats(0, None, 0, 0))(_ + _)

  /** Wall minus the union of the span's job intervals, clipped to it. */
  def driverMs(s: Span): Double =
    s.wallMs - Trace.unionMs(jobsUnder(s).map(j =>
      (math.max(j.submitMs, s.startMs), math.min(j.endMs, s.endMs))))

  /** Every span with its self and driver time and own jobs, then every job. */
  def toJson: String = {
    def str(x: String) = "\"" + x.replace("\"", "'") + "\""
    def num(x: Double) = if (x.isNaN) "null" else f"$x%.3f"
    val ss = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent.getOrElse("null")}, "layer": ${str(s.layer)}, """ +
        s""""name": ${str(s.name)}, "start_ms": ${num(s.startMs)}, "wall_ms": ${num(s.wallMs)}, """ +
        s""""self_ms": ${num(selfMs(s))}, "driver_ms": ${num(driverMs(s))}, """ +
        s""""jobs": ${ownJobs(s.id).map(_.id).mkString("[", ", ", "]")}}"""
    }
    val js = jobs.map { j =>
      s"""{"id": ${j.id}, "span": ${owner.get(j.id).map(_.id).getOrElse("null")}, """ +
        s""""submit_ms": ${num(j.submitMs)}, "end_ms": ${num(j.endMs)}, "tasks": ${j.tasks}, """ +
        s""""task_ms": ${j.taskMs}, "gc_ms": ${j.gcMs}, "shuffle_read_bytes": ${j.shuffleReadBytes}, """ +
        s""""shuffle_write_bytes": ${j.shuffleWriteBytes}, "spill_bytes": ${j.spillBytes}, """ +
        s""""input_records": ${j.inputRecords}, "input_bytes": ${j.inputBytes}, """ +
        s""""output_records": ${j.outputRecords}, "output_bytes": ${j.outputBytes}}"""
    }
    ss.mkString("{\"spans\": [\n", ",\n", "],\n") + js.mkString("\"jobs\": [\n", ",\n", "]}\n")
  }
}

object Trace {
  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curStart.isNaN || s > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  val SpanProperty = "graftbench.span"
}

/** Runs a body inside a span when tracing, or just runs it. The submitting
  * thread carries the span id as a Spark local property, so the listener
  * can name each job's span.
  */
final class Tracer(val trace: Option[Trace], sc: SparkContext) {
  def apply[T](layer: String, name: String)(body: => T): T = trace match {
    case None => body
    case Some(t) =>
      val saved = sc.getLocalProperty(Trace.SpanProperty)
      val id = t.begin(layer, name)
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      try body
      finally {
        t.end(id)
        sc.setLocalProperty(Trace.SpanProperty, saved)
      }
  }
}

/** Bench-owned listener: per job, its span, interval and task counters. */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var flushed = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .flatMap(_.toIntOption)
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == JobListener.Flush))
      flushed = true
    else {
      jobs.put(e.jobId, JobStats(e.jobId, span, e.time.toDouble, Double.NaN))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time.toDouble))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageJob.get(e.stageId)).foreach { jobId =>
      val add = JobStats(jobId, None, 0, 0, tasks = 1, taskMs = m.executorRunTime,
        gcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRecords = m.inputMetrics.recordsRead, inputBytes = m.inputMetrics.bytesRead,
        outputRecords = m.outputMetrics.recordsWritten, outputBytes = m.outputMetrics.bytesWritten)
      jobs.computeIfPresent(jobId, (_, j) => j + add)
    }
  }

  /** Every job the listener has seen, once the bus has delivered all events
    * posted before this call: a marker job is submitted and awaited, and the
    * bus delivers in order.
    */
  def drained(sc: SparkContext): Seq[JobStats] = {
    flushed = false
    sc.setJobGroup(JobListener.Flush, "graftbench listener flush")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!flushed && System.nanoTime() < deadline) Thread.sleep(5)
    require(flushed, "listener bus did not drain within 30 s")
    jobs.values.asScala.toSeq.sortBy(_.id)
  }
}

object JobListener {
  val Flush = "graftbench-flush"
}
