package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span at a benchmark call boundary. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest through an explicit stack; the
  * whole list is written out once, when the run ends.
  */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 1
  var op: Int = -1

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val t0 = System.nanoTime()
    stack = (id, name, t0) :: stack
    try body
    finally {
      stack = stack.tail
      done += Span(id, parent, op, name, t0, System.nanoTime())
    }
  }

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).sortBy(_.start)
    var covered = 0L
    var upTo = s.start
    kids.foreach { k =>
      val a = math.max(k.start, upTo)
      if (k.end > a) { covered += k.end - a; upTo = k.end }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** Summed duration of every span with this name. */
  def total(name: String): Double =
    done.iterator.filter(_.name == name).map(_.seconds).sum

  def writeTsv(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.start).map(s =>
      Seq(s.id, s.parent, s.op, s.name, s.start, s.end,
        f"${selfSeconds(s)}%.6f").mkString("\t"))
    java.nio.file.Files.writeString(path,
      ("id\tparent\top\tname\tstart_ns\tend_ns\tself_s" +: lines)
        .mkString("", "\n", "\n"))
  }
}

/** Counters taken from the benchmark's own SparkListener. Every field is a
  * running total; a window is the difference of two snapshots.
  */
final case class SparkCounts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, emptyTasks: Long = 0,
    jobNanos: Long = 0, taskRunMs: Long = 0, taskCpuNs: Long = 0,
    gcMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, input: Long = 0, inputRecords: Long = 0,
    output: Long = 0, peakExecMem: Long = 0, busyNanos: Long = 0) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, emptyTasks - o.emptyTasks,
    jobNanos - o.jobNanos, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, input - o.input,
    inputRecords - o.inputRecords, output - o.output,
    math.max(peakExecMem, o.peakExecMem), busyNanos - o.busyNanos)
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, emptyTasks + o.emptyTasks,
    jobNanos + o.jobNanos, taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
    gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, input + o.input,
    inputRecords + o.inputRecords, output + o.output,
    math.max(peakExecMem, o.peakExecMem), busyNanos + o.busyNanos)
}

/** SparkListener + QueryExecutionListener + StreamingQueryListener, all
  * registered by the benchmark. Nothing inside the engine is touched.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private var c = SparkCounts()
  // jobs running now, for the time during which at least one job runs
  private var running = 0
  private var busySince = 0L
  private val jobStartNs = mutable.Map.empty[Int, Long]
  // per stage: task durations, for the skew ratio
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var worstSkew = 0.0
  /** module of the first `graft.` frame in each job's call site */
  val jobsByModule: mutable.Map[String, Long] =
    mutable.Map.empty[String, Long].withDefaultValue(0L)
  var attributeJobs = false
  private val execModule = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execModule(s.executionId) = Tracer.moduleOf(s.details) }
    case _ => ()
  }

  def snapshot: SparkCounts = synchronized {
    val now = System.nanoTime()
    if (running > 0) c.copy(busyNanos = c.busyNanos + (now - busySince))
    else c
  }

  /** Worst stage's max ÷ median task time seen since the last reset. */
  def takeSkew(): Double = synchronized {
    val s = worstSkew; worstSkew = 0.0; s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val now = System.nanoTime()
    if (running == 0) busySince = now
    running += 1
    jobStartNs(e.jobId) = now
    c = c.copy(jobs = c.jobs + 1)
    if (attributeJobs) {
      // AQE submits stages from its own threads, so a job's call site is
      // that of the SQL execution it belongs to, taken on the caller's thread
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execModule.get(id.toLong))
      val m = exec.getOrElse(Tracer.moduleOf(
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")))
      jobsByModule(m) += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val now = System.nanoTime()
    jobStartNs.remove(e.jobId).foreach(t =>
      c = c.copy(jobNanos = c.jobNanos + (now - t)))
    running = math.max(0, running - 1)
    if (running == 0) c = c.copy(busyNanos = c.busyNanos + (now - busySince))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      c = c.copy(stages = c.stages + 1)
      stageTaskMs.remove(e.stageInfo.stageId).foreach { ds =>
        if (ds.size >= 2) {
          val sorted = ds.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          worstSkew = math.max(worstSkew, sorted.last.toDouble / med)
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val records = m.inputMetrics.recordsRead +
        m.shuffleReadMetrics.recordsRead
      c = c.copy(
        tasks = c.tasks + 1,
        emptyTasks = c.emptyTasks + (if (records == 0) 1 else 0),
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        input = c.input + m.inputMetrics.bytesRead,
        inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
        output = c.output + m.outputMetrics.bytesWritten,
        peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Planning phases of executed queries, in completion order. */
  final case class Phases(funcName: String, analysis: Double,
      optimization: Double, planning: Double, seconds: Double)
  private val phases = mutable.ArrayBuffer.empty[Phases]
  def takePhases(): Seq[Phases] = phases.synchronized {
    val out = phases.toSeq; phases.clear(); out
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(f: String, qe: QueryExecution, ns: Long): Unit = {
      val p = qe.tracker.phases
      def s(k: String) = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      phases.synchronized {
        phases += Phases(f, s("analysis"), s("optimization"), s("planning"),
          ns / 1e9)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(f, qe, ns)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(f, qe, 0L)
  }

  /** Streaming progress durations, summed over every micro-batch. */
  val streamMs: mutable.Map[String, Long] =
    mutable.Map.empty[String, Long].withDefaultValue(0L)
  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamMs.synchronized {
        // progress with no input rows is the idle check after the pass
        if (e.progress.numInputRows > 0) {
          streamMs("batches") += 1
          e.progress.durationMs.forEach((k, v) => streamMs(k) += v.longValue)
        }
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamingListener)
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

object Tracer {
  /** `graft.<module>.` of the first engine frame in a call site. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim)
      .collectFirst { case l if l.startsWith("graft.") =>
        l.stripPrefix("graft.").takeWhile(_ != '.') }
      .getOrElse("other")
}
