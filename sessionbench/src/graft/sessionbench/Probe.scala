package graft.sessionbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval. Times are epoch seconds; `query` is the id of the
  * query span the interval belongs to (shared by every span of one query),
  * or "" outside any query. */
final case class Span(id: String, name: String, parent: String, query: String,
    start: Double, end: Double, attrs: Map[String, String])

/** In-memory span recorder. When `on` is false every call is a plain
  * pass-through, so an untraced run pays one branch per layer call. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]
  private var next = 0L
  private var queryId = ""
  /** Nanoseconds spent inside the recorder itself (span bookkeeping). */
  private var selfNs = 0L

  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  /** Epoch seconds at nanosecond resolution, comparable with the
    * millisecond epoch stamps of listener events. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  /** Parent span id for work started now (a Spark job launched by the
    * driver thread is parented to it through a local property). */
  def current: String = if (stack.isEmpty) "" else stack.top

  /** Called with (span id, query id) whenever the current span changes;
    * the harness points it at the Spark local properties jobs inherit. */
  var onChange: (String, String) => Unit = (_, _) => ()

  def span[A](name: String, attrs: (String, String)*)(body: => A): A =
    if (!on) body
    else {
      val b0 = System.nanoTime()
      val id = s"s${next}"; next += 1
      val parent = current
      if (name == "query") queryId = id
      stack.push(id)
      onChange(id, queryId)
      val start = now()
      selfNs += System.nanoTime() - b0
      try body
      finally {
        val b1 = System.nanoTime()
        stack.pop()
        synchronized { spans += Span(id, name, parent, queryId, start, now(), attrs.toMap) }
        if (name == "query") queryId = ""
        onChange(current, queryId)
        selfNs += System.nanoTime() - b1
      }
    }

  /** Record an interval observed elsewhere (listener job/stage events). */
  def add(s: Span): Unit = if (on) synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)
  def selfSeconds: Double = selfNs / 1e9
}

/** Counters a [[Probe]] accumulates; subtraction gives a window's share. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0, gcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, gcMs - o.gcMs)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, runMs + o.runMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, gcMs + o.gcMs)
  def cpuS: Double = cpuNs / 1e9
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "cpu_s" -> cpuS, "run_s" -> runMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "gc_s" -> gcMs / 1e3)
}

/** The benchmark's own Spark listener (the pattern of graft.CpuMeter).
  *
  * It sums task metrics, keeps every job's [start, end] interval so the
  * harness can compute how much of a window had no job running, and
  * remembers which persisted artifact tables each SQL execution scanned.
  * With tracing on it also records job spans, parented to the span that
  * was current on the driver thread when the job was submitted, and stage
  * spans parented to their job. Readers call [[org.apache.spark.graft.ListenerSync]]
  * first so the asynchronous bus has delivered every event. */
final class Probe(tracer: Tracer) extends SparkListener {
  import Probe._

  private var c = Counters()
  private val open = mutable.Map.empty[Int, (Long, String, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val intervals = mutable.ArrayBuffer.empty[(Double, Double)]
  private val scans = mutable.LinkedHashSet.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    def prop(k: String) = Option(e.properties).map((p: Properties) => p.getProperty(k)).orNull
    open(e.jobId) = (e.time, Option(prop(SpanProperty)).getOrElse(""),
      Option(prop(QueryProperty)).getOrElse(""))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, parent, query) =>
      intervals += ((t0 / 1e3, e.time / 1e3))
      tracer.add(Span(s"job${e.jobId}", "spark.job", parent, query, t0 / 1e3,
        e.time / 1e3, Map("job" -> e.jobId.toString)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    val i = e.stageInfo
    for (s <- i.submissionTime; f <- i.completionTime)
      tracer.add(Span(s"stage${i.stageId}.${i.attemptNumber()}", "spark.stage",
        stageJob.get(i.stageId).map(j => s"job$j").getOrElse(""), "", s / 1e3, f / 1e3,
        Map("stage" -> i.stageId.toString, "tasks" -> i.numTasks.toString)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c + Counters(tasks = 1, cpuNs = m.executorCpuTime, runMs = m.executorRunTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled, gcMs = m.jvmGCTime)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(collectScans(s.sparkPlanInfo))
    case _ => ()
  }

  private def collectScans(p: SparkPlanInfo): Unit = {
    p.metadata.get("Location").foreach { loc =>
      ArtifactDir.findAllMatchIn(loc).foreach(m => scans += m.group(1))
    }
    p.children.foreach(collectScans)
  }

  def counters: Counters = synchronized(c)

  /** Seconds of [a, b] during which no Spark job was running. */
  def noJobSeconds(a: Double, b: Double): Double =
    synchronized(uncovered(a, b, intervals.toList))

  /** Artifact tables scanned since the last take. */
  def take(): Seq[String] = synchronized {
    val r = scans.toList
    scans.clear()
    r
  }
}

object Probe {
  val SpanProperty = "sessionbench.span"
  val QueryProperty = "sessionbench.query"
  /** A scan location inside the artifact database's warehouse directory. */
  private val ArtifactDir =
    (java.util.regex.Pattern.quote(graft.sources.Artifacts.Db + ".db/") +
      "([A-Za-z0-9]+_[0-9a-f]{10}_[0-9a-f]{8}_[0-9a-f]{8})").r

  /** Seconds of [a, b] that no interval covers. */
  def uncovered(a: Double, b: Double, iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = a
    iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    math.max(0.0, (b - a) - covered)
  }
}
