package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for everything the benchmark records: epoch nanoseconds,
  * derived from the monotonic clock so short spans keep their precision
  * while Spark's epoch-millisecond job times stay comparable. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now: Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Long, end: Long)

/** Spans kept in memory and written out when the run ends. A span's
  * parent is the span open on the calling thread when it started. */
final class Recorder {
  private val spans = ArrayBuffer[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def apply[A](name: String, layer: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.get().headOption.getOrElse(0)
    open.set(id :: open.get())
    val start = Clock.now
    try f
    finally {
      val end = Clock.now
      open.set(open.get().tail)
      spans.synchronized { spans += Span(id, parent, name, layer, start, end) }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Per-stage task totals; times as Spark reports them (ms, cpu in ns). */
final class StageTotals(val id: Int) {
  var submitted = 0L; var completed = 0L; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var spillBytes = 0L
  var inBytes = 0L; var inRecords = 0L; var shWrite = 0L; var shRead = 0L
  val durations = ArrayBuffer[Long]()
}

/** Records every job and stage while attached; the benchmark attaches it
  * for traced passes only, so its cost is the tracing overhead. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer[(Int, Long, Long)]() // id, start ns, end ns
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  val stages = scala.collection.mutable.LinkedHashMap[Int, StageTotals]()

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageTotals(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = Clock.fromEpochMs(e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, Clock.fromEpochMs(e.time))))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitted = e.stageInfo.submissionTime.map(Clock.fromEpochMs).getOrElse(0L)
    s.completed = e.stageInfo.completionTime.map(Clock.fromEpochMs).getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
    }
  }

  def jobCount: Int = synchronized(jobs.size)
}

/** Keeps every StreamingQueryProgress as its JSON. */
final class ProgressListener extends StreamingQueryListener {
  val progress = ArrayBuffer[(Long, String)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += ((Clock.now, e.progress.json.replace('\n', ' '))) }
  def all: Seq[(Long, String)] = synchronized(progress.toList)
}

/** Output-row counts of an executed plan, reached through adaptive
  * execution's final plan and its query stages. */
object PlanMetrics {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
  def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
}
