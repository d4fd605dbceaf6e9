package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One span around a public call into the engine: wall-clock bounds in ms
  * (comparable with Spark listener event times) and in ns (for durations).
  */
final case class Span(id: Int, parent: Int, name: String,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept for the whole run and written
  * out once at the end; with `enabled` off only the timing is returned and
  * nothing is kept, so the untraced passes pay no recording cost.
  */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Optimizer rule metering of the top-level spans while `enabled`. */
  var rules = new RuleMeter
  private var stack = List(0)
  private var nextId = 1

  /** Run `body`, returning its result and its wall seconds. */
  def span[A](name: String)(body: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    val metered = enabled && parent == 0
    if (metered) rules.open()
    stack = id :: stack
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (enabled)
        spans += Span(id, parent, name, ms0, System.currentTimeMillis(), t0, t1)
      if (metered) rules.close()
    }
  }
}

/** Time and runs of the engine's own optimizer rules (`graft.*`), summed
  * over spans. Catalyst's rule metering is process-wide, so it is reset
  * when a span opens and read when it closes: planning done between spans
  * (output checks) never counts. Dump rows read
  * `name effectiveNs / totalNs effectiveRuns / runs`.
  */
final class RuleMeter {
  var ns = 0L
  var effectiveRuns = 0L
  var runs = 0L

  def open(): Unit = RuleExecutor.resetMetrics()

  def close(): Unit =
    RuleExecutor.dumpTimeSpent().split("\n").map(_.trim).filter(_.startsWith("graft."))
      .map(_.split("\\s+")).filter(_.length >= 7).foreach { f =>
        ns += f(3).toLong
        effectiveRuns += f(4).toLong
        runs += f(6).toLong
      }
}

/** Spark job interval as the listener bus reports it. */
final case class JobSpan(id: Int, group: String, startMs: Long, endMs: Long)

/** One finished task: launch time plus the metrics the layers report. */
final case class TaskRec(launchMs: Long, failed: Boolean, runS: Double,
    cpuS: Double, gcS: Double, schedDelayS: Double, shuffleRead: Long,
    shuffleWrite: Long, spill: Long)

/** Planner phase times of one query execution, stamped with its start. */
final case class PlanRec(startMs: Long, analysisS: Double, optimizeS: Double,
    planningS: Double)

/** The benchmark's own scheduler and planner listener, attached only for a
  * traced pass. It keeps raw time-stamped records; the pass keeps those that
  * started inside a timed span, so untimed output checks never count.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
  val jobs = new ConcurrentLinkedQueue[JobSpan]
  val stageStarts = new ConcurrentLinkedQueue[Long]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val plans = new ConcurrentLinkedQueue[PlanRec]
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var stored = 0L
  @volatile var storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStarts.put(e.jobId, (group, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (g, t0) =>
      jobs.add(JobSpan(e.jobId, g, t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageStarts.add(e.stageInfo.submissionTime.getOrElse(0L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      tasks.add(TaskRec(info.launchTime, e.reason != org.apache.spark.Success,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        sched / 1e3, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        stored += size - blocks.getOrElse(b, 0L)
        if (size == 0) blocks.remove(b) else blocks(b) = size
        storagePeak = math.max(storagePeak, stored)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def s(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    plans.add(PlanRec(start, s("analysis"), s("optimization"), s("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def jobList: Seq[JobSpan] = jobs.asScala.toSeq.sortBy(_.startMs)
}

object LayerListener {

  /** Length in ms of the union of `[start, end]` intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
