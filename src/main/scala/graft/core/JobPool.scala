package graft.core

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeoutException}
import java.util.concurrent.TimeUnit.{MILLISECONDS, NANOSECONDS}

import scala.collection.mutable
import scala.concurrent.duration.Deadline

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The pipeline's one scheduler (the dbt `threads` analogue, reference
  * profiles.yml:10): `Ingestor.ingestAll` runs its entities and
  * `ModelGraph.run` its models through [[run]], retries a failed one
  * through [[retry]], and both stop at the step deadline of [[Limits]].
  */
object JobPool {
  /** A failed unit re-runs up to `retries` more times, `sleepMs` apart (reference
    * config.py:58-59); nothing starts after `deadline` (orchestrator.py:35,70,78).
    */
  final case class Limits(retries: Int = 0, sleepMs: Long = 0L,
      deadline: Option[Deadline] = None)

  /** Runs `body` over `units` on up to `slots` driver threads; the results
    * come back in input order. Unit `i` starts once the earlier units
    * `deps(i)` have finished, the earliest ready unit first, and `body`
    * gets their results. Workers run under the caller's job group and
    * description, set explicitly with `interruptOnCancel = true` (a pool
    * thread keeps whatever local properties it inherited when created).
    * At `deadline`, or when a body throws, no further unit starts, the
    * workers are interrupted and the caller's group is cancelled until
    * every worker has ended, then the failure (`TimeoutException` at the
    * deadline) is thrown: nothing of the run outlives the call.
    */
  def run[A, T](spark: SparkSession, units: Seq[A], slots: Int,
      deadline: Option[Deadline] = None)(deps: Int => Seq[Int])(
      body: (A, Seq[T]) => T): Seq[T] = {
    val edges = units.indices.map(deps)
    require(slots >= 1 && edges.indices.forall(i => edges(i).forall(d => 0 <= d && d < i)),
      s"need slots >= 1 and deps on earlier units only, got $slots and $edges")
    val sc = spark.sparkContext
    val Seq(group, desc) = GroupKeys.take(2).map(k => Option(sc.getLocalProperty(k)))
    val width = math.max(1, math.min(slots, units.size))
    val executor = Executors.newFixedThreadPool(width)
    val completions = new ExecutorCompletionService[(Int, T)](executor)
    val results = mutable.Map[Int, T]()
    val waiting = mutable.ArrayBuffer.from(units.indices)
    def timeout = new TimeoutException(s"timed out, ${units.size - results.size} units unfinished")
    try {
      while (results.size < units.size) {
        if (deadline.exists(_.isOverdue())) throw timeout
        // a waiting unit has an earlier unfinished dep, so one is running
        val running = units.size - results.size - waiting.size
        for (i <- waiting.filter(i => edges(i).forall(results.contains)).take(width - running)) {
          waiting -= i
          val upstream = edges(i).map(results)
          completions.submit(() => i -> withJobGroup(sc, group, desc)(body(units(i), upstream)))
        }
        val next = deadline.fold(completions.take())(d =>
          completions.poll(math.max(0L, d.timeLeft.toNanos), NANOSECONDS))
        if (next == null) throw timeout
        val (i, r) = try next.get() catch { case e: ExecutionException => throw e.getCause }
        results(i) = r
      }
      units.indices.map(results)
    } catch { case e: Throwable =>
      executor.shutdownNow()
      // cancel until quiet: a worker may submit a job until it has ended,
      // so the last cancel comes after the last worker ended
      while ({ group.foreach(sc.cancelJobGroup); !executor.awaitTermination(50, MILLISECONDS) }) ()
      group.foreach(sc.cancelJobGroup)
      throw e
    } finally executor.shutdown()
  }

  /** The pipeline's one retry policy: re-runs `attempt` while `ok` fails,
    * as `limits` allow, and returns the last result. It never sleeps past
    * the deadline nor starts an attempt after it: an interrupt alone would
    * not stop an attempt that catches it.
    */
  def retry[T](limits: Limits)(attempt: => T)(ok: T => Boolean): T = {
    def overdue = limits.deadline.exists(_.isOverdue())
    val r = attempt
    if (ok(r) || limits.retries <= 0 || overdue) r
    else {
      // + 1: toMillis rounds down, and a sleep to the deadline must pass it
      Thread.sleep(limits.deadline.fold(limits.sleepMs)(d =>
        math.min(limits.sleepMs, d.timeLeft.toMillis + 1)).max(0L))
      if (overdue) r else retry(limits.copy(retries = limits.retries - 1))(attempt)(ok)
    }
  }

  private val GroupKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Runs `body` under job `group` and `description`, then restores the thread's. */
  private[graft] def withJobGroup[A](sc: SparkContext, group: Option[String],
      description: Option[String])(body: => A): A = {
    val saved = GroupKeys.map(sc.getLocalProperty)
    sc.setJobGroup(group.orNull, description.orNull, interruptOnCancel = true)
    try body finally GroupKeys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
