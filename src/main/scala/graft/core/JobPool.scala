package graft.core

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** A per-run pool of driver threads that submit Spark jobs concurrently
  * (the dbt `threads` analogue, reference profiles.yml:10).
  *
  * Each task runs under the job group and description of the thread that
  * created the pool. They are set explicitly on the worker, with
  * `interruptOnCancel = true`, not inherited through SparkContext's
  * InheritableThreadLocal (a pool thread keeps whatever it inherited when
  * it was created). So `cancelJobGroup` on the caller's group also cancels
  * the workers' jobs, and listeners attribute them to that group.
  */
final class JobPool[T](spark: SparkSession, threads: Int) {
  private val sc = spark.sparkContext
  private val group = Option(sc.getLocalProperty("spark.jobGroup.id"))
  private val description = Option(sc.getLocalProperty("spark.job.description"))
  private val executor = Executors.newFixedThreadPool(threads)
  private val completions = new ExecutorCompletionService[T](executor)

  def submit(body: => T): Unit = completions.submit(() => {
    group match {
      case Some(g) => sc.setJobGroup(g, description.orNull, interruptOnCancel = true)
      case None => sc.clearJobGroup(); sc.setJobDescription(description.orNull)
    }
    try body finally sc.clearJobGroup()
  })

  /** Waits for the next task to finish; its failure is rethrown here. */
  def next(): T =
    try completions.take().get() catch { case e: ExecutionException => throw e.getCause }

  /** Lets running tasks finish and releases the threads afterwards. */
  def shutdown(): Unit = executor.shutdown()
}

object JobPool {
  /** The pipeline's one retry policy: runs `attempt`, and while `ok` does
    * not hold for its result re-runs it up to `retries` more times,
    * sleeping `sleepMs` before each re-run (reference config.py:58-59).
    * The last attempt's result comes back. `Ingestor.ingestAll` retries
    * one entity and `ModelGraph.run` one model with it, so only the failed
    * unit re-runs.
    */
  def retry[T](retries: Int, sleepMs: Long)(attempt: => T)(ok: T => Boolean): T = {
    val r = attempt
    if (ok(r) || retries <= 0) r
    else {
      if (sleepMs > 0) Thread.sleep(sleepMs)
      retry(retries - 1, sleepMs)(attempt)(ok)
    }
  }
}
