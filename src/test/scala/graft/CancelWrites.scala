package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.scalatest.Assertions

/** Deterministic write cancels for the fault cases.
  *
  * Inside [[during]], a file-write task of job group `group` whose output
  * path lies under `under` cancels that whole group, as a step deadline
  * does, and then fails before it writes anything. The cancel reaches the
  * scheduler before the task's failure does, so the write job always ends
  * cancelled. A SparkListener cannot give that: it hears of a job start
  * asynchronously, after a small job may already have finished.
  */
object CancelWrites {
  private final case class Target(sc: SparkContext, group: String, under: String)
  @volatile private var target: Option[Target] = None

  private val protocolKey = "spark.sql.sources.commitProtocolClass"

  private def localPath(p: String): String = new Path(p).toUri.getPath + "/"

  /** Run `body` with the writes of `group` under `under` (any path when
    * empty) cancelled. `body` sets the job group itself, or runs code that
    * does. The target stays set afterwards, until the next call: a task of
    * the cancelled job that starts after `body` has returned must not write
    * either, and only writes set up inside `body` consult it.
    */
  def during[T](spark: SparkSession, group: String, under: String = "")(body: => T): T = {
    spark.conf.set(protocolKey, classOf[Protocol].getName)
    target = Some(Target(spark.sparkContext, group,
      if (under.isEmpty) "/" else localPath(under)))
    try body finally spark.conf.unset(protocolKey)
  }

  private val groups = new java.util.concurrent.atomic.AtomicLong()

  /** Run `body` on this thread under a fresh job group whose writes under
    * `under` are cancelled, and assert that it threw because of the cancel.
    */
  def assertCancelled(spark: SparkSession, under: String)(body: => Any): Unit = {
    val group = s"graft-test-cancel-${groups.incrementAndGet()}"
    val sc = spark.sparkContext
    val err = during(spark, group, under) {
      sc.setJobGroup(group, "cancelled write")
      try Assertions.intercept[Exception](body) finally sc.clearJobGroup()
    }
    Assertions.assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("cancelled")), err)
  }

  /** The session's default commit protocol plus the cancel; every write of
    * the session uses it while [[during]] runs.
    */
  class Protocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
      extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
    override def setupTask(ctx: TaskAttemptContext): Unit = {
      val group = TaskContext.get().getLocalProperty("spark.jobGroup.id")
      target.filter(t => t.group == group && localPath(path).startsWith(t.under)) match {
        case Some(t) =>
          t.sc.cancelJobGroup(t.group)
          throw new IllegalStateException(s"write to $path fails after cancelling its group")
        case None => super.setupTask(ctx)
      }
    }
  }
}
