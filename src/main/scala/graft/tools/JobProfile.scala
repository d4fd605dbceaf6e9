package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-query job/stage breakdown (dev utility for the optimization rounds):
  * `runMain graft.tools.JobProfile <sfDir> q115_ppl_buckets ...`
  *
  * Runs each query twice (first pass warms JIT/codegen; second pass is the
  * reported one) and prints, for the timed pass, every Spark job with its
  * wall time and each stage's task count, executor-summed task time and
  * shuffle bytes — the local[N] stand-in for the Spark UI's stage table
  * (guide §7.1; the UI is disabled in this sandbox).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = args.tail
    val spark = graft.core.Sessions.local()

    case class StageRow(name: String, tasks: Int, var taskTimeMs: Long = 0L,
        var shufReadB: Long = 0L, var shufWriteB: Long = 0L,
        var inputB: Long = 0L, var submitted: Long = 0L, var completed: Long = 0L,
        var gcMs: Long = 0L, var deserMs: Long = 0L)
    val stages = mutable.Map[Int, StageRow]()
    val jobs = mutable.Map[Int, (Long, mutable.Buffer[Int])]() // start, stageIds
    val jobDone = mutable.Map[Int, Long]()
    val jobOrder = mutable.Buffer[Int]()

    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs(e.jobId) = (e.time, e.stageIds.toBuffer)
        jobOrder += e.jobId
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobDone(e.jobId) = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val si = e.stageInfo
        val row = StageRow(si.name.takeWhile(_ != '\n'), si.numTasks)
        row.submitted = si.submissionTime.getOrElse(0L)
        row.completed = si.completionTime.getOrElse(0L)
        val m = si.taskMetrics
        if (m != null) {
          row.taskTimeMs = m.executorRunTime
          row.shufReadB = m.shuffleReadMetrics.totalBytesRead
          row.shufWriteB = m.shuffleWriteMetrics.bytesWritten
          row.inputB = m.inputMetrics.bytesRead
          row.gcMs = m.jvmGCTime
          row.deserMs = m.executorDeserializeTime
        }
        stages(si.stageId) = row
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warm pass (uncounted)
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      synchronized { stages.clear(); jobs.clear(); jobDone.clear(); jobOrder.clear() }
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      println(f"\n===== $name  wall=$wall%.2f s =====")
      var prevEnd = 0L
      jobOrder.foreach { jid =>
        val (start, stageIds) = jobs(jid)
        val end = jobDone.getOrElse(jid, start)
        val gap = if (prevEnd == 0) 0.0 else (start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, end)
        println(f"  job $jid%3d  ${(end - start) / 1e3}%6.2f s  (gap-before $gap%5.2f s)")
        stageIds.foreach { sid =>
          stages.get(sid).foreach { s =>
            val stageWall = if (s.completed > 0) (s.completed - s.submitted) / 1e3 else -1.0
            println(f"    stage $sid%3d ${s.tasks}%4d tasks wall=$stageWall%6.2f taskSum=${s.taskTimeMs / 1e3}%7.2f s gc=${s.gcMs / 1e3}%5.2f deser=${s.deserMs / 1e3}%5.2f in=${s.inputB / 1024}%6d KB sr=${s.shufReadB / 1024}%6d KB sw=${s.shufWriteB / 1024}%6d KB  ${s.name.take(60)}")
          }
        }
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
