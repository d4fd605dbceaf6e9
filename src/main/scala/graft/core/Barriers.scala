package graft.core

import org.apache.spark.sql.DataFrame

/** Eager lineage-truncation barrier with a pluggable durability level.
  *
  * `localCheckpoint(true)` truncates a compounding plan (iterative loops,
  * long IVM folds) at minimum cost, but stores the blocks on executors
  * with NO lineage to recompute from: on a cluster, one lost executor
  * (preemption, OOM kill, dynamic deallocation) fails the whole job
  * instead of recomputing a partition — Spark's own scaladoc flags exactly
  * this. At bench scale (one local JVM, no executor loss) that trade is
  * free; on a 100 TB run it is an availability regression.
  *
  * So the barrier is configurable: set `spark.graft.checkpointDir` (a
  * runtime conf — any HDFS-compatible path) and every cut becomes a
  * reliable `checkpoint(true)` that survives executor loss; leave it unset
  * (the local/bench default) and cuts stay local. Results are identical
  * either way — only where the materialized partitions live changes.
  *
  * Cleanup differs too. Local checkpoint blocks are reclaimed by the
  * ContextCleaner once their frame is unreferenced. Reliable checkpoint
  * files are deleted only when the static conf
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is `true`:
  * [[Sessions.local]] sets it; a session built elsewhere must set it at
  * build time, or the files stay until the application ends.
  */
object Barriers {

  /** Runtime conf key holding the reliable-checkpoint directory. */
  val ConfKey = "spark.graft.checkpointDir"

  /** The conf directory this object last set, with the directory Spark
    * resolved it to. Spark stores the directory fs-qualified under a fresh
    * UUID subdirectory, so comparing `getCheckpointDir` with the conf value
    * never matches; comparing with the resolved one does.
    */
  private var lastSet: Option[(String, String)] = None

  /** Materialize `df` eagerly and truncate its lineage — reliable
    * checkpoint when [[ConfKey]] is set, local checkpoint otherwise.
    */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val dir = spark.conf.get(ConfKey, "")
    if (dir.isEmpty) df.localCheckpoint(true)
    else {
      val sc = spark.sparkContext
      // Dataset.checkpoint requires the SparkContext-level dir; align it
      // with the session conf, once per directory: every setCheckpointDir
      // creates a new subdirectory
      synchronized {
        if (!lastSet.exists { case (d, resolved) =>
            d == dir && sc.getCheckpointDir.contains(resolved) }) {
          sc.setCheckpointDir(dir)
          lastSet = sc.getCheckpointDir.map(dir -> _)
        }
      }
      df.checkpoint(true)
    }
  }
}
