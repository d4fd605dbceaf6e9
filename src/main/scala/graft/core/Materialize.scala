package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one place the engine materializes an intermediate frame. Three
  * verbs, one storage level (`MEMORY_AND_DISK`), one release path:
  *
  *  - [[pin]]: a lazy persist — the first action that reads the frame
  *    fills it, later actions read blocks. Also the correctness pin of the
  *    two-phase prefix scans, whose phases must see the same sampled shard
  *    boundaries (a recompute would resample them).
  *  - [[share]]: a pin filled eagerly, for a frame that several consumer
  *    stages of ONE action read.
  *  - [[cut]]: an eager checkpoint that truncates the lineage, for
  *    compounding plans (iterative loops, long folds) and frames read after
  *    their inputs are released.
  *
  * Every pin and share registers with its session; [[release]] unpersists
  * them all. A long-lived session calls it once the results built over
  * those frames are fully consumed — a plan still pending over a released
  * prefix-scan pin recomputes with FRESH sampled boundaries and would rank
  * inconsistently. Sessions that instead drop blocks externally
  * (`spark.catalog.clearCache()`, what the Bench/Verify harnesses do per
  * query) leave dead plan references behind; each registration sweeps
  * those, so the registry stays bounded by the session's LIVE caches.
  * Cut frames are not registered: their blocks and files are reclaimed as
  * [[cut]] describes.
  */
object Materialize {

  /** Runtime conf key holding the reliable-checkpoint directory of [[cut]]. */
  val ConfKey = "spark.graft.checkpointDir"

  private val registry =
    scala.collection.mutable.Map.empty[
      SparkSession, scala.collection.mutable.ListBuffer[DataFrame]]

  /** Persist `df` lazily and register it for [[release]]. Returns `df`
    * itself (`Dataset.persist` marks the frame in place).
    */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    registry.synchronized {
      val buf = registry.getOrElseUpdate(p.sparkSession,
        scala.collection.mutable.ListBuffer.empty)
      // entries whose blocks are already gone (external clearCache,
      // unpersist) hold only plan references — sweep them instead of
      // accumulating forever
      buf.filterInPlace(_.storageLevel != StorageLevel.NONE)
      buf += p
      // sessions emptied by the sweep (e.g. stopped test sessions) release
      // their map entry too
      registry.filterInPlace((_, b) => b.nonEmpty)
    }
    p
  }

  /** [[pin]] plus one eager `count()` that fills the cache.
    *
    * Why fill eagerly: when one action has several consumer stages over the
    * same frame (two join sides, an aggregate and a probe, ...), AQE submits
    * those map stages concurrently, and against a LAZILY persisted frame
    * each of them recomputes the frame before one wins the cache write
    * (measured on q42 as four concurrent 0.63 s signature-kernel passes for
    * one 5 MB corpus). One fill job computes the frame once; every consumer
    * then reads blocks. The trade is one extra job per call, so use it only
    * where concurrent consumers exist; a frame read by consecutive actions
    * needs only [[pin]].
    */
  def share(df: DataFrame): DataFrame = {
    val p = pin(df)
    p.count()
    p
  }

  /** The conf directory [[cut]] last set, with the directory Spark
    * resolved it to. Spark stores the directory fs-qualified under a fresh
    * UUID subdirectory, so comparing `getCheckpointDir` with the conf value
    * never matches; comparing with the resolved one does.
    */
  private var lastSet: Option[(String, String)] = None

  /** Materialize `df` eagerly and truncate its lineage — a reliable
    * checkpoint when [[ConfKey]] is set, a local checkpoint otherwise.
    *
    * `localCheckpoint(true)` truncates a compounding plan at minimum cost,
    * but stores the blocks on executors with NO lineage to recompute from:
    * on a cluster, one lost executor (preemption, OOM kill, dynamic
    * deallocation) fails the whole job instead of recomputing a partition —
    * Spark's own scaladoc flags exactly this. At bench scale (one local
    * JVM, no executor loss) that trade is free; on a 100 TB run it is an
    * availability regression. So the durability is configurable: set
    * [[ConfKey]] (a runtime conf — any HDFS-compatible path) and every cut
    * becomes a reliable `checkpoint(true)` that survives executor loss;
    * leave it unset (the local/bench default) and cuts stay local. Results
    * are identical either way — only where the materialized partitions
    * live changes.
    *
    * Cleanup differs too, and neither kind is freed by `Dataset.unpersist`
    * or [[release]]. Local checkpoint blocks are reclaimed by the
    * ContextCleaner once their frame is unreferenced. Reliable checkpoint
    * files are deleted only when the static conf
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is `true`:
    * [[Sessions.local]] sets it; a session built elsewhere must set it at
    * build time, or the files stay until the application ends.
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

  /** Unpersist every frame `spark` pinned or shared. */
  def release(spark: SparkSession): Unit = registry.synchronized {
    registry.remove(spark).foreach(_.foreach(_.unpersist(false)))
  }

  /** Registered live-cache count for `spark` — lifecycle tests only. */
  private[graft] def liveCount(spark: SparkSession): Int = registry.synchronized {
    registry.get(spark)
      .map(_.count(_.storageLevel != StorageLevel.NONE)).getOrElse(0)
  }
}
