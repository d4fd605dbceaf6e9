package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet table with time travel — the snapshot/commit half of
  * a table format like Delta (reference `dbt` materializes onto Delta;
  * the repo's `TableFormat` documents the same seam), rebuilt on plain
  * parquet: every [[commit]] writes a complete snapshot under
  * `path/v<N>`, readers pin a version ([[read]]) or take the newest
  * ([[readLatest]]), and historical versions stay readable until
  * explicitly vacuumed. Commits are ATOMIC to readers: data stages into
  * a dot-prefixed temp dir and becomes visible through one filesystem
  * rename — a reader never lists a half-written version.
  *
  * It is the one protocol for versioned state: every [[ParquetTableFormat]]
  * rewrite commits the next version, then points the catalog at it and
  * vacuums the rest; [[graft.streaming.IvmStream]] commits each
  * micro-batch's view and delta logs as version `<batchId>`; and
  * [[graft.plans.MvRewrite]]'s versioned views resolve through
  * [[versions]]. Nothing else lists a version root.
  *
  * Scale notes: full-snapshot versioning is the right trade for
  * dimension/config tables (the reference's entities) where history
  * reads matter; fact-scale incremental history belongs to
  * [[graft.operators.Scd2]]/[[graft.operators.Cdc]] which this
  * complements, not replaces. Listing cost is one directory scan of
  * version entries, never of data files.
  */
object VersionedTable {

  private val Version = "v(\\d+)".r
  private val Stage = "\\.staging_v(\\d+)_.*".r

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Names of the directories directly under `path`; empty when it does
    * not exist.
    */
  private def entries(fs: FileSystem, path: String): Seq[String] = {
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Committed version numbers at `path`, ascending; empty when none. */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    entries(fsOf(spark, path), path)
      .collect { case Version(v) => v.toLong }
      .sorted

  /** Write `df` as version `version`; returns false, writing nothing, when
    * that version is already committed. A caller whose version names its
    * input (a streaming batch id, whose replay carries the same rows) gets
    * an idempotent commit; one that appends takes `versions(...).last + 1`
    * and treats false as a lost race.
    *
    * Stage-then-rename: concurrent readers see either the previous
    * versions or the complete new one, never a partial. The staging
    * directory is WRITER-UNIQUE (version + UUID), so two racing committers
    * never interleave files — the rename decides the race (directory
    * renames are atomic on HDFS-like stores), the loser throws, and its
    * orphaned staging is cleaned up before throwing. A write that fails or
    * is cancelled deletes its staging too; what late tasks of a cancelled
    * write leave behind, [[vacuum]] sweeps.
    */
  def commit(spark: SparkSession, df: DataFrame, path: String,
      version: Long): Boolean = {
    val fs = fsOf(spark, path)
    val target = new Path(s"$path/v$version")
    if (fs.exists(target)) return false
    val stage = new Path(
      s"$path/.staging_v${version}_${java.util.UUID.randomUUID().toString}")
    try df.write.mode("overwrite").parquet(stage.toString)
    catch { case e: Throwable => fs.delete(stage, true); throw e }
    val renamed = !fs.exists(target) && fs.rename(stage, target)
    // Hadoop rename(src, dst) with dst an EXISTING directory moves src
    // INSIDE dst and reports true — a race loser on HDFS-like stores
    // would "succeed" while its snapshot sat hidden under the winner's
    // version. Detect that by probing for our (unique) staging name
    // nested in the target; clean up whichever orphan exists and throw.
    val nested = new Path(target, stage.getName)
    if (!renamed || fs.exists(nested)) {
      fs.delete(nested, true)
      fs.delete(stage, true)
      throw new IllegalStateException(
        s"commit of version $version at $path lost a rename race")
    }
    true
  }

  /** Read pinned historical versions (one, or the union of several with
    * one schema, as one scan).
    */
  def read(spark: SparkSession, path: String, versions: Long*): DataFrame =
    spark.read.parquet(versions.map(v => s"$path/v$v"): _*)

  /** Read the newest committed version. */
  def readLatest(spark: SparkSession, path: String): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    read(spark, path, vs.last)
  }

  /** Drop all versions strictly older than `keepFrom` — the vacuum that
    * bounds history storage; pinned readers of dropped versions fail
    * loudly (missing path), exactly like a vacuumed Delta read. It also
    * drops every `.staging_v<k>_*` directory with `k <= keepFrom`: once
    * `v<keepFrom>` exists such a stage can never be renamed into place,
    * and late tasks of a cancelled write re-create theirs after
    * [[commit]] has deleted it. `keepFrom = Long.MaxValue` empties the
    * table.
    */
  def vacuum(spark: SparkSession, path: String, keepFrom: Long): Unit = {
    val fs = fsOf(spark, path)
    entries(fs, path).filter {
      case Version(v) => v.toLong < keepFrom
      case Stage(v) => v.toLong <= keepFrom
      case _ => false
    }.foreach(n => fs.delete(new Path(path, n), true))
  }
}
