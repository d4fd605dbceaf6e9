package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet table with time travel — the snapshot/commit half of
  * a table format like Delta (reference `dbt` materializes onto Delta;
  * the repo's `TableFormat` documents the same seam), rebuilt on plain
  * parquet: every [[commit]] writes a complete snapshot under
  * `path/v<N>`, readers pin a version ([[read]]) or take the newest
  * ([[readLatest]]), and historical versions stay readable until
  * explicitly vacuumed. Commits are ATOMIC to readers: data stages into
  * a dot-prefixed temp dir and becomes visible through one filesystem
  * rename — a reader never lists a half-written version. It is also the
  * commit behind every [[ParquetTableFormat]] rewrite, which then points
  * the catalog at the new version and vacuums the rest.
  *
  * Scale notes: full-snapshot versioning is the right trade for
  * dimension/config tables (the reference's entities) where history
  * reads matter; fact-scale incremental history belongs to
  * [[graft.operators.Scd2]]/[[graft.operators.Cdc]] which this
  * complements, not replaces. Listing cost is one directory scan of
  * version entries, never of data files.
  */
object VersionedTable {

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed version numbers at `path`, ascending; empty when none. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted
  }

  /** Write `df` as the next version; returns the committed version
    * number (1-based). Stage-then-rename: concurrent readers see either
    * the previous latest or the complete new version, never a partial.
    * The staging directory is WRITER-UNIQUE (version + UUID), so two
    * racing committers never interleave files — the rename decides the
    * race (directory renames are atomic on HDFS-like stores), the loser
    * throws, and its orphaned staging is cleaned up before throwing. A
    * write that fails or is cancelled deletes its staging too, so the
    * path only ever holds committed versions.
    */
  def commit(spark: SparkSession, df: DataFrame, path: String): Long = {
    val next = versions(spark, path).lastOption.getOrElse(0L) + 1
    val fs = fsOf(spark, path)
    val stage = new Path(
      s"$path/.staging_v${next}_${java.util.UUID.randomUUID().toString}")
    val target = new Path(s"$path/v$next")
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
        s"commit of version $next at $path lost a rename race")
    }
    next
  }

  /** Read one pinned historical version. */
  def read(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.parquet(s"$path/v$version")

  /** Read the newest committed version. */
  def readLatest(spark: SparkSession, path: String): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    read(spark, path, vs.last)
  }

  /** Drop all versions strictly older than `keepFrom` — the vacuum that
    * bounds history storage; pinned readers of dropped versions fail
    * loudly (missing path), exactly like a vacuumed Delta read.
    */
  def vacuum(spark: SparkSession, path: String, keepFrom: Long): Unit = {
    val fs = fsOf(spark, path)
    versions(spark, path).filter(_ < keepFrom)
      .foreach(v => fs.delete(new Path(s"$path/v$v"), true))
  }
}
