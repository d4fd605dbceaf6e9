package graft.core

import org.apache.spark.sql.SparkSession

/** The one owner of gate scratch artifacts: the directories and catalog
  * tables that round-trip gates write to prove on-disk semantics.
  *
  * Naming: every artifact is `graft_<stem>_<tag>`, the tag being the
  * sanitized Spark applicationId ([[appTag]]). Directories live in
  * `java.io.tmpdir`, tables in the session catalog (their data in the
  * warehouse). A gate gets a name only from [[scratchDir]] or
  * [[scratchTable]].
  *
  * Reclaim has two paths:
  *  - prior runs: before returning a name, [[scratchDir]] / [[scratchTable]]
  *    remove that stem's entries that carry another tag and are over an hour
  *    old (a younger one may be a concurrent run's live artifact). The sweep
  *    is per stem, never a blanket `graft_` prefix: pipeline databases such
  *    as `graft_dev_bronze` share that prefix.
  *  - this run: [[installExitSweep]] deletes this app's `graft_*<tag>`
  *    entries in tmpdir and in the warehouse when the JVM exits, crashed
  *    gates included.
  *
  * The `graft_keep_` prefix is exempt from the exit sweep: such artifacts
  * are read after the JVM exits (the q220 oracle replays a parquet footer in
  * DuckDB once Verify has terminated), so only the prior-run sweep of their
  * stem reclaims them.
  */
object Housekeeping {

  private val staleAfterMs = 60L * 60 * 1000

  private def tmpDir: String = System.getProperty("java.io.tmpdir")

  private def isPriorRun(name: String, stem: String, tag: String): Boolean =
    name.startsWith(s"graft_${stem}_") && !name.endsWith(tag)

  /** This app's scratch directory for `stem`, `$tmpdir/graft_<stem>_<tag>`,
    * after deleting prior runs' `graft_<stem>_*` entries over an hour old.
    */
  def scratchDir(spark: SparkSession, stem: String): String = {
    val tag = appTag(spark)
    val cutoff = System.currentTimeMillis() - staleAfterMs
    Option(new java.io.File(tmpDir).listFiles()).getOrElse(Array.empty)
      .filter(f => isPriorRun(f.getName, stem, tag) && f.lastModified() < cutoff)
      .foreach(deleteRecursively)
    s"$tmpDir/graft_${stem}_$tag"
  }

  /** This app's scratch table name for `stem`, `graft_<stem>_<tag>`, after
    * dropping prior runs' `graft_<stem>_*` catalog tables created over an
    * hour ago (only a persistent metastore holds any: an in-memory catalog
    * lists this app's tables alone).
    */
  def scratchTable(spark: SparkSession, stem: String): String = {
    val tag = appTag(spark)
    val cutoff = System.currentTimeMillis() - staleAfterMs
    spark.catalog.listTables().collect()
      .map(_.name)
      .filter(n => isPriorRun(n, stem, tag))
      .filter { n =>
        try spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(n))
          .createTime < cutoff
        catch { case _: Exception => false } // vanished/external: leave it
      }
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    s"graft_${stem}_$tag"
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** The applicationId sanitized for use in table/directory names. */
  private[graft] def appTag(spark: SparkSession): String =
    spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")

  private val exitSweepInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Register a JVM shutdown hook that deletes THIS app's on-disk gate
    * artifacts — `graft_*<tag>` entries in java.io.tmpdir and in the Spark
    * warehouse directory (the managed-table data of an in-memory catalog,
    * which would otherwise outlive the JVM that owns it). Idempotent; hooks
    * run even when a gate threw mid-write (any exit except a hard kill).
    * `graft_keep_` entries are spared (see the object doc).
    */
  def installExitSweep(spark: SparkSession): Unit =
    if (exitSweepInstalled.compareAndSet(false, true)) {
      val tag = appTag(spark)
      val warehouse = warehouseDir(spark)
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => sweepAppArtifacts(tag, warehouse), "graft-exit-sweep"))
    }

  /** The sweep itself, separated so a spec can prove a crashed gate leaves
    * no residue without tearing down the JVM.
    */
  private[graft] def sweepAppArtifacts(tag: String,
      warehouse: Option[java.io.File]): Unit = {
    def sweep(dir: java.io.File): Unit =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_") &&
          !f.getName.startsWith("graft_keep_") && f.getName.contains(tag))
        .foreach(deleteRecursively)
    sweep(new java.io.File(tmpDir))
    warehouse.foreach(sweep)
  }

  /** The warehouse directory as a local file, when it is one (file: URI or
    * bare path); None for remote warehouses — nothing local to sweep there.
    */
  private[graft] def warehouseDir(spark: SparkSession): Option[java.io.File] = {
    val raw = spark.conf.get("spark.sql.warehouse.dir")
    try {
      val uri = new java.net.URI(raw)
      uri.getScheme match {
        case null => Some(new java.io.File(raw))
        case "file" => Some(new java.io.File(uri.getPath))
        case _ => None
      }
    } catch { case _: java.net.URISyntaxException => Some(new java.io.File(raw)) }
  }
}
