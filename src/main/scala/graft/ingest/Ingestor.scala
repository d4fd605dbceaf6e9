package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.JobPool
import graft.sources.TableFormat

/** One ingestion unit: a source file → bronze table (reference
  * scripts/ingestion.py:65-105 per-entity flow).
  *
  * @param name        entity name (claims, policies, ...)
  * @param path        source path (file:/ s3a:/ ... URI)
  * @param schema      declared contract; None falls back to inference like
  *                    the reference (ingestion.py:71-74) — strict mode is the
  *                    production default, see Schemas scaladoc
  * @param dedupKeys   key columns for ingest-time dedup (ingestion.py:87)
  * @param orderCol    recency column making dedup deterministic (keep the
  *                    highest value; reference dropDuplicates keeps an
  *                    arbitrary row — SURVEY §7.4)
  * @param format      csv | parquet | json
  */
final case class IngestSpec(
    name: String,
    path: String,
    targetTable: String,
    schema: Option[StructType] = None,
    dedupKeys: Seq[String] = Nil,
    orderCol: Option[String] = None,
    format: String = "csv")

/** @param rowsRead rows scanned from source (pre-dedup)
  * @param rowsWritten rows appended to the bronze table
  */
final case class IngestResult(
    name: String, ok: Boolean, rowsRead: Long, rowsWritten: Long,
    duplicatesRemoved: Long, error: Option[String] = None)

/** Spark-native ingestion: scan → metadata-stamp → dedup → bronze append.
  *
  * Differences from the reference, by design:
  * - The reference runs `count()` before AND after dedup (ingestion.py:83-88)
  *   which re-reads the CSV twice before the write; here the counts come from
  *   `observe()` named metrics on the single write pass — same logged
  *   numbers, one scan. At 100 TB two extra scans is the whole job's budget.
  * - Dedup is deterministic when `orderCol` is given (row_number over key,
  *   keep latest) instead of dropDuplicates' arbitrary row.
  * - Errors are isolated per entity and reported in the result, not thrown
  *   (ingestion.py:149-176 semantics).
  *
  * @param stampTimestamp fixed ingestion timestamp to stamp instead of
  *   `current_timestamp()` — injected by deterministic tests and the
  *   correctness gate (a wall-clock stamp cannot be oracle-compared);
  *   production callers leave it None. An Instant, not a java.sql
  *   Timestamp, so the stamped value is the same UTC instant regardless
  *   of the JVM's default zone.
  */
final class Ingestor(format: TableFormat, batchId: String,
    stampTimestamp: Option[java.time.Instant] = None) {

  def ingest(spark: SparkSession, spec: IngestSpec): IngestResult =
    try {
      val reader = spark.read.format(spec.format)
      val withSchema = spec.schema match {
        case Some(s) => reader.schema(s)
        case None => reader
          .option("inferSchema", "true")
      }
      val raw = (if (spec.format == "csv") withSchema.option("header", "true")
        else withSchema).load(spec.path)

      // metadata stamping (ingestion.py:77-80) + pre-dedup count observation:
      // the reference runs count() before AND after dedup, re-scanning the
      // source twice (ingestion.py:83-88); here BOTH counts ride the single
      // write pass as Observations (pre-dedup node + post-dedup node), so
      // the source is scanned exactly once
      val obsRead = new org.apache.spark.sql.Observation(s"read_${spec.name}")
      val stamped = raw
        .withColumn("ingestion_timestamp",
          stampTimestamp.map(lit(_)).getOrElse(current_timestamp()))
        .withColumn("source_file", lit(spec.path))
        .withColumn("ingestion_batch_id", lit(batchId))
        .observe(obsRead, count(lit(1)).as("rows_read"))

      val deduped = dedup(stamped, spec)

      val obsWritten = new org.apache.spark.sql.Observation(s"write_${spec.name}")
      val observed = deduped.observe(obsWritten, count(lit(1)).as("rows_written"))
      format.appendMergeSchema(spark, observed, spec.targetTable)
      val written = obsWritten.get("rows_written").asInstanceOf[Long]
      val read = obsRead.get("rows_read").asInstanceOf[Long]
      IngestResult(spec.name, ok = true, rowsRead = read, rowsWritten = written,
        duplicatesRemoved = read - written)
    } catch {
      case e: Exception =>
        IngestResult(spec.name, ok = false, 0, 0, 0, Some(e.toString))
    }

  private def dedup(df: DataFrame, spec: IngestSpec): DataFrame =
    (spec.dedupKeys, spec.orderCol) match {
      case (Nil, _) => df
      case (keys, Some(ord)) =>
        // ties on orderCol break on a stable hash of the full remaining row
        // — the partition keys are constant within the window and can't
        // break anything
        val nonKeyCols = df.columns.filterNot(keys.contains).map(col)
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(desc(ord), xxhash64(struct(nonKeyCols.toIndexedSeq: _*)).asc)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case (keys, None) => df.dropDuplicates(keys)
    }

  /** Ingest every spec through [[graft.core.JobPool.run]], isolating
    * failures per entity (ingestion.py:149-176): one bad source never
    * blocks the others. Each spec depends on the previous spec with the
    * same `targetTable` (case-insensitive), so different targets ingest at
    * the same time and a shared one appends in declaration order, even
    * after a failure. The results come back in spec order. A failed entity
    * re-runs alone under `limits` through [[graft.core.JobPool.retry]].
    * (Caveat: a mid-write crash can still leave a partial append in the
    * Parquet layer; Delta's transactional commit closes that via the
    * TableFormat seam.)
    */
  def ingestAll(spark: SparkSession, specs: Seq[IngestSpec],
      limits: JobPool.Limits = JobPool.Limits()): Seq[IngestResult] = {
    val targets = specs.map(_.targetTable.toLowerCase(java.util.Locale.ROOT))
    JobPool.run[IngestSpec, IngestResult](spark, specs, math.max(1, targets.distinct.size),
        limits.deadline)(i => Seq(targets.lastIndexOf(targets(i), i - 1)).filter(_ >= 0)) {
      (spec, _) => JobPool.retry(limits)(ingest(spark, spec))(_.ok)
    }
  }
}
