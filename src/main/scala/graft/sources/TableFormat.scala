package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Seam between the engine and its table storage format.
  *
  * The reference writes Delta tables with append + mergeSchema (reference
  * scripts/ingestion.py:94-98). Delta isn't on this classpath, so the default
  * implementation is managed Parquet tables with schema-merge emulated at the
  * metadata level; a Delta-backed implementation can slot in behind this
  * trait without touching callers.
  */
trait TableFormat {
  def ensureDatabase(spark: SparkSession, db: String): Unit
  /** Append `df` to `table`, evolving the table schema by union-by-name. */
  def appendMergeSchema(spark: SparkSession, df: DataFrame, table: String): Unit
  /** Overwrite `table` with `df` (model materialization). */
  def overwrite(spark: SparkSession, df: DataFrame, table: String): Unit

  /** MERGE/upsert: rows in `df` replace existing rows with the same key;
    * unmatched rows append. Delta does this transactionally per-file; the
    * Parquet stand-in rewrites (the seam again).
    */
  def upsert(spark: SparkSession, df: DataFrame, table: String,
      keys: Seq[String]): Unit

  /** Rewrite the table into ~`targetFiles` files — small-file compaction
    * for long-running append tables.
    */
  def compact(spark: SparkSession, table: String, targetFiles: Int): Unit
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
  def exists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)
}

/** Managed-Parquet implementation.
  *
  * Schema evolution on append: widen both the incoming batch and (if needed)
  * the existing table to the union-by-name schema, missing columns as nulls.
  * Widening an existing table rewrites it — acceptable for the rare
  * schema-change batch; Delta avoids the rewrite via metadata-only evolution,
  * which is exactly why the seam exists.
  */
object ParquetTableFormat extends TableFormat {

  override def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  override def appendMergeSchema(spark: SparkSession, df: DataFrame, table: String): Unit =
    if (!exists(spark, table)) {
      df.write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(table)
    } else {
      val existing = spark.table(table)
      val existingCols = existing.columns.toSeq
      val newCols = df.columns.toSeq
      val union = existingCols ++ newCols.filterNot(existingCols.contains)
      def align(d: DataFrame): DataFrame =
        d.select(union.map(c =>
          if (d.columns.contains(c)) col(c)
          else lit(null).cast(
            (existing.schema.fields ++ df.schema.fields)
              .find(_.name == c).get.dataType).as(c)): _*)
      if (newCols.forall(existingCols.contains) && existingCols.forall(newCols.contains)) {
        align(df).write.format("parquet").mode(SaveMode.Append).saveAsTable(table)
      } else {
        // schema drift: rewrite at the union schema (Delta would do this as
        // a metadata-only change; see trait scaladoc)
        stageAndSwap(spark, align(existing).unionByName(align(df)), table)
      }
    }

  override def overwrite(spark: SparkSession, df: DataFrame, table: String): Unit =
    df.write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(table)

  override def upsert(spark: SparkSession, df: DataFrame, table: String,
      keys: Seq[String]): Unit =
    if (!exists(spark, table)) {
      df.write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(table)
    } else {
      val existing = spark.table(table)
      // keep existing rows whose key is NOT updated, then add the updates
      val kept = existing.join(df.select(keys.map(col): _*).distinct(),
        keys, "left_anti")
      val merged = kept.unionByName(df.select(existing.columns.map(col): _*))
      stageAndSwap(spark, merged, table)
    }

  override def compact(spark: SparkSession, table: String, targetFiles: Int): Unit =
    stageAndSwap(spark, spark.table(table).repartition(targetFiles), table)

  /** Materialize through a staging table before overwriting the source —
    * overwriting a table that feeds its own plan would read-while-truncate.
    * The stage name is per-invocation unique (concurrent callers must not
    * clobber each other's staged data) and dropped even on failure.
    */
  private def stageAndSwap(spark: SparkSession, df: DataFrame, table: String): Unit = {
    val tmp = s"${table.replace('.', '_')}__stage_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    df.write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(tmp)
    try
      spark.table(tmp).write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(table)
    finally spark.sql(s"DROP TABLE IF EXISTS $tmp")
  }
}
