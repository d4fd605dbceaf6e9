package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Seam between the engine and its table storage format.
  *
  * The reference writes Delta tables with append + mergeSchema (reference
  * scripts/ingestion.py:94-98). Delta isn't on this classpath, so the default
  * implementation is managed Parquet tables with schema-merge emulated at the
  * metadata level; a Delta-backed implementation can slot in behind this
  * trait without touching callers.
  *
  * A rewrite ([[overwrite]], [[upsert]], [[compact]], a schema-widening
  * [[appendMergeSchema]]) is atomic to readers, as a Delta commit is: one
  * that fails or is cancelled at any point leaves the table exactly as it
  * was, rows and schema, and readable.
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
  * Layout: a table's data lives in one version directory `v<N>` under its
  * default table path, and the catalog entry points at it. Every rewrite
  * and every create goes through [[publish]]: a [[VersionedTable.commit]]
  * of the next version, one catalog update to its location and schema, then
  * the older versions are deleted. An append with an unchanged schema writes
  * into the current version. The table stays MANAGED, so `DROP TABLE`
  * deletes its data (the current version directory) as for any managed
  * table, and the catalog, not a directory name, decides what readers see.
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
      publish(spark, df, table)
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
        publish(spark, align(existing).unionByName(align(df)), table)
      }
    }

  override def overwrite(spark: SparkSession, df: DataFrame, table: String): Unit =
    publish(spark, df, table)

  override def upsert(spark: SparkSession, df: DataFrame, table: String,
      keys: Seq[String]): Unit =
    if (!exists(spark, table)) {
      publish(spark, df, table)
    } else {
      val existing = spark.table(table)
      // keep existing rows whose key is NOT updated, then add the updates
      val kept = existing.join(df.select(keys.map(col): _*).distinct(),
        keys, "left_anti")
      val merged = kept.unionByName(df.select(existing.columns.map(col): _*))
      publish(spark, merged, table)
    }

  override def compact(spark: SparkSession, table: String, targetFiles: Int): Unit =
    publish(spark, spark.table(table).repartition(targetFiles), table)

  /** Make `df` the table's contents, creating the table if needed. `df` is
    * written once, as the next version under the default table path; until
    * the catalog points at that version, readers see the previous one, so a
    * failure or cancel before then changes nothing. `df` may read the table
    * itself: the previous version is deleted only after the swap, which
    * also deletes a version that an earlier publish committed but never
    * swapped in.
    */
  private def publish(spark: SparkSession, df: DataFrame, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = catalog.qualifyIdentifier(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val root = new Path(catalog.defaultTablePath(ident)).toString
    val version = VersionedTable.versions(spark, root).lastOption.getOrElse(0L) + 1
    if (!VersionedTable.commit(spark, df, root, version))
      throw new IllegalStateException(s"version $version of $table was committed concurrently")
    // a fresh definition: a rewrite resets properties and stats, as a
    // drop and create would
    val definition = CatalogTable(ident, CatalogTableType.MANAGED,
      CatalogStorageFormat.empty.copy(locationUri = Some(new Path(root, s"v$version").toUri)),
      nullable(df.schema).asInstanceOf[StructType], provider = Some("parquet"))
    if (catalog.tableExists(ident)) catalog.alterTable(definition)
    // the location already holds the data, hence no location check
    else catalog.createTable(definition, ignoreIfExists = false, validateLocation = false)
    spark.catalog.refreshTable(table)
    VersionedTable.vacuum(spark, root, keepFrom = version)
  }

  /** `t` with every level nullable, as Parquet files store it and as
    * `saveAsTable` records it: a later append of a null into a column the
    * catalog calls non-nullable would fail.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
