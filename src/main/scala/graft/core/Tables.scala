package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated star-schema parquet tables (TESTDATA.md).
  *
  * One parquet per table under `{dir}/{name}.parquet`. Reads are plain
  * `spark.read.parquet` so Catalyst gets full pushdown/pruning; nothing is
  * cached here — callers decide (caching 100 TB inputs is not a thing).
  */
object Tables {
  /** Parquet footer schemas of the (immutable, driver-generated) star
    * tables, cached per absolute path for the life of the JVM. Without the
    * declared schema every `spark.read.parquet` call runs a footer-
    * inference job before the query proper — one extra driver round-trip
    * per table reference per execution (measured 0.03-0.3 s each across
    * the 255-query bench). A production deployment gets the same effect
    * from catalog/metastore-declared schemas (the reference's tables are
    * metastore-backed); this caches METADATA only — every query still
    * computes from the parquet bytes.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")

  /** events.parquet's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (unreadable natively by Spark; surfaces
    * as epoch-nanos long under spark.sql.legacy.parquet.nanosAsLong) and
    * TIMESTAMP(MICROS) without UTC adjustment (surfaces as TIMESTAMP_NTZ).
    * Normalize both to session-zone TimestampType at microsecond precision —
    * the session zone is pinned UTC (Sessions), so the wall-clock values
    * match what DuckDB reads from the same file and oracle comparisons line
    * up either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    readNanosAsLong(spark)
    normalizeEventTs(load(spark, dir, "events"))
  }

  /** Read TIMESTAMP(NANOS) parquet columns as epoch-nanos longs, the form
    * [[normalizeEventTs]] expects.
    */
  private[graft] def readNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Declared schema of the CURRENT events generation (micros-NTZ `ts`) —
    * the single source of truth for readers that must commit to a schema
    * before any file exists (the streaming reader's empty-directory
    * start). Legacy nanos-as-long generations still need a real file to
    * probe; [[normalizeEventTs]] handles both once data arrives.
    */
  val eventsDeclaredSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")

  /** Type-adaptive `ts` normalization shared with the streaming reader. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long: truncate to micros
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // micros NTZ: reinterpret in the UTC session zone
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
