package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Layer
import graft.ingest.{Ingestor, IngestSpec}
import graft.sources.ParquetTableFormat

/** TableFormat schema evolution and non-CSV ingest formats. */
class TableFormatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("append with identical schema appends rows") {
    spark.sql("CREATE DATABASE IF NOT EXISTS fmt_test")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    ParquetTableFormat.appendMergeSchema(spark, df, "fmt_test.t1")
    ParquetTableFormat.appendMergeSchema(spark, df, "fmt_test.t1")
    assert(spark.table("fmt_test.t1").count() == 4)
  }

  test("append with a new column evolves the table schema (mergeSchema)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS fmt_test")
    val v1 = Seq((1L, "a")).toDF("id", "v")
    val v2 = Seq((2L, "b", 3.5)).toDF("id", "v", "score")
    ParquetTableFormat.appendMergeSchema(spark, v1, "fmt_test.t2")
    ParquetTableFormat.appendMergeSchema(spark, v2, "fmt_test.t2")
    val t = spark.table("fmt_test.t2")
    assert(t.columns.toSet == Set("id", "v", "score"))
    assert(t.count() == 2)
    // old rows carry null in the new column
    assert(t.filter(col("id") === 1 && col("score").isNull).count() == 1)
    assert(t.filter(col("id") === 2 && col("score") === 3.5).count() == 1)
  }

  test("upsert replaces matched keys and appends the rest") {
    spark.sql("CREATE DATABASE IF NOT EXISTS fmt_test")
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    ParquetTableFormat.overwrite(spark, base, "fmt_test.t3")
    val updates = Seq((2L, "b2"), (3L, "c")).toDF("id", "v")
    ParquetTableFormat.upsert(spark, updates, "fmt_test.t3", Seq("id"))
    val got = spark.table("fmt_test.t3").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("compact rewrites to the target file count without changing rows") {
    spark.sql("CREATE DATABASE IF NOT EXISTS fmt_test")
    val df = spark.range(1000).toDF("id").repartition(16)
    ParquetTableFormat.overwrite(spark, df, "fmt_test.t4")
    ParquetTableFormat.compact(spark, "fmt_test.t4", targetFiles = 2)
    assert(spark.table("fmt_test.t4").count() == 1000)
    assert(spark.table("fmt_test.t4").rdd.getNumPartitions <= 2)
  }

  test("JSON ingest lands in bronze like CSV") {
    val dir = Fixtures.tempDir("graft_fixtures")
    val f = dir.resolve("events.json")
    java.nio.file.Files.writeString(f,
      """{"id": 1, "kind": "view"}
        |{"id": 2, "kind": "purchase"}
        |{"id": 2, "kind": "purchase"}""".stripMargin)
    spark.sql("CREATE DATABASE IF NOT EXISTS fmt_test")
    val res = new Ingestor(ParquetTableFormat, "batch1").ingest(spark,
      IngestSpec("json_events", f.toString, "fmt_test.json_bronze",
        schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, kind STRING")),
        dedupKeys = Seq("id"), format = "json"))
    assert(res.ok)
    assert(res.rowsRead == 3 && res.rowsWritten == 2 && res.duplicatesRemoved == 1)
    assert(spark.table("fmt_test.json_bronze")
      .columns.contains("ingestion_batch_id"))
  }
}
