package graft

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Layer
import graft.ingest.{Ingestor, IngestSpec}
import graft.sources.ParquetTableFormat

/** TableFormat schema evolution, rewrites under a cancel, and non-CSV
  * ingest formats.
  */
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

  private def ident(table: String) = spark.sessionState.catalog.qualifyIdentifier(
    spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The directory that holds the table's versions. */
  private def root(table: String): File = new File(new Path(
    spark.sessionState.catalog.defaultTablePath(ident(table))).toUri.getPath)

  /** Nothing under the table's root but the version the catalog reads. */
  private def onlyCurrentVersion(table: String): Boolean = {
    val location = spark.sessionState.catalog.getTableMetadata(ident(table)).location
    root(table).list().toSet == Set(new File(location.getPath).getName)
  }

  private def snapshot(table: String): (StructType, Seq[String]) = {
    val t = spark.table(table)
    (t.schema, t.collect().map(_.toString).sorted.toSeq)
  }

  // each rewrite of a 2000-row (id, v) table, and its row count after
  Seq[(String, String => Unit, Long)](
    ("overwrite",
      t => ParquetTableFormat.overwrite(spark, Seq((9L, "z")).toDF("id", "v"), t), 1L),
    ("upsert", t => ParquetTableFormat.upsert(spark,
      Seq((2L, "b2"), (4000L, "d")).toDF("id", "v"), t, Seq("id")), 2001L),
    ("compact", t => ParquetTableFormat.compact(spark, t, targetFiles = 1), 2000L),
    ("drift append", t => ParquetTableFormat.appendMergeSchema(spark,
      Seq((4000L, 2.5)).toDF("id", "score"), t), 2001L)
  ).foreach { case (op, rewrite, rowsAfter) =>
    test(s"a cancelled $op leaves the previous version readable and no residue") {
      spark.sql("CREATE DATABASE IF NOT EXISTS fmt_fault")
      val t = s"fmt_fault.${op.replace(' ', '_')}"
      ParquetTableFormat.overwrite(spark, spark.range(0, 2000, 1, 8)
        .select(col("id"), (col("id") % 7).cast("string").as("v")), t)
      val before = snapshot(t)
      CancelWrites.assertCancelled(spark, root(t).toString)(rewrite(t))
      assert(snapshot(t) == before)
      assert(!spark.catalog.listTables("fmt_fault").collect().exists(_.name.contains("__stage_")))
      assert(onlyCurrentVersion(t), root(t).list().mkString(", "))
      rewrite(t)
      assert(spark.table(t).count() == rowsAfter)
      assert(onlyCurrentVersion(t), root(t).list().mkString(", "))
    }
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
