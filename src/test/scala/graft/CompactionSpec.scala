package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Compaction

/** Compaction contract: exact row-set preservation, the ⌈n/target⌉ file
  * count (each task one file — the merge-upward half of the small-file
  * fix), and the per-file cap.
  */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def files(path: String): Array[java.io.File] =
    new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  test("many small inputs merge to exactly ceil(n/target) files") {
    val tmp = Fixtures.tempDir("graft_compact_spec_a").toString
    // 1000 rows scattered across 64 tiny partitions
    val df = spark.range(1000).repartition(64)
      .select(col("id"), (col("id") % 13).as("v"))
    val back = Compaction.compactToTarget(df, tmp, 300)
    assert(files(tmp).length === 4, "1000 rows at 300/file -> 4 files")
    // row set preserved exactly
    assert(back.count() === 1000L)
    assert(back.select("id", "v").except(df).isEmpty &&
      df.except(back.select("id", "v")).isEmpty)
    // cap respected per file
    val perFile = back.groupBy(input_file_name()).count()
      .select("count").as[Long].collect()
    assert(perFile.forall(_ <= 300L), s"per-file counts: ${perFile.toSeq}")
  }

  test("fewer rows than target collapse to one file") {
    val tmp = Fixtures.tempDir("graft_compact_spec_b").toString
    val df = spark.range(50).repartition(16).toDF("id")
    val back = Compaction.compactToTarget(df, tmp, 1000)
    assert(files(tmp).length === 1)
    assert(back.count() === 50L)
  }

  test("empty input still writes a readable (empty) table") {
    val tmp = Fixtures.tempDir("graft_compact_spec_c").toString
    val df = spark.range(10).filter(col("id") < 0).toDF("id")
    val back = Compaction.compactToTarget(df, tmp, 100)
    assert(back.count() === 0L)
  }
}
