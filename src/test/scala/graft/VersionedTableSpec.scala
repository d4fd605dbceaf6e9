package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** Versioned-table contract: monotone versions, pinned reads survive
  * later commits, staging never visible, vacuum drops only old versions.
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshPath() =
    Fixtures.tempDir("graft_vt").toString + "/tbl"

  test("commit returns monotone versions; pinned reads are immutable") {
    val path = freshPath()
    val v1 = VersionedTable.commit(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), path)
    val v2 = VersionedTable.commit(spark, Seq((1, "a2")).toDF("k", "v"), path)
    assert((v1, v2) === ((1L, 2L)))
    assert(VersionedTable.versions(spark, path) === Seq(1L, 2L))
    assert(VersionedTable.read(spark, path, 1L).count() === 2L)
    assert(VersionedTable.readLatest(spark, path)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "a2")))
  }

  test("no staging directory remains after commit") {
    val path = freshPath()
    VersionedTable.commit(spark, Seq((1, "x")).toDF("k", "v"), path)
    val names = new java.io.File(path).listFiles().map(_.getName)
    assert(names.toSet === Set("v1"))
  }

  test("a cancelled commit leaves only committed versions") {
    val path = freshPath()
    VersionedTable.commit(spark, Seq((1, "a")).toDF("k", "v"), path)
    CancelWrites.assertCancelled(spark, path)(
      VersionedTable.commit(spark, Seq((2, "b")).toDF("k", "v"), path))
    assert(new java.io.File(path).list().toSet === Set("v1"))
    assert(VersionedTable.readLatest(spark, path).count() === 1L)
  }

  test("vacuum drops old versions; dropped reads fail loudly") {
    val path = freshPath()
    (1 to 3).foreach(i =>
      VersionedTable.commit(spark, Seq((i, s"v$i")).toDF("k", "v"), path))
    VersionedTable.vacuum(spark, path, keepFrom = 3L)
    assert(VersionedTable.versions(spark, path) === Seq(3L))
    intercept[Exception] { VersionedTable.read(spark, path, 1L).collect() }
    assert(VersionedTable.readLatest(spark, path).count() === 1L)
  }

  test("readLatest on an empty table fails loudly") {
    intercept[IllegalArgumentException] {
      VersionedTable.readLatest(spark, freshPath())
    }
  }
}
