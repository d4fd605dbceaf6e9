package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** Versioned-table contract: monotone versions, pinned reads survive
  * later commits, a committed version is never rewritten, staging never
  * visible, vacuum drops only old versions and dead stages.
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshPath() =
    Fixtures.tempDir("graft_vt").toString + "/tbl"

  test("commit returns monotone versions; pinned reads are immutable") {
    val path = freshPath()
    assert(VersionedTable.commit(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), path, 1L))
    assert(VersionedTable.commit(spark, Seq((1, "a2")).toDF("k", "v"), path, 2L))
    assert(VersionedTable.versions(spark, path) === Seq(1L, 2L))
    assert(VersionedTable.read(spark, path, 1L).count() === 2L)
    assert(VersionedTable.readLatest(spark, path)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "a2")))
  }

  test("no staging directory remains after commit") {
    val path = freshPath()
    VersionedTable.commit(spark, Seq((1, "x")).toDF("k", "v"), path, 1L)
    val names = new java.io.File(path).listFiles().map(_.getName)
    assert(names.toSet === Set("v1"))
  }

  test("a cancelled commit leaves only committed versions") {
    val path = freshPath()
    VersionedTable.commit(spark, Seq((1, "a")).toDF("k", "v"), path, 1L)
    CancelWrites.assertCancelled(spark, path)(
      VersionedTable.commit(spark, Seq((2, "b")).toDF("k", "v"), path, 2L))
    assert(new java.io.File(path).list().toSet === Set("v1"))
    assert(VersionedTable.readLatest(spark, path).count() === 1L)
  }

  test("committing a version that exists writes nothing") {
    val path = freshPath()
    VersionedTable.commit(spark, Seq((1, "a")).toDF("k", "v"), path, 1L)
    val files = new java.io.File(s"$path/v1").list().toSet
    assert(!VersionedTable.commit(spark, Seq((9, "z")).toDF("k", "v"), path, 1L))
    assert(new java.io.File(s"$path/v1").list().toSet === files)
    assert(new java.io.File(path).list().toSet === Set("v1"))
    assert(VersionedTable.read(spark, path, 1L).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "a")))
  }

  test("vacuum sweeps the stages late tasks of a cancelled commit re-create") {
    val path = freshPath()
    VersionedTable.commit(spark, Seq((1, "a")).toDF("k", "v"), path, 1L)
    // what the late tasks of a cancelled commit of v2 leave once the
    // commit has deleted its stage, and a commit of v3 still in flight
    def stage(v: Int) = s".staging_v${v}_${java.util.UUID.randomUUID()}"
    val dead = stage(2)
    val live = stage(3)
    Seq(dead, live).foreach(s =>
      assert(new java.io.File(s"$path/$s/_temporary/0/_temporary").mkdirs()))
    VersionedTable.commit(spark, Seq((2, "b")).toDF("k", "v"), path, 2L)
    VersionedTable.vacuum(spark, path, keepFrom = 2L)
    assert(new java.io.File(path).list().toSet === Set("v2", live))
  }

  test("vacuum drops old versions; dropped reads fail loudly") {
    val path = freshPath()
    (1 to 3).foreach(i =>
      VersionedTable.commit(spark, Seq((i, s"v$i")).toDF("k", "v"), path, i.toLong))
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

  test("no source file outside sources/VersionedTable.scala lists or names a version") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val forbidden = Seq("listStatus", "/v=", "\"v=")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- files(root)
      if !f.getPath.endsWith("sources/VersionedTable.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if forbidden.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "commit and resolve versioned state through graft.sources.VersionedTable:\n" +
        offenders.mkString("\n"))
  }
}
