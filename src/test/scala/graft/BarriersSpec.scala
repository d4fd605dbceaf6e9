package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Barriers
import graft.operators.PageRank

/** Barrier durability plumbing: the same cut must yield identical data on
  * the local (bench) path and the reliable (cluster) path, and the reliable
  * path must actually land checkpoint files under the configured directory
  * — the executor-loss-survivable storage the local path lacks.
  */
class BarriersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withReliableDir[T](f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.conf.set(Barriers.ConfKey, dir.toString)
    try f(dir)
    finally {
      spark.conf.unset(Barriers.ConfKey)
      // best-effort cleanup; checkpoint files are small test artifacts
      scala.util.Try {
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("cut is a local checkpoint by default, reliable when the dir is set") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val local = Barriers.cut(df)
    assert(local.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(local.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    withReliableDir { dir =>
      val reliable = Barriers.cut(df)
      assert(reliable.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      // reliable checkpoint wrote partition files under the configured dir
      val files = java.nio.file.Files.walk(dir).iterator()
      var sawPart = false
      while (files.hasNext) {
        if (files.next().getFileName.toString.startsWith("part-")) sawPart = true
      }
      assert(sawPart, s"no checkpoint part files under $dir")
    }
  }

  test("reliable cuts share one checkpoint subdirectory per configured dir") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    withReliableDir { dir =>
      Barriers.cut(df)
      Barriers.cut(df)
      val subdirs = java.nio.file.Files.list(dir).toArray.toSeq
      assert(subdirs.size == 1, s"checkpoint subdirectories under $dir: $subdirs")
    }
  }

  test("PageRank results are identical across barrier durability levels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("a", "b")
    def ranks(): Map[Long, Double] =
      PageRank.run(PageRank.symmetrize(pairs, "a", "b"), "src", "dst",
        iters = 3, ordered = true)
        .as[(Long, Double)].collect().toMap
    val localRanks = ranks()
    val reliableRanks = withReliableDir(_ => ranks())
    assert(localRanks == reliableRanks) // bit-identical, ordered fold
  }
}
