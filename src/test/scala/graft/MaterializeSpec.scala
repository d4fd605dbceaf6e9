package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.core.Materialize
import graft.operators.{Collocations, PageRank, Packing, Similarity, SpanDedup, UnigramLm}

/** The one materialization policy: every pin and share registers with its
  * session and [[Materialize.release]] frees them all; a cut gives the same
  * data on the local (bench) and the reliable (cluster) path, and the
  * reliable path lands checkpoint files under the configured directory —
  * the executor-loss-survivable storage the local path lacks. No other
  * source file may materialize a frame.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withReliableDir[T](f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.conf.set(Materialize.ConfKey, dir.toString)
    try f(dir)
    finally {
      spark.conf.unset(Materialize.ConfKey)
      // best-effort cleanup; checkpoint files are small test artifacts
      scala.util.Try {
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("cut is a local checkpoint by default, reliable when the dir is set") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val local = Materialize.cut(df)
    assert(local.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(local.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    withReliableDir { dir =>
      val reliable = Materialize.cut(df)
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
      Materialize.cut(df)
      Materialize.cut(df)
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

  test("release frees every cache the operators leave behind") {
    spark.catalog.clearCache()
    Materialize.release(spark)
    val emb = (0L until 40L).map { i =>
      (i, Array(math.sin(i.toDouble).toFloat, math.cos(i.toDouble).toFloat,
        (i % 5).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val shared = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"a b $shared c"), (2L, s"d $shared e f"),
      (3L, "new york is big and new york is old")).toDF("doc_id", "text")
    val weights = (1L to 50L).map(i => (i, i % 3)).toDF("id", "w")
    // each operator below persisted frames that nothing released before
    // (the IVF corpus and assignment, the span windows, the LM counts)
    // or registered them (the shard pin, the collocation tokens)
    assert(Similarity.knnIvfTrained(emb, emb.filter(col("vec_id") < 3),
      k = 2, nprobe = 2, kCells = 3).count() > 0)
    assert(SpanDedup.stripSpans(docs, "doc_id", "text", k = 8).count() == 3)
    assert(UnigramLm.train(docs, "text").count() > 0)
    assert(Packing.withGlobalOffsets(weights, "id", "w").count() == 50)
    assert(Collocations.bigramLift(docs, "text", minCount = 2L).count() > 0)
    assert(Materialize.liveCount(spark) > 0)
    Materialize.release(spark)
    assert(Materialize.liveCount(spark) === 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "cached plans survived Materialize.release")
  }

  test("an unpersisted registered frame is swept from the registry") {
    Materialize.release(spark)
    def frame(n: Long) = (1L to n).map(i => (i, i * 2)).toDF("a", "b")
    val gone = Materialize.pin(frame(7))
    gone.count()
    gone.unpersist(true)
    // the next registration sweeps the dead entry ...
    val live = Materialize.pin(frame(9))
    assert(Materialize.liveCount(spark) === 1)
    // ... so release no longer touches its plan, even once someone else
    // caches an identical one (which the dead frame's plan matches)
    val owned = frame(7).persist()
    try {
      owned.count()
      assert(gone.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      Materialize.release(spark)
      assert(live.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(owned.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "release unpersisted a cache the registry should have swept")
    } finally owned.unpersist()
  }

  test("no source file outside core/Materialize.scala materializes a frame") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val forbidden = Seq(".persist(", ".cache()", "localCheckpoint(",
      ".checkpoint(", "StorageLevel")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- files(root)
      if !f.getPath.endsWith("core/Materialize.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if forbidden.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "materialize through graft.core.Materialize:\n" + offenders.mkString("\n"))
  }
}
