package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Housekeeping

/** Gate hermeticity: the exit sweep removes exactly THIS app's on-disk gate
  * artifacts — tmp dirs and warehouse table data — while sparing other
  * sessions' artifacts and the `graft_keep_` namespace (read by DuckDB after
  * the JVM exits). Proves a crashed gate leaves no residue: the sweep is the
  * JVM shutdown hook's body, so anything the gate wrote before throwing is
  * covered the same as a clean run's artifacts. The prior-run sweep behind
  * `scratchDir` reclaims only its own stem's hour-old foreign entries, and
  * no other source file builds a scratch location by hand.
  */
class HousekeepingSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def mkDirWithFile(parent: java.io.File, name: String): java.io.File = {
    val d = new java.io.File(parent, name)
    d.mkdirs()
    java.nio.file.Files.writeString(d.toPath.resolve("part-0"), "x")
    d
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  test("sweepAppArtifacts removes own-tag tmp+warehouse dirs, spares others and keep-prefix") {
    val tag = "testtag_12345"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val wh = Fixtures.tempDir("graft_hk_wh_spec").toFile

    // a "crashed gate": artifacts written, no cleanup ran
    val ownTmp = mkDirWithFile(tmp, s"graft_gate_xo_$tag")
    val ownWh = mkDirWithFile(wh, s"graft_gate_bkt_orders_$tag")
    val keep = mkDirWithFile(tmp, s"graft_keep_schema_drift_$tag")
    val other = mkDirWithFile(tmp, "graft_gate_xo_othertag_999")
    try {
      Housekeeping.sweepAppArtifacts(tag, Some(wh))
      assert(!ownTmp.exists(), "own tmp artifact must be swept")
      assert(!ownWh.exists(), "own warehouse table data must be swept")
      assert(keep.exists(), "graft_keep_ artifacts are read post-exit and must survive")
      assert(other.exists(), "another session's artifacts must survive")
    } finally {
      Seq(keep, other, ownTmp, ownWh).foreach(rm)
      wh.delete()
    }
  }

  test("scratchDir sweeps its own stem's stale prior-run entries, nothing else") {
    val tmpPath = System.getProperty("java.io.tmpdir")
    val tmp = new java.io.File(tmpPath)
    val tag = Housekeeping.appTag(spark)
    val stem = "hk_stale_spec"
    val twoHoursAgo = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    def aged(f: java.io.File): java.io.File = { f.setLastModified(twoHoursAgo); f }

    val stale = aged(mkDirWithFile(tmp, s"graft_${stem}_othertag"))
    val staleKeep = aged(mkDirWithFile(tmp, s"graft_keep_${stem}_othertag"))
    val concurrent = mkDirWithFile(tmp, s"graft_${stem}_freshtag")
    val own = aged(mkDirWithFile(tmp, s"graft_${stem}_$tag"))
    // shares only the `graft_` prefix, like a pipeline database directory
    val unrelated = aged(mkDirWithFile(tmp, "graft_hkstalespec_bronze.db"))
    try {
      assert(Housekeeping.scratchDir(spark, stem) === s"$tmpPath/graft_${stem}_$tag")
      assert(Housekeeping.scratchDir(spark, s"keep_$stem") ===
        s"$tmpPath/graft_keep_${stem}_$tag")
      assert(!stale.exists(), "a prior run's hour-old entry must be swept")
      assert(!staleKeep.exists(), "graft_keep_ entries are reclaimed by their stem's sweep")
      assert(concurrent.exists(), "a fresh entry may be a concurrent run's: keep it")
      assert(own.exists(), "this app's own entry is never swept, however old")
      assert(unrelated.exists(), "the sweep is per stem, not per graft_ prefix")
    } finally Seq(stale, staleKeep, concurrent, own, unrelated).foreach(rm)
  }

  test("no source file outside core/Housekeeping.scala names a scratch location") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val forbidden = Seq("java.io.tmpdir", "appTag(")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- files(root)
      if !f.getPath.endsWith("core/Housekeeping.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if forbidden.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "name scratch artifacts through Housekeeping.scratchDir / scratchTable:\n" +
        offenders.mkString("\n"))
  }

  test("warehouseDir resolves file: URIs and bare paths; remote schemes → None") {
    val resolved = Housekeeping.warehouseDir(spark)
    assert(resolved.nonEmpty, "test session warehouse is local")
    assert(resolved.get.getPath.contains("graft_wh"),
      s"expected the test warehouse, got ${resolved.get}")
  }

  test("appTag is filesystem/table-name safe") {
    val tag = Housekeeping.appTag(spark)
    assert(tag.matches("[a-zA-Z0-9_]+"), s"unsafe tag: $tag")
  }
}
