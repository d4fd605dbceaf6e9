package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.IncrementalAgg
import graft.sources.VersionedTable
import graft.streaming.IvmStream

/** Continuous IVM over a real file-source CDC stream: the maintained
  * state must equal the same foldRefresh over the chunks AND a from-scratch
  * recompute — bit-for-bit on the DECIMAL sums — across a checkpoint
  * stop/restart mid-delta, and the versioned state chain must expose
  * every intermediate view.
  */
class IvmStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val groups = Seq("o_orderpriority")
  private val sums = Seq("sum_price" -> "o_totalprice")

  private def rowSet(df: DataFrame): Set[(String, Long, BigDecimal)] =
    df.select(col("o_orderpriority"), col("n"),
      col("sum_price").cast("decimal(18,2)"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toSet

  /** Write `df` as the single parquet file `srcDir/name`, for a file-source
    * stream to pick up whole.
    */
  private def stage(srcDir: java.nio.file.Path, df: DataFrame, name: String): Unit = {
    val tmp = Fixtures.tempDir("graft_ivm_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    java.nio.file.Files.move(
      java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get,
      srcDir.resolve(name))
  }

  /** Make the checkpoint forget that `batch` finished, as a crash before
    * its commit file would: the next start re-runs it.
    */
  private def forgetBatch(ckpt: java.nio.file.Path, batch: Long): Unit =
    Seq(s"$batch", s".$batch.crc").foreach(f =>
      java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(f)))

  /** Directories a crashed or cancelled commit left under `path`. */
  private def stagingLeft(path: String): Seq[String] =
    Option(new java.io.File(path).list()).toSeq.flatten
      .filter(_.startsWith(".staging_"))

  test("maintained view equals full recompute across a checkpoint restart") {
    val o = Tables.orders(spark, SparkTestSession.sfDir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice").cache()
    val base = IncrementalAgg.state(o, groups, sums)

    val repOld = o.filter(col("o_orderkey") % 83 === 0 &&
        col("o_orderkey") % 89 =!= 0)
      .withColumn("op", lit("delete"))
    val delta = o.filter(col("o_orderkey") % 89 === 0)
      .withColumn("op", lit("delete"))
      .unionByName(repOld)
      .unionByName(repOld.withColumn("op", lit("insert"))
        .withColumn("o_totalprice", col("o_totalprice") + 250.0))
      .unionByName(o.filter(col("o_orderkey") % 79 === 0)
        .withColumn("op", lit("insert")))
      .select("op", "o_orderpriority", "o_totalprice", "o_orderkey")
      .cache()

    val srcDir = Fixtures.tempDir("graft_ivm_src")
    val ckpt = Fixtures.tempDir("graft_ivm_ckpt")
    val statePath = Fixtures.tempDir("graft_ivm_state").toString
    def run(): Unit = {
      val deltas = spark.readStream
        .schema("op STRING, o_orderpriority STRING, o_totalprice DOUBLE, o_orderkey BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = IvmStream.maintainAggStream(deltas, base, statePath,
        ckpt.toString, "op", groups, sums).start()
      q.processAllAvailable(); q.stop()
    }

    // chunks arrive as files: two before the restart, two after
    val chunks = (0 until 4).map(i =>
      delta.filter(col("o_orderkey") % 4 === i))
    stage(srcDir, chunks(0), "0.parquet"); stage(srcDir, chunks(1), "1.parquet")
    run()
    val mid = IvmStream.latestState(spark, statePath).get
    assert(rowSet(mid) ==
      rowSet(IvmStream.foldRefresh(base, chunks.take(2), "op", groups, sums)),
      "state after two chunks diverged from the batch fold twin")

    stage(srcDir, chunks(2), "2.parquet"); stage(srcDir, chunks(3), "3.parquet")
    run() // restart on the same checkpoint: versions continue, no re-apply

    // final view == from-scratch recompute of the post-delta base
    val after = o.filter(col("o_orderkey") % 89 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 83 === 0, col("o_totalprice") + 250.0)
          .otherwise(col("o_totalprice")))
      .unionByName(o.filter(col("o_orderkey") % 79 === 0))
    assert(rowSet(IvmStream.latestState(spark, statePath).get) ==
      rowSet(IncrementalAgg.state(after, groups, sums)),
      "maintained view diverged from full recompute after restart")

    // one committed version per micro-batch, each a readable snapshot
    val versions = VersionedTable.versions(spark, statePath)
    assert(versions == Seq(0L, 1L, 2L, 3L), s"versions: ${versions.mkString(",")}")
    assert(rowSet(VersionedTable.read(spark, statePath, 1L)) == rowSet(mid))
    o.unpersist(); delta.unpersist()
  }

  test("join view maintained from one multi-table CDC stream across restart") {
    val jGroups = Seq("seg", "o_orderstatus")
    val c = Tables.customer(spark, SparkTestSession.sfDir)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      .cache()
    val o = Tables.orders(spark, SparkTestSession.sfDir)
      .select(col("o_custkey").as("k"), col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")).cache()

    // the q244 delta, tagged with a side column on one superset schema
    val moved = c.filter(col("k") % 47 === 0)
    val cDelta = moved.withColumn("op", lit("delete"))
      .unionByName(moved.withColumn("seg", lit("MOVED"))
        .withColumn("op", lit("insert")))
    val repOld = o.filter(col("o_orderkey") % 107 === 0 &&
        col("o_orderkey") % 109 =!= 0)
      .withColumn("op", lit("delete"))
    val oDelta = o.filter(col("o_orderkey") % 109 === 0)
      .withColumn("op", lit("delete"))
      .unionByName(repOld)
      .unionByName(repOld.withColumn("op", lit("insert"))
        .withColumn("o_totalprice", col("o_totalprice") + 125.0))
      .unionByName(o.filter(col("o_orderkey") % 113 === 0)
        .withColumn("op", lit("insert")))
    def cdcRows(i: Int): DataFrame =
      cDelta.filter(col("k") % 3 === i)
        .select(lit("r").as("side"), col("op"), col("k"), col("seg"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
        .unionByName(
          oDelta.filter(col("o_orderkey") % 3 === i)
            .select(lit("s").as("side"), col("op"), col("k"),
              lit(null).cast("string").as("seg"),
              col("o_orderstatus"), col("o_totalprice")))

    val srcDir = Fixtures.tempDir("graft_jivm_src")
    val ckpt = Fixtures.tempDir("graft_jivm_ckpt")
    val statePath = Fixtures.tempDir("graft_jivm_state").toString
    def run(): Unit = {
      val cdc = spark.readStream
        .schema("side STRING, op STRING, k BIGINT, seg STRING, " +
          "o_orderstatus STRING, o_totalprice DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = IvmStream.maintainJoinAggStream(cdc, c, o.drop("o_orderkey"),
        statePath, ckpt.toString, "side", "op", Seq("k"),
        rCols = Seq("k", "seg"),
        sCols = Seq("k", "o_orderstatus", "o_totalprice"),
        jGroups, sums).start()
      q.processAllAvailable(); q.stop()
    }
    stage(srcDir, cdcRows(0), "0.parquet"); stage(srcDir, cdcRows(1), "1.parquet")
    run()
    stage(srcDir, cdcRows(2), "2.parquet")
    run() // restart: logs + view versions continue on the checkpoint

    def jRowSet(df: DataFrame): Set[(String, String, Long, BigDecimal)] =
      df.select(col("seg"), col("o_orderstatus"), col("n"),
        col("sum_price").cast("decimal(18,2)"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          BigDecimal(r.getDecimal(3)))).toSet

    // final maintained view == from-scratch recompute of post-delta R ⋈ S
    val cAfter = c.filter(col("k") % 47 =!= 0)
      .unionByName(moved.withColumn("seg", lit("MOVED")))
    val oAfter = o.filter(col("o_orderkey") % 109 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 107 === 0, col("o_totalprice") + 125.0)
          .otherwise(col("o_totalprice")))
      .unionByName(o.filter(col("o_orderkey") % 113 === 0))
    val truth = IncrementalAgg.state(
      cAfter.join(oAfter.drop("o_orderkey"), Seq("k")), jGroups, sums)
    assert(jRowSet(IvmStream.latestState(spark, s"$statePath/view").get) ==
      jRowSet(truth),
      "maintained join view diverged from full recompute")

    // both logs hold one committed version per micro-batch
    for (log <- Seq("rlog", "slog"))
      assert(VersionedTable.versions(spark, s"$statePath/$log") == Seq(0L, 1L, 2L), log)

    // a crash after batch 2 committed its logs but before its view: the
    // restart re-runs batch 2, skips both log versions, and the view
    // it commits reads only the log versions below 2
    forgetBatch(ckpt, 2)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$statePath/view/v2"))
    run()
    assert(new java.io.File(s"$ckpt/commits/2").exists(), "batch 2 did not re-run")
    assert(jRowSet(IvmStream.latestState(spark, s"$statePath/view").get) ==
      jRowSet(truth), "the re-run batch double-applied its logged delta")
    assert(VersionedTable.versions(spark, s"$statePath/view") == Seq(0L, 1L, 2L))
    for (log <- Seq("rlog", "slog")) {
      assert(VersionedTable.versions(spark, s"$statePath/$log") == Seq(0L, 1L, 2L), log)
      assert(stagingLeft(s"$statePath/$log").isEmpty, log)
    }
    c.unpersist(); o.unpersist()
  }

  test("a versioned MV registration tracks the stream's refreshes, no re-register") {
    import graft.plans.MvRewrite
    val dir = Fixtures.tempDir("graft_ivm_mv").toString
    val ckpt = Fixtures.tempDir("graft_ivm_mv_ckpt")
    val srcDir = Fixtures.tempDir("graft_ivm_mv_src")
    Tables.orders(spark, SparkTestSession.sfDir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    val baseState = IncrementalAgg.state(base, groups, sums)
    val chunks = Seq(
      base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("op", lit("delete")),
      base.filter(col("o_orderkey") % 17 === 0)
        .withColumn("op", lit("insert")))
      .map(_.select("op", "o_orderpriority", "o_totalprice"))
    // the fold twin's expected rows, computed BEFORE registration: the
    // twin re-aggregates the registered base, so once the view is ahead
    // of the base snapshot the rewrite would — correctly under its
    // logical-table contract, wrongly for this twin — answer baseState
    // from the refreshed view (the registry is JVM-global by design)
    val expected = rowSet(
      IvmStream.foldRefresh(baseState, chunks, "op", groups, sums))
    // register ONCE, before any version exists
    MvRewrite.register(s"$dir/base", s"$dir/state", groups,
      Map("o_totalprice" -> "sum_price"))
    try {
      def runStream(): Unit = {
        val deltas = spark.readStream
          .schema("op STRING, o_orderpriority STRING, o_totalprice DOUBLE")
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
        val q = IvmStream.maintainAggStream(deltas, baseState, s"$dir/state",
          ckpt.toString, "op", groups, sums).start()
        q.processAllAvailable(); q.stop()
      }
      def query(): DataFrame = base.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(graft.core.OracleArith.dec2(col("o_totalprice"))).as("sum_price"))
      def plan(q: DataFrame): String = q.queryExecution.executedPlan.toString.take(800)
      // before any committed version: the query stays on the base scan
      val q0 = query()
      assert(!PlanScans.reads(q0, s"$dir/state"), plan(q0))
      stage(srcDir, chunks(0), "0.parquet"); runStream()
      val q1 = query()
      assert(PlanScans.reads(q1, s"$dir/state/v0"), plan(q1))
      stage(srcDir, chunks(1), "1.parquet"); runStream()
      // the SAME registration now answers from v1 — the r9 frozen
      // registry would have kept reading v0 until a manual re-register
      val q2 = query()
      assert(PlanScans.reads(q2, s"$dir/state/v1") &&
        !PlanScans.reads(q2, s"$dir/state/v0"), plan(q2))
      assert(rowSet(q2) == expected,
        "rewritten read diverged from the batch fold twin")
    } finally MvRewrite.deregister(s"$dir/base")
  }

  test("compaction preserves the multiset and later deltas are unchanged") {
    import spark.implicits._
    import graft.operators.IncrementalJoin
    import IncrementalJoin.positive
    val rBase = Seq((1L, "A"), (2L, "B"), (2L, "B"), (3L, "C"))
      .toDF("k", "seg")
    val rLog = Seq( // delete one of the duplicate 2s, delete 3 (both rows
      // bit-identical to base), insert a second 1 (net 2) and a new 4
      (-1, 2L, "B"), (-1, 3L, "C"), (1, 1L, "A"), (1, 4L, "D"))
      .toDF(IncrementalJoin.Sign, "k", "seg")
    val signed = positive(rBase).unionByName(rLog)
    val compacted = IvmStream.compactSigned(signed)
    val got = compacted.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == Map((1L, "A") -> 2, (2L, "B") -> 1, (4L, "D") -> 1))

    // the algebra cannot tell (base', empty) from (base, log): the next
    // chunk's ΔV is identical against either representation
    val sOld = positive(Seq((1L, "O", 10.0), (2L, "O", 5.0), (4L, "O", 7.0))
      .toDF("k", "status", "price"))
    val rD = Seq(("delete", 4L, "D")).toDF("op", "k", "seg")
    val sD = Seq(("insert", 1L, "F", 3.0)).toDF("op", "k", "status", "price")
    def dv(rOld: org.apache.spark.sql.DataFrame) =
      IncrementalJoin.deltaJoinState(rOld, rD, sOld, sD,
        "op", Seq("k"), Seq("seg", "status"), Seq("total" -> "price"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDecimal(3).toPlainString)).toSet
    assert(dv(signed) == dv(positive(compacted)))
  }

  test("a ten-chunk fold runs the spaced lineage cut and equals a full recompute") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.operators.IncrementalJoin
    // ten chunks: both folds cut their state after chunks 4 and 8, so
    // the result's plan starts from a cut, not from the base
    val n = 10
    def cuts(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r }.size
    def decRows(df: DataFrame, g: Seq[String], sumCol: String): Set[Seq[Any]] =
      df.select(g.map(col) ++ Seq(col("n"),
          col(sumCol).cast("decimal(18,2)")): _*)
        .collect().map(_.toSeq).toSet

    // aggregate view: chunk i deletes base row i and inserts two rows
    val prio = Seq("A", "B", "C")
    val baseRows = (0 until 12).map(i => (prio(i % 3), 1.25 * i))
    def inserts(i: Int) = Seq((prio(i % 3), 0.5 + i), (prio((i + 1) % 3), 2.75 * i))
    val chunks = (0 until n).map(i =>
      (inserts(i).map { case (g, v) => ("insert", g, v) } :+
        (("delete", baseRows(i)._1, baseRows(i)._2)))
        .toDF("op", "o_orderpriority", "o_totalprice"))
    val after = baseRows.drop(n) ++ (0 until n).flatMap(inserts)
    val folded = IvmStream.foldRefresh(
      IncrementalAgg.state(baseRows.toDF("o_orderpriority", "o_totalprice"),
        groups, sums),
      chunks, "op", groups, sums)
    assert(cuts(folded) >= 1, folded.queryExecution.analyzed.treeString.take(2000))
    assert(decRows(folded, groups, "sum_price") == decRows(
      IncrementalAgg.state(after.toDF("o_orderpriority", "o_totalprice"),
        groups, sums), groups, "sum_price"))

    // join view: chunk i moves customer i to a new segment, deletes its
    // base order and gives customer i + 1 a new order
    val jGroups = Seq("seg", "status")
    val jSums = Seq("total" -> "price")
    val rBase = (0 until 12).map(k => (k.toLong, prio(k % 3)))
    val sBase = (0 until 12).map(k => (k.toLong, "O", 3.5 * k))
    def moved(i: Int) = (i.toLong, s"M${i % 2}")
    def newOrder(i: Int) = (i + 1L, "F", 0.25 + i)
    val jChunks = (0 until n).map { i =>
      (Seq(("delete", rBase(i)._1, rBase(i)._2),
          ("insert", moved(i)._1, moved(i)._2)).toDF("op", "k", "seg"),
        Seq(("delete", sBase(i)._1, sBase(i)._2, sBase(i)._3),
          ("insert", newOrder(i)._1, newOrder(i)._2, newOrder(i)._3))
          .toDF("op", "k", "status", "price"))
    }
    val r = rBase.toDF("k", "seg")
    val s = sBase.toDF("k", "status", "price")
    val rAfter = ((0 until n).map(moved) ++ rBase.drop(n)).toDF("k", "seg")
    val sAfter = (sBase.drop(n) ++ (0 until n).map(newOrder))
      .toDF("k", "status", "price")
    val jFolded = IvmStream.foldJoinRefresh(
      IncrementalJoin.positive(r), IncrementalJoin.positive(s),
      IncrementalAgg.state(r.join(s, Seq("k")), jGroups, jSums),
      jChunks, "op", Seq("k"), jGroups, jSums)
    assert(cuts(jFolded) >= 1, jFolded.queryExecution.analyzed.treeString.take(2000))
    assert(decRows(jFolded, jGroups, "total") == decRows(
      IncrementalAgg.state(rAfter.join(sAfter, Seq("k")), jGroups, jSums),
      jGroups, "total"))
  }

  test("vacuum drops old committed view versions, never the newest") {
    val statePath = Fixtures.tempDir("graft_ivm_vacuum").toString
    import spark.implicits._
    (0L to 3L).foreach(v => VersionedTable.commit(spark,
      Seq((v, 1L)).toDF("ver", "n"), statePath, v))
    VersionedTable.vacuum(spark, statePath, keepFrom = 2L)
    assert(VersionedTable.versions(spark, statePath) == Seq(2L, 3L))
    assert(IvmStream.latestState(spark, statePath).get
      .select("ver").head.getLong(0) == 3L)
    // idempotent: nothing more to drop
    VersionedTable.vacuum(spark, statePath, keepFrom = 2L)
    assert(VersionedTable.versions(spark, statePath) == Seq(2L, 3L))
  }

  test("a re-run batch keeps its committed version and leaves no staging") {
    import spark.implicits._
    val base = IncrementalAgg.state(
      Seq(("A", 10.0), ("B", 5.0)).toDF("o_orderpriority", "o_totalprice"),
      groups, sums)
    val chunks = Seq(Seq(("insert", "A", 1.25)), Seq(("delete", "B", 5.0)))
      .map(_.toDF("op", "o_orderpriority", "o_totalprice"))
    val srcDir = Fixtures.tempDir("graft_ivm_rerun_src")
    val ckpt = Fixtures.tempDir("graft_ivm_rerun_ckpt")
    val statePath = Fixtures.tempDir("graft_ivm_rerun_state").toString
    def run(): Unit = {
      val deltas = spark.readStream
        .schema("op STRING, o_orderpriority STRING, o_totalprice DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = IvmStream.maintainAggStream(deltas, base, statePath,
        ckpt.toString, "op", groups, sums).start()
      q.processAllAvailable(); q.stop()
    }
    chunks.zipWithIndex.foreach { case (c, i) => stage(srcDir, c, s"$i.parquet") }
    run()
    val versions = VersionedTable.versions(spark, statePath)
    val state = rowSet(IvmStream.latestState(spark, statePath).get)
    assert(versions == Seq(0L, 1L))
    assert(state == rowSet(IvmStream.foldRefresh(base, chunks, "op", groups, sums)))
    def files(): Set[String] = new java.io.File(s"$statePath/v1").list().toSet
    val written = files()

    // the checkpoint loses batch 1's commit: the restart re-runs batch 1,
    // whose version is already committed
    forgetBatch(ckpt, 1)
    run()
    assert(new java.io.File(s"$ckpt/commits/1").exists(), "batch 1 did not re-run")
    assert(VersionedTable.versions(spark, statePath) == versions)
    assert(files() == written, "the re-run rewrote its committed version")
    assert(rowSet(IvmStream.latestState(spark, statePath).get) == state)
    assert(stagingLeft(statePath).isEmpty)
  }
}
