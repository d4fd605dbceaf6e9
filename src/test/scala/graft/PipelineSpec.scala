package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{AppConfig, JobPool, Layer}
import graft.ingest.{Ingestor, IngestSpec}
import graft.models.{InsuranceModels, ModelGraph}
import graft.pipeline.Orchestrator
import graft.sources.{ParquetTableFormat, TableFormat}

/** End-to-end medallion pipeline over our own claims/policies fixtures:
  * ingest (with deterministic dedup) → bronze → silver (cleansed) → gold
  * (aggregates), with hand-computed oracles on the results.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Claims and policies CSVs of the fixtures, policies with the dirty rows
    * when `dirty`.
    */
  private def csvs(dirty: Boolean): (String, String) = {
    val dir = Fixtures.tempDir("graft_fixtures")
    (Fixtures.writeCsv(dir, "claims.csv", Fixtures.claimsHeader, Fixtures.claimsRows),
      Fixtures.writeCsv(dir, "policies.csv", Fixtures.policiesHeader,
        Fixtures.policiesRows ++ (if (dirty) Fixtures.dirtyPoliciesRows else Nil)))
  }

  private def specs(cfg: AppConfig, claimsCsv: String, policiesCsv: String) = Seq(
    IngestSpec("claims", claimsCsv, cfg.tableName(Layer.Bronze, "claims"),
      dedupKeys = Seq("claim_id"), orderCol = Some("updated_at")),
    IngestSpec("policies", policiesCsv, cfg.tableName(Layer.Bronze, "policies"),
      dedupKeys = Seq("policy_id"), orderCol = Some("updated_at")))

  lazy val report = {
    val (claimsCsv, policiesCsv) = csvs(dirty = false)
    val cfg = AppConfig(appName = "graftpipe")
    val orch = new Orchestrator(cfg, ParquetTableFormat)
    orch.run(spark, specs(cfg, claimsCsv, policiesCsv),
      models = InsuranceModels.graph(cfg, runId = "test-run-1"))
  }

  test("pipeline succeeds end-to-end with exit code 0") {
    assert(report.ok)
    assert(report.exitCode == 0)
    assert(report.steps.map(_.step) ==
      Seq("ingestion", "transformations", "quality_checks"))
  }

  test("ingest dedups deterministically keeping the latest updated_at") {
    val claims = report.ingests.find(_.name == "claims").get
    assert(claims.rowsRead == 7)
    assert(claims.rowsWritten == 6)
    assert(claims.duplicatesRemoved == 1)
    val kept = spark.table("graftpipe_dev_bronze.claims")
      .filter(col("claim_id") === "CLM100")
    assert(kept.count() == 1)
    // the amended (later updated_at) row won
    assert(kept.select("description").head.getString(0) == "fender bender amended")
  }

  test("bronze tables carry ingest metadata columns") {
    val bronze = spark.table("graftpipe_dev_bronze.bronze_claims")
    assert(Seq("ingestion_timestamp", "dbt_run_timestamp", "dbt_invocation_id")
      .forall(bronze.columns.contains))
    assert(bronze.select("dbt_invocation_id").distinct().head.getString(0)
      == "test-run-1")
  }

  test("gold_claims_summary aggregates match hand-computed totals") {
    val gold = spark.table("graftpipe_dev_gold.claims_summary")
    // AUTO/OPEN in 2024-01: only the deduped CLM100 (1250.00)
    val autoOpen = gold.filter(col("claim_type") === "AUTO"
      && col("claim_status") === "OPEN").head
    assert(autoOpen.getAs[Long]("n_claims") == 1)
    assert(autoOpen.getAs[java.math.BigDecimal]("total_claim_amount")
      .compareTo(new java.math.BigDecimal("1250.00")) == 0)
    // CLOSED claims have settlements: HOME 4500/5000, AUTO 2000/2200
    val homeClosed = gold.filter(col("claim_type") === "HOME"
      && col("claim_status") === "CLOSED").head
    assert(homeClosed.getAs[java.math.BigDecimal]("total_settlement_amount")
      .compareTo(new java.math.BigDecimal("4500.00")) == 0)
  }

  test("gold_policy_summary premium totals match") {
    val gold = spark.table("graftpipe_dev_gold.policy_summary")
    val autoActive = gold.filter(col("policy_type") === "AUTO"
      && col("policy_status") === "ACTIVE").head
    assert(autoActive.getAs[Long]("n_policies") == 1)
    assert(autoActive.getAs[java.math.BigDecimal]("total_premium")
      .compareTo(new java.math.BigDecimal("1400.00")) == 0)
    val suspended = gold.filter(col("policy_status") === "SUSPENDED").head
    assert(suspended.getAs[Long]("n_active") == 0)
  }

  test("clean fixtures produce zero stored violations") {
    assert(report.models.map(_.testViolations).sum == 0)
  }

  test("report renders the boxed summary") {
    val r = report.render
    assert(r.contains("PIPELINE EXECUTION REPORT"))
    assert(r.contains("RESULT: SUCCESS"))
    assert(r.contains("claims"))
  }

  test("dirty data flows through with violations stored, pipeline tolerated") {
    val (_, policiesCsv) = csvs(dirty = true)
    val cfg = AppConfig(appName = "graftdirty")
    val orch = new Orchestrator(cfg, ParquetTableFormat)
    val rpt = orch.run(spark,
      specs = Seq(IngestSpec("policies", policiesCsv,
        cfg.tableName(Layer.Bronze, "policies"),
        dedupKeys = Seq("policy_id"), orderCol = Some("updated_at"))),
      models = InsuranceModels.graph(cfg, runId = "dirty-run")
        .filter(m => m.name.contains("polic")))
    // violations counted but never fatal (reference orchestrator.py:84-85)
    assert(rpt.ok)
    assert(rpt.models.find(_.name == "silver_policies").get.testViolations > 0)
    // stored-failures table carries (table_name, rule) rows dbt-style
    val failures = spark.table(cfg.tableName(Layer.Gold, "test_failures"))
    assert(failures.count() > 0)
    assert(failures.select("rule").distinct().count() >= 3)
  }

  /** The medallion flow into `app`'s namespace with a fixed stamp, batch
    * and run id. `serial` ingests spec by spec and runs the models with
    * parallelism = 1; otherwise `ingestAll` and the default cap run them.
    * Returns the results, every table's rows (sorted, without the
    * wall-clock `dbt_run_timestamp`) and the stored failures per
    * (table_name, rule).
    */
  private def medallion(app: String, claimsCsv: String, policiesCsv: String,
      serial: Boolean) = {
    val cfg = AppConfig(appName = app)
    new Orchestrator(cfg, ParquetTableFormat).bootstrap(spark)
    val ingestor = new Ingestor(ParquetTableFormat, "cmp-batch",
      Some(java.time.Instant.parse("2024-05-01T00:00:00Z")))
    val sp = specs(cfg, claimsCsv, policiesCsv)
    val ingests =
      if (serial) sp.map(ingestor.ingest(spark, _)) else ingestor.ingestAll(spark, sp)
    val failures = cfg.tableName(Layer.Gold, "test_failures")
    val graph = InsuranceModels.graph(cfg, runId = "cmp-run")
    val runs = (if (serial) new ModelGraph(graph, ParquetTableFormat,
        failuresTable = Some(failures), runId = "cmp-run", parallelism = 1)
      else new ModelGraph(graph, ParquetTableFormat,
        failuresTable = Some(failures), runId = "cmp-run")).run(spark)
    val tables = Layer.all.flatMap { l =>
      spark.catalog.listTables(cfg.database(l)).collect().filterNot(_.isTemporary)
        .map(t => t.name -> spark.table(s"${cfg.database(l)}.${t.name}")
          .drop("dbt_run_timestamp").collect().map(_.toString).sorted.toSeq)
    }.toMap
    val stored = spark.table(failures).groupBy("table_name", "rule").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    (ingests, runs, tables, stored)
  }

  Seq(false, true).foreach { dirty =>
    val fixtures = if (dirty) "dirty" else "clean"
    test(s"parallelism = 1 and the default give the same results ($fixtures fixtures)") {
      val (claimsCsv, policiesCsv) = csvs(dirty)
      val (ingS, runS, tabS, failS) = medallion(s"graftser$fixtures", claimsCsv, policiesCsv, serial = true)
      val (ingC, runC, tabC, failC) = medallion(s"graftcon$fixtures", claimsCsv, policiesCsv, serial = false)
      assert(ingS.forall(_.ok) && runS.forall(_.ok))
      assert(ingS == ingC)
      assert(runS == runC)
      assert(tabS.keySet == tabC.keySet && tabS.size == 9)
      tabS.foreach { case (t, rows) => assert(rows == tabC(t), t) }
      assert(failS == failC)
      assert(failS.values.sum == runS.map(_.testViolations).sum)
      assert(failS.nonEmpty == dirty)
    }
  }

  test("every job of the concurrent ingests and models runs under its step's job group") {
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((
        e.properties.getProperty("spark.jobGroup.id"),
        e.properties.getProperty("spark.job.description")))
    }
    val (claimsCsv, policiesCsv) = csvs(dirty = true)
    val cfg = AppConfig(appName = "graftgroups")
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val rpt = new Orchestrator(cfg, ParquetTableFormat).run(spark,
        specs(cfg, claimsCsv, policiesCsv), InsuranceModels.graph(cfg, runId = "groups"))
      assert(rpt.ok)
      // listener events arrive in order: once this marker job is seen, so
      // are all of the run's jobs
      sc.setJobGroup("graft-test-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.asScala.exists(_._1 == "graft-test-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val run = jobs.asScala.toSeq.takeWhile(_._1 != "graft-test-marker")
    assert(run.map(_._1).distinct == Seq("graft-ingestion", "graft-transformations"))
    assert(run.forall { case (group, desc) => group == s"graft-$desc" })
  }

  test("ingest specs sharing a target table both land, beside another target") {
    val cfg = AppConfig(appName = "graftshared")
    new Orchestrator(cfg, ParquetTableFormat).bootstrap(spark)
    val dir = Fixtures.tempDir("graft_fixtures")
    val (early, late) = Fixtures.claimsRows.splitAt(3)
    val claims = cfg.tableName(Layer.Bronze, "claims")
    val sp = Seq(
      IngestSpec("claims_early", Fixtures.writeCsv(dir, "early.csv",
        Fixtures.claimsHeader, early), claims),
      IngestSpec("policies", Fixtures.writeCsv(dir, "policies.csv",
        Fixtures.policiesHeader, Fixtures.policiesRows),
        cfg.tableName(Layer.Bronze, "policies")),
      IngestSpec("claims_late", Fixtures.writeCsv(dir, "late.csv",
        Fixtures.claimsHeader, late), claims))
    val rs = new Ingestor(ParquetTableFormat, "shared").ingestAll(spark, sp)
    assert(rs.map(r => (r.name, r.ok, r.rowsWritten)) ==
      Seq(("claims_early", true, 3L), ("policies", true, 5L), ("claims_late", true, 4L)))
    assert(spark.table(claims).count() == 7)
    assert(spark.table(claims).select("source_file").distinct().count() == 2)
  }

  /** Parquet tables whose first append to `failing` throws before writing. */
  private final class FailFirstAppend(failing: String) extends TableFormat {
    private val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def ensureDatabase(spark: SparkSession, db: String): Unit =
      ParquetTableFormat.ensureDatabase(spark, db)
    def appendMergeSchema(spark: SparkSession, df: DataFrame, table: String): Unit =
      if (table == failing && failed.compareAndSet(false, true))
        throw new RuntimeException(s"transient append failure on $table")
      else ParquetTableFormat.appendMergeSchema(spark, df, table)
    def overwrite(spark: SparkSession, df: DataFrame, table: String): Unit =
      ParquetTableFormat.overwrite(spark, df, table)
    def upsert(spark: SparkSession, df: DataFrame, table: String, keys: Seq[String]): Unit =
      ParquetTableFormat.upsert(spark, df, table, keys)
    def compact(spark: SparkSession, table: String, targetFiles: Int): Unit =
      ParquetTableFormat.compact(spark, table, targetFiles)
  }

  test("an entity whose append fails re-runs alone, with fresh counts and one copy") {
    val (claimsCsv, policiesCsv) = csvs(dirty = false)
    def ingestInto(app: String, format: TableFormat, retries: Int) = {
      val cfg = AppConfig(appName = app)
      new Orchestrator(cfg, ParquetTableFormat).bootstrap(spark)
      val rs = new Ingestor(format, "retry-batch")
        .ingestAll(spark, specs(cfg, claimsCsv, policiesCsv), JobPool.Limits(retries = retries))
      (rs, cfg.tableName(Layer.Bronze, "claims"), cfg.tableName(Layer.Bronze, "policies"))
    }
    val (unfailed, _, _) = ingestInto("graftretryref", ParquetTableFormat, retries = 0)
    assert(unfailed.forall(_.ok))

    val (retried, claims, policies) = ingestInto("graftretryok",
      new FailFirstAppend("graftretryok_dev_bronze.claims"), retries = 1)
    assert(retried == unfailed)
    assert(spark.table(claims).count() == unfailed.head.rowsWritten)
    assert(spark.table(claims).select("claim_id").distinct().count() == unfailed.head.rowsWritten)
    assert(spark.table(policies).count() == unfailed(1).rowsWritten)

    val (failed, _, _) = ingestInto("graftretryno",
      new FailFirstAppend("graftretryno_dev_bronze.claims"), retries = 0)
    assert(!failed.head.ok)
    assert(failed.head.error.exists(_.contains("transient append failure")))
    assert(failed(1) == unfailed(1))
  }

  test("a step exceeding its timeout aborts with a timeout error") {
    val cfg = AppConfig(appName = "grafttimeout", maxRetries = 0)
    val orch = new Orchestrator(cfg, ParquetTableFormat,
      stepTimeouts = Map("ingestion" -> 50L))
    val dir = Fixtures.tempDir("graft_fixtures")
    val csv = Fixtures.writeCsv(dir, "claims.csv",
      Fixtures.claimsHeader, Fixtures.claimsRows)
    val slow = orch.run(spark,
      specs = Seq(IngestSpec("slow", csv,
        cfg.tableName(graft.core.Layer.Bronze, "claims"))),
      models = Nil)
    assert(!slow.ok)
    assert(slow.steps.head.detail.contains("timed out"))
  }

  test("a timed-out step leaves nothing behind: no retry, job or append after it") {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val retrySleepMs = 200L
    val cfg = AppConfig(appName = "grafttimeoutretry", maxRetries = 1)
    val csv = Fixtures.writeCsv(Fixtures.tempDir("graft_fixtures"), "claims.csv",
      Fixtures.claimsHeader, Fixtures.claimsRows)
    val bronze = cfg.tableName(Layer.Bronze, "claims")
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try spark.range(1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val rpt = new Orchestrator(cfg, ParquetTableFormat, retrySleepMs = retrySleepMs,
        stepTimeouts = Map("ingestion" -> 50L)).run(spark,
        specs = Seq(IngestSpec("slow", csv, bronze)), models = Nil)
      assert(!rpt.ok)
      assert(rpt.steps.head.detail.contains("timed out"))
      marker("graft-test-returned")
      // a retry left running would start within its sleep plus one ingest
      Thread.sleep(retrySleepMs + 5000)
      // listener events arrive in order: once this marker job is seen, so
      // is every job started before it
      marker("graft-test-waited")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("graft-test-waited") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val after = groups.asScala.toSeq.dropWhile(_ != "graft-test-returned")
    assert(after.nonEmpty && !after.contains("graft-ingestion"), groups.asScala.mkString(", "))
    assert(!spark.catalog.tableExists(bronze) || spark.table(bronze).count() == 0)
  }

  test("a transformations step cancelled at its first write leaves every model table as it was") {
    val (claimsCsv, policiesCsv) = csvs(dirty = true)
    val cfg = AppConfig(appName = "graftcancel", maxRetries = 0)
    val orch = new Orchestrator(cfg, ParquetTableFormat, retrySleepMs = 0)
    def run(runId: String) = orch.run(spark, specs(cfg, claimsCsv, policiesCsv),
      InsuranceModels.graph(cfg, runId))
    val tables = InsuranceModels.graph(cfg, "").map(_.targetTable) :+
      cfg.tableName(Layer.Gold, "test_failures")
    assert(run("cancel-1").ok)
    val counts = tables.map(t => t -> spark.table(t).count())
    assert(counts.forall(_._2 > 0), counts)
    val second = CancelWrites.during(spark, "graft-transformations")(run("cancel-2"))
    assert(second.steps.map(s => (s.step, s.ok)) ==
      Seq(("ingestion", true), ("transformations", false)))
    assert(second.steps(1).detail.contains("cancelled"), second.steps(1).detail)
    counts.foreach { case (t, n) => assert(spark.table(t).count() == n, t) }
  }

  test("a run restores the caller's job group and description") {
    val sc = spark.sparkContext
    sc.setJobGroup("graft-test-caller", "caller", interruptOnCancel = false)
    try {
      assert(new Orchestrator(AppConfig(appName = "graftrestore"), ParquetTableFormat)
        .run(spark, Nil, Nil).ok)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "graft-test-caller")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "false")
    } finally sc.clearJobGroup()
  }

  test("JobPool.run starts units after their deps and stops every one at its deadline") {
    assert(JobPool.run[Int, Int](spark, Seq(1, 2, 3, 4), slots = 2)(i =>
      if (i == 3) Seq(0, 2) else Nil) { (u, upstream) => u * 10 + upstream.sum } ==
      Seq(10, 20, 30, 80))
    val started = new ConcurrentLinkedQueue[Int]()
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException](JobPool.run[Int, Int](spark,
        Seq(0, 1, 2), slots = 2, Some(Deadline.now + 200.millis))(i => if (i == 2) Seq(0) else Nil) {
      (u, _) => started.add(u); Thread.sleep(60000); u
    })
    // the blocked workers were interrupted, and unit 2 never started
    assert(System.nanoTime() - t0 < 30L * 1000000000L)
    assert(started.asScala.toSet == Set(0, 1))
  }

  test("JobPool.retry neither sleeps past its deadline nor starts an attempt after it") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger()
    val t0 = System.nanoTime()
    val last = JobPool.retry(JobPool.Limits(retries = 3, sleepMs = 60000L,
      Some(Deadline.now + 200.millis)))(attempts.incrementAndGet())(_ => false)
    assert(last == 1 && attempts.get == 1)
    assert(System.nanoTime() - t0 < 30L * 1000000000L)
    assert(JobPool.retry(JobPool.Limits(retries = 2))(attempts.incrementAndGet())(_ => false) == 4)
  }

  test("no source file outside core/JobPool.scala runs work on its own threads") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val forbidden = Seq("scala.concurrent.Future", "Future {", "Await.", "ExecutionContext",
      "Executors.", "ExecutorCompletionService")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- files(root)
      if !f.getPath.endsWith("core/JobPool.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if forbidden.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "run concurrent pipeline work through graft.core.JobPool.run:\n" + offenders.mkString("\n"))
  }

  test("a missing source fails fast with an isolated error") {
    val cfg = AppConfig(appName = "graftbad", maxRetries = 0)
    val orch = new Orchestrator(cfg, ParquetTableFormat)
    val bad = orch.run(spark,
      specs = Seq(IngestSpec("claims", "/nonexistent/claims.csv",
        cfg.tableName(Layer.Bronze, "claims"))),
      models = Nil)
    assert(!bad.ok)
    assert(bad.exitCode == 1)
    assert(bad.steps.head.step == "ingestion" && !bad.steps.head.ok)
  }
}
