package graft.pipeline

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.core.{AppConfig, Layer}
import graft.ingest.{IngestResult, Ingestor, IngestSpec}
import graft.models.{Model, ModelGraph, ModelRun}
import graft.sources.TableFormat

/** Pipeline step results, mirroring the reference orchestrator's 3-step DAG
  * (reference scripts/orchestrator.py:141-179: ingestion → transformations →
  * quality checks, fail-fast between steps, test failures tolerated
  * :84-85).
  */
final case class StepResult(step: String, ok: Boolean, detail: String,
    durationMs: Long)

final case class PipelineReport(
    steps: Seq[StepResult],
    ingests: Seq[IngestResult],
    models: Seq[ModelRun]) {
  def ok: Boolean = steps.forall(_.ok)
  def exitCode: Int = if (ok) 0 else 1

  /** Boxed text report (reference orchestrator.py:118-139). */
  def render: String = {
    val line = "=" * 60
    val rows = steps.map(s =>
      f"  ${if (s.ok) "PASS" else "FAIL"}%-6s ${s.step}%-24s ${s.durationMs}%6d ms  ${s.detail}")
    val ing = ingests.map(i =>
      f"  ${i.name}%-12s read=${i.rowsRead}%-8d written=${i.rowsWritten}%-8d dups=${i.duplicatesRemoved}")
    val mdl = models.map(m =>
      f"  ${m.name}%-24s rows=${m.rows}%-8d violations=${m.testViolations}")
    (Seq(line, "PIPELINE EXECUTION REPORT", line) ++ rows ++
      Seq("-" * 60) ++ ing ++ mdl ++
      Seq(line, s"RESULT: ${if (ok) "SUCCESS" else "FAILURE"}", line))
      .mkString("\n")
  }
}

/** Single-JVM orchestrator: the subprocess DAG of the reference collapses to
  * in-session steps (SURVEY §3 E1 redesign) — no Py4J, no dbt-over-HTTP hop.
  * Fail-fast between steps. Each step runs once; the reference's subprocess
  * retry policy (config.py:58-59: 3 retries, 60 s apart) applies per unit
  * instead, through [[graft.core.JobPool.retry]]: a failed ingest entity or
  * model re-runs alone, `cfg.maxRetries` times, `retrySleepMs` apart. A
  * step-level re-run would re-append the entities and stored failures that
  * already succeeded.
  *
  * Steps are barriers: transformations start only after every ingest has
  * finished. Within a step the work overlaps. `Ingestor.ingestAll` runs
  * entities with different target tables at the same time (specs sharing a
  * target run in declaration order), and `ModelGraph` starts each model as
  * soon as its deps have finished, up to its `parallelism` cap (the dbt
  * `threads` analogue, profiles.yml:10). Their worker threads run under the
  * step's `graft-<step>` job group, set explicitly on each worker, so a step
  * timeout's `cancelJobGroup` cancels every concurrent job of the step and
  * listeners attribute those jobs to the step.
  *
  * @param retrySleepMs pause before each per-unit retry; the default is the
  *   reference's `retry_delay` of 60 s (config.py:59), 0 disables it
  */
final class Orchestrator(cfg: AppConfig, format: TableFormat,
    retrySleepMs: Long = 60000L,
    stepTimeouts: Map[String, Long] = Orchestrator.defaultTimeouts) {

  /** Run `body` once under the step's job group and wall-clock timeout. On
    * timeout, jobs tagged with the step's job group are cancelled on the
    * cluster — the in-session analogue of the reference's subprocess
    * timeouts (orchestrator.py:35,70,78 — 1800 s ingest, 3600 s transform).
    */
  private def timed[A](step: String, spark: SparkSession)(body: => A): (Try[A], StepResult) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val timeout: Duration =
      stepTimeouts.get(step).map(_.millis: Duration).getOrElse(Duration.Inf)
    val t0 = System.nanoTime()
    val fut = Future {
      spark.sparkContext.setJobGroup(s"graft-$step", step, interruptOnCancel = true)
      try body finally spark.sparkContext.clearJobGroup()
    }
    val res = Try(Await.result(fut, timeout)).recoverWith {
      case _: java.util.concurrent.TimeoutException =>
        // only Spark jobs can be killed: the timed-out body keeps running on
        // its thread after its jobs are cancelled
        spark.sparkContext.cancelJobGroup(s"graft-$step")
        Failure(new java.util.concurrent.TimeoutException(
          s"step $step timed out after $timeout"))
    }
    val ms = (System.nanoTime() - t0) / 1000000
    res match {
      case Success(_) => (res, StepResult(step, ok = true, "", ms))
      case Failure(e) => (res, StepResult(step, ok = false, e.toString, ms))
    }
  }

  /** Bootstrap the medallion databases (reference dbt_project.yml:89-93). */
  def bootstrap(spark: SparkSession): Unit =
    Layer.all.foreach(l => format.ensureDatabase(spark, cfg.database(l)))

  def run(spark: SparkSession, specs: Seq[IngestSpec], models: Seq[Model]): PipelineReport = {
    bootstrap(spark)
    val batchId = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())

    // step 1: ingestion (fail-fast if ANY entity failed — orchestrator.py:
    // 157-160)
    val (ingTry, ingStep) = timed("ingestion", spark) {
      val rs = new Ingestor(format, batchId)
        .ingestAll(spark, specs, retries = cfg.maxRetries, retrySleepMs = retrySleepMs)
      if (!rs.forall(_.ok))
        throw new RuntimeException(
          rs.filterNot(_.ok).flatMap(_.error).mkString("; "))
      rs
    }
    val ingests = ingTry.getOrElse(Nil)
    if (!ingStep.ok) return PipelineReport(Seq(ingStep), ingests, Nil)

    // step 2: transformations (model builds fail-fast; orchestrator.py:66-74)
    val (mdlTry, mdlStep0) = timed("transformations", spark) {
      val runs = new ModelGraph(models, format,
        failuresTable = Some(cfg.tableName(Layer.Gold, "test_failures")),
        runId = batchId).run(spark, retries = cfg.maxRetries, retrySleepMs = retrySleepMs)
      if (!runs.forall(_.ok))
        throw new RuntimeException(
          runs.filterNot(_.ok).flatMap(_.error).mkString("; "))
      runs
    }
    val modelRuns = mdlTry.getOrElse(Nil)
    if (!mdlStep0.ok) return PipelineReport(Seq(ingStep, mdlStep0), ingests, modelRuns)

    // step 3: quality — violations are tolerated but reported
    // (orchestrator.py:84-85: test failures don't fail the pipeline)
    val totalViolations = modelRuns.map(_.testViolations).sum
    val qStep = StepResult("quality_checks", ok = true,
      s"$totalViolations stored violations", 0L)

    PipelineReport(Seq(ingStep, mdlStep0, qStep), ingests, modelRuns)
  }
}

object Orchestrator {
  /** Reference step timeouts (orchestrator.py:35,70): 1800 s ingestion,
    * 3600 s transformations.
    */
  val defaultTimeouts: Map[String, Long] = Map(
    "ingestion" -> 1800000L,
    "transformations" -> 3600000L)
}
