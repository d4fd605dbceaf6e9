package graft.pipeline

import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.core.{AppConfig, JobPool, Layer}
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
  * finished. Within a step the ingest entities or the models overlap on
  * one scheduler, [[graft.core.JobPool.run]], and every job runs under the
  * step's `graft-<step>` job group, so listeners attribute it to the step.
  * At the step's deadline `cancelJobGroup` cancels every concurrent job of
  * the step and the scheduler starts nothing more: a timed-out step leaves
  * no work behind.
  *
  * @param retrySleepMs pause before each per-unit retry; the default is the
  *   reference's `retry_delay` of 60 s (config.py:59), 0 disables it
  */
final class Orchestrator(cfg: AppConfig, format: TableFormat,
    retrySleepMs: Long = 60000L,
    stepTimeouts: Map[String, Long] = Orchestrator.defaultTimeouts) {

  /** Run `body` once on this thread under the step's job group, then
    * restore the caller's. `body` gets the per-unit retries and the step
    * deadline `now + stepTimeouts(step)`: the in-session analogue of the
    * reference's subprocess timeouts (orchestrator.py:35,70,78: 1800 s
    * ingest, 3600 s transform), enforced by [[graft.core.JobPool.run]].
    */
  private def timed[A](step: String, spark: SparkSession)(
      body: JobPool.Limits => A): (Try[A], StepResult) = {
    val t0 = System.nanoTime()
    val limits = JobPool.Limits(cfg.maxRetries, retrySleepMs,
      stepTimeouts.get(step).map(ms => Deadline.now + ms.millis))
    val res = Try(JobPool.withJobGroup(spark.sparkContext, Some(s"graft-$step"), Some(step))(
      body(limits)))
    val ms = (System.nanoTime() - t0) / 1000000
    (res, StepResult(step, res.isSuccess, res.failed.map(_.toString).getOrElse(""), ms))
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
    val (ingTry, ingStep) = timed("ingestion", spark) { limits =>
      val rs = new Ingestor(format, batchId).ingestAll(spark, specs, limits)
      if (!rs.forall(_.ok))
        throw new RuntimeException(
          rs.filterNot(_.ok).flatMap(_.error).mkString("; "))
      rs
    }
    val ingests = ingTry.getOrElse(Nil)
    if (!ingStep.ok) return PipelineReport(Seq(ingStep), ingests, Nil)

    // step 2: transformations (model builds fail-fast; orchestrator.py:66-74)
    val (mdlTry, mdlStep0) = timed("transformations", spark) { limits =>
      val runs = new ModelGraph(models, format,
        failuresTable = Some(cfg.tableName(Layer.Gold, "test_failures")),
        runId = batchId).run(spark, limits)
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
