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
  * Fail-fast between steps; per-step retry with backoff replaces the
  * reference's subprocess retry policy (config.py:58-59).
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
  */
final class Orchestrator(cfg: AppConfig, format: TableFormat,
    retrySleepMs: Long = -1L,
    stepTimeouts: Map[String, Long] = Orchestrator.defaultTimeouts) {

  // -1 = take the configured delay (config.py:58-59 semantics); explicit 0
  // disables sleeping between retries (tests)
  private val sleepMs: Long = if (retrySleepMs >= 0) retrySleepMs else cfg.retryDelayMs

  /** Marks a timeout abort; never retried — the timed-out body keeps
    * running on its thread after job cancellation (only Spark jobs can be
    * killed), so a retry would race the zombie attempt's writes.
    */
  private final class StepTimeout(msg: String) extends RuntimeException(msg)

  /** Run `body` with retries and a per-step wall-clock timeout. On timeout,
    * jobs tagged with the step's job group are cancelled on the cluster —
    * the in-session analogue of the reference's subprocess timeouts
    * (orchestrator.py:35,70,78 — 1800 s ingest, 3600 s transform).
    * `retries` defaults to the config; pass 0 for non-idempotent bodies
    * (appends) whose per-unit retry lives inside the body instead.
    */
  private def timed[A](step: String, spark: SparkSession,
      retries: Int = cfg.maxRetries)(body: => A): (Try[A], StepResult) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val timeout: Duration =
      stepTimeouts.get(step).map(_.millis: Duration).getOrElse(Duration.Inf)
    val t0 = System.nanoTime()
    def once: Try[A] = {
      val fut = Future {
        spark.sparkContext.setJobGroup(s"graft-$step", step, interruptOnCancel = true)
        try body finally spark.sparkContext.clearJobGroup()
      }
      Try(Await.result(fut, timeout)).recoverWith {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(s"graft-$step")
          Failure(new StepTimeout(s"step $step timed out after $timeout"))
      }
    }
    def attempt(remaining: Int): Try[A] = once match {
      case f @ Failure(_: StepTimeout) => f // never retry a timeout (zombie race)
      case f @ Failure(_) if remaining > 0 =>
        if (sleepMs > 0) Thread.sleep(sleepMs)
        attempt(remaining - 1)
      case other => other
    }
    val res = attempt(retries)
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
    // 157-160). Step-level retries are OFF: appends are not idempotent, so a
    // wholesale re-run would duplicate the entities that already succeeded —
    // retries happen per entity inside ingestAll instead.
    val (ingTry, ingStep) = timed("ingestion", spark, retries = 0) {
      val rs = new Ingestor(format, batchId)
        .ingestAll(spark, specs, retries = cfg.maxRetries, retrySleepMs = sleepMs)
      if (!rs.forall(_.ok))
        throw new RuntimeException(
          rs.filterNot(_.ok).flatMap(_.error).mkString("; "))
      rs
    }
    val ingests = ingTry.getOrElse(Nil)
    if (!ingStep.ok) return PipelineReport(Seq(ingStep), ingests, Nil)

    // step 2: transformations (model builds fail-fast; orchestrator.py:66-74).
    // Step-level retries are OFF for the same reason as ingestion: a
    // wholesale re-run re-appends stored failures for models that already
    // succeeded under this runId — retries happen per model instead.
    val (mdlTry, mdlStep0) = timed("transformations", spark, retries = 0) {
      val runs = new ModelGraph(models, format,
        failuresTable = Some(cfg.tableName(Layer.Gold, "test_failures")),
        runId = batchId).run(spark, retries = cfg.maxRetries, retrySleepMs = sleepMs)
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
