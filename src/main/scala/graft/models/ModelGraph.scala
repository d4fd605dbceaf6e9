package graft.models

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}

import graft.core.JobPool
import graft.quality.RuleSet
import graft.sources.TableFormat

/** One materialized model: the Spark-native equivalent of a dbt model
  * (reference dbt/models/bronze/bronze_claims.sql + dbt_project.yml:29-46) —
  * a named build function, its dependencies, and attached quality rules
  * whose failures are stored dbt-style (`store_failures`,
  * dbt_project.yml:61-63).
  */
final case class Model(
    name: String,
    targetTable: String,
    deps: Seq[String] = Nil,
    build: SparkSession => DataFrame,
    rules: Option[RuleSet] = None,
    /** Incremental high-watermark column: when set and the target exists,
      * only rows with `incrementalCol > max(existing)` are appended instead
      * of rebuilding the table (dbt incremental materialization — at scale
      * the difference between a partition append and a full rewrite).
      */
    incrementalCol: Option[String] = None)

object Model {
  /** SQL-string model — the dbt SELECT ports verbatim through spark.sql
    * (reference dbt/models/bronze/bronze_claims.sql shape).
    */
  def sql(name: String, targetTable: String, query: String,
      deps: Seq[String] = Nil, rules: Option[RuleSet] = None): Model =
    Model(name, targetTable, deps, s => s.sql(query), rules)
}

final case class ModelRun(
    name: String, ok: Boolean, rows: Long, testViolations: Long,
    error: Option[String] = None)

/** Dependency-driven model executor — the in-session replacement for
  * dbt-over-HTTP (reference orchestrator.py:60-78 + profiles.yml:4-13;
  * SURVEY §3 E3). A model starts as soon as every one of its `deps` has
  * finished. A build failure skips the model's dependents but not the
  * independent branches beside it; test failures are tolerated but counted
  * (orchestrator.py:84-85 semantics).
  *
  * `parallelism` caps how many models run at once: the dbt `threads`
  * analogue (profiles.yml:10). It defaults to the number of models, and 1
  * runs them one at a time in [[order]]. Spark's FIFO scheduler shares the
  * executors among the models' concurrent jobs.
  */
final class ModelGraph(models: Seq[Model], format: TableFormat,
    failuresTable: Option[String] = None,
    parallelism: Int = Int.MaxValue,
    /** Stamped onto stored failures so successive runs' violations are
      * distinguishable (the failures table is append-only).
      */
    runId: String = "") {

  private val byName = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")
  models.foreach(m => m.deps.foreach(d =>
    require(byName.contains(d), s"${m.name}: unknown dep $d")))
  // two models writing one table would overwrite each other, and at the
  // same time when they run concurrently (dbt rejects two nodes with one
  // relation)
  models.groupBy(_.targetTable.toLowerCase(java.util.Locale.ROOT)).values
    .foreach(ms => require(ms.size == 1,
      s"models ${ms.map(_.name).mkString(" and ")} share target table ${ms.head.targetTable}"))
  require(parallelism >= 1, s"parallelism must be at least 1, got $parallelism")

  /** Deterministic topological order (stable within a rank). */
  val order: Seq[Model] = {
    val ranked = scala.collection.mutable.LinkedHashMap[String, Int]()
    def rank(n: String, seen: Set[String]): Int = {
      require(!seen(n), s"dependency cycle at $n")
      ranked.getOrElseUpdate(n,
        byName(n).deps.map(d => rank(d, seen + n) + 1).maxOption.getOrElse(0))
    }
    models.foreach(m => rank(m.name, Set.empty))
    models.sortBy(m => (ranked(m.name), m.name))
  }

  /** Run every model through [[graft.core.JobPool.run]]; the results come
    * back in [[order]]. A model's deps are its dependency edges, and a
    * model whose dep failed comes back `skipped: upstream failure` without
    * a build, retry or sleep. Rule violations are stored and counted, never
    * fatal; stored-failure appends are serialized (the Parquet table layer
    * has no concurrent-append transaction). A failed model re-runs alone
    * under `limits` through [[graft.core.JobPool.retry]], so models that
    * succeeded never re-append their stored failures under the same runId.
    */
  def run(spark: SparkSession, limits: JobPool.Limits = JobPool.Limits()): Seq[ModelRun] = {
    val failuresLock = new Object
    val index = order.map(_.name).zipWithIndex.toMap
    JobPool.run[Model, ModelRun](spark, order, parallelism, limits.deadline)(
        i => order(i).deps.map(index)) { (m, upstream) =>
      if (upstream.exists(!_.ok))
        ModelRun(m.name, ok = false, 0, 0, Some("skipped: upstream failure"))
      else JobPool.retry(limits)(runOne(spark, m, failuresLock))(_.ok)
    }
  }

  /** One attempt at `m`: overwrite-materialized models are idempotent per
    * attempt, so [[run]] may re-run it.
    */
  private def runOne(spark: SparkSession, m: Model, failuresLock: Object): ModelRun =
    Try {
      val df = m.build(spark)
      // an overwrite's written rows are the table, so they are counted on
      // the write itself; an incremental append's are only the new rows,
      // so the table is counted after it. Observations are single-use:
      // each attempt makes its own
      val rowCount = m.incrementalCol match {
        case Some(c) if format.exists(spark, m.targetTable) =>
          val hwm = spark.table(m.targetTable).agg(max(col(c))).head().get(0)
          val fresh = if (hwm == null) df else df.filter(col(c) > lit(hwm))
          format.appendMergeSchema(spark, fresh, m.targetTable)
          spark.table(m.targetTable).count()
        case _ =>
          val written = new Observation(s"rows_${m.name}")
          format.overwrite(spark,
            df.observe(written, count(lit(1)).as("rows")), m.targetTable)
          written.get("rows").asInstanceOf[Long]
      }
      // the stored-failures append is the attempt's LAST action, and its
      // violation count comes from an Observation on that same write: a
      // transient failure anywhere earlier re-runs the attempt without
      // having appended, and a failure during the append itself is the only
      // (unavoidable) partial-write window — retries cannot double-append
      val violations = m.rules.map { rs =>
        val fails = rs.failures(spark.table(m.targetTable))
        failuresTable match {
          case Some(t) =>
            val stored = new Observation(s"violations_${m.name}")
            failuresLock.synchronized {
              format.appendMergeSchema(spark,
                fails.select("table_name", "rule")
                  .withColumn("run_id", lit(runId))
                  .observe(stored, count(lit(1)).as("violations")),
                t)
            }
            stored.get("violations").asInstanceOf[Long]
          case None => fails.count()
        }
      }.getOrElse(0L)
      ModelRun(m.name, ok = true, rowCount, violations)
    } match {
      case Success(r) => r
      case Failure(e) => ModelRun(m.name, ok = false, 0, 0, Some(e.toString))
    }
}
