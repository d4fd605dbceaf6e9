package graft.core

/** Pipeline configuration.
  *
  * The part of the reference's config surface (reference
  * scripts/utils/config.py:14-85) that the pipeline reads: environment name,
  * database naming with the medallion-layer suffix convention
  * (`{app}_{env}_{layer}`, config.py:42, :83-85) and the retry count
  * (config.py:58). The retry delay is `Orchestrator`'s `retrySleepMs`; the
  * dataset quality thresholds (config.py:52-54) are the
  * `QualityReport.datasetChecks` defaults.
  */
final case class AppConfig(
    appName: String = "graft",
    environment: String = "dev",
    maxRetries: Int = 3) {

  require(Set("dev", "staging", "prod")(environment),
    s"unknown environment: $environment")

  /** `{app}_{env}_{layer}` database name (mirrors config.py:83-85). */
  def database(layer: Layer): String = s"${appName}_${environment}_${layer.name}"

  /** Fully-qualified `{database}.{table}` name. */
  def tableName(layer: Layer, table: String): String =
    s"${database(layer)}.$table"
}

/** Medallion layer (reference dbt_project.yml:89-93 creates one schema per
  * layer; bronze = raw ingest, silver = cleansed, gold = aggregated).
  */
sealed abstract class Layer(val name: String)
object Layer {
  case object Bronze extends Layer("bronze")
  case object Silver extends Layer("silver")
  case object Gold extends Layer("gold")
  val all: Seq[Layer] = Seq(Bronze, Silver, Gold)
}
