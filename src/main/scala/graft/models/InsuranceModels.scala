package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AppConfig, Layer, Schemas}
import graft.functions.Cleansing._
import graft.quality._

/** The canonical medallion models for the claims/policies domain.
  *
  * Bronze mirrors the reference's implemented models (reference
  * dbt/models/bronze/bronze_claims.sql:8-25 — explicit projection + run
  * metadata). Silver and gold are declared-but-unwritten in the reference
  * (dbt_project.yml:37-46, README.md:190-192); their semantics here are our
  * canonical definition derived from the cleansing contract (SURVEY §2.7)
  * and DQ rules (SURVEY §2.6) — see SURVEY §2.9.
  */
object InsuranceModels {

  /** Quality rules for silver_claims (reference sources.yml:13-45 +
    * dbt_project.yml:82-84 amount bounds).
    */
  val claimsRules: RuleSet = RuleSet("silver_claims", Seq(
    NotNull("claim_id"), NotNull("policy_id"), NotNull("customer_id"),
    NotNull("claim_amount"), NotNull("claim_date"),
    Unique(Seq("claim_id")),
    AcceptedValues("claim_type", Schemas.claimTypes),
    AcceptedValues("claim_status", Schemas.claimStatuses),
    Pattern("claim_id", "^CLM\\d{3,}$"),
    InRange("claim_amount", 0, 10000000),
    Conditional("settled_has_amount",
      col("claim_status") === "CLOSED", col("settlement_amount").isNotNull)))

  /** Quality rules for silver_policies (reference sources.yml:50-77 +
    * test_insurance_data_quality.py:55-142,250-267).
    */
  val policiesRules: RuleSet = RuleSet("silver_policies", Seq(
    NotNull("policy_id"), NotNull("customer_id"), NotNull("premium_amount"),
    Unique(Seq("policy_id")),
    AcceptedValues("policy_type", Schemas.policyTypes),
    AcceptedValues("policy_status", Schemas.policyStatuses),
    Pattern("policy_id", "^POL\\d{3,}$"),
    Pattern("agent_id", "^AGT\\d{3,}$"),
    InRange("premium_amount", 100, 100000),
    InRange("coverage_limit", 1000, 10000000),
    Check("end_after_start", col("end_date") > col("start_date")),
    Check("deductible_ratio",
      col("deductible_amount") <= col("coverage_limit") * 0.5),
    DurationDays("start_date", "end_date", 30, 365 * 5)))

  /** dbt-style bronze model: explicit projection + run metadata columns. */
  private def bronze(src: String, cols: Seq[String], runId: String)(
      spark: SparkSession): DataFrame =
    spark.table(src)
      .select(cols.map(col): _*)
      .withColumn("dbt_run_timestamp", current_timestamp())
      .withColumn("dbt_invocation_id", lit(runId))

  /** Silver cleansing: normalize ids/enums, parse amounts and multi-format
    * dates, keep every row (violations are *flagged* via rules and
    * quarantined by the pipeline, not dropped here).
    */
  def silverClaims(bronzeTable: String)(spark: SparkSession): DataFrame =
    spark.table(bronzeTable)
      .withColumn("claim_id", normalizeId(col("claim_id")))
      .withColumn("policy_id", normalizeId(col("policy_id")))
      .withColumn("customer_id", normalizeId(col("customer_id")))
      .withColumn("adjuster_id", normalizeId(col("adjuster_id")))
      .withColumn("claim_type", normalizeEnum(col("claim_type")))
      .withColumn("claim_status", normalizeEnum(col("claim_status")))
      .withColumn("claim_amount", parseAmount(col("claim_amount")))
      .withColumn("settlement_amount", parseAmount(col("settlement_amount")))
      .withColumn("claim_date", parseDate(col("claim_date").cast("string")))
      .withColumn("settlement_date", parseDate(col("settlement_date").cast("string")))

  def silverPolicies(bronzeTable: String)(spark: SparkSession): DataFrame =
    spark.table(bronzeTable)
      .withColumn("policy_id", normalizeId(col("policy_id")))
      .withColumn("customer_id", normalizeId(col("customer_id")))
      .withColumn("agent_id", normalizeId(col("agent_id")))
      .withColumn("policy_type", normalizeEnum(col("policy_type")))
      .withColumn("policy_status", normalizeEnum(col("policy_status")))
      .withColumn("premium_amount", parseAmount(col("premium_amount")))
      .withColumn("deductible_amount", parseAmount(col("deductible_amount")))
      .withColumn("coverage_limit", parseAmount(col("coverage_limit")))
      .withColumn("start_date", parseDate(col("start_date").cast("string")))
      .withColumn("end_date", parseDate(col("end_date").cast("string")))

  /** gold_claims_summary (SURVEY §2.9): claims⋈policies (left — orphan
    * claims still count), grouped by claim type/status/month. Policies side
    * is broadcast: dimension-sized at any realistic SF.
    */
  def goldClaimsSummary(silverClaims: String, silverPolicies: String)(
      spark: SparkSession): DataFrame = {
    val c = spark.table(silverClaims)
    val p = broadcast(spark.table(silverPolicies)
      .select(col("policy_id"), col("policy_type")))
    c.join(p, Seq("policy_id"), "left")
      .groupBy(col("claim_type"), col("claim_status"),
        date_trunc("month", col("claim_date")).as("claim_month"))
      .agg(
        count(lit(1)).as("n_claims"),
        sum(col("claim_amount")).as("total_claim_amount"),
        avg(col("claim_amount")).as("avg_claim_amount"),
        min(col("claim_amount")).as("min_claim_amount"),
        max(col("claim_amount")).as("max_claim_amount"),
        sum(col("settlement_amount")).as("total_settlement_amount"),
        (sum(col("settlement_amount")) / sum(col("claim_amount")))
          .as("settlement_ratio"),
        sum(when(col("claim_status") === "OPEN", 1).otherwise(0)).as("n_open"))
  }

  /** gold_policy_summary (SURVEY §2.9): premium/coverage rollup per
    * type/status, plus active counts.
    */
  def goldPolicySummary(silverPolicies: String)(spark: SparkSession): DataFrame =
    spark.table(silverPolicies)
      .groupBy("policy_type", "policy_status")
      .agg(
        count(lit(1)).as("n_policies"),
        sum(col("premium_amount")).as("total_premium"),
        avg(col("premium_amount")).as("avg_premium"),
        sum(col("coverage_limit")).as("total_coverage"),
        sum(when(col("policy_status") === "ACTIVE", 1).otherwise(0)).as("n_active"))

  /** The full model graph over a config's table namespace. */
  def graph(cfg: AppConfig, runId: String): Seq[Model] = {
    val bronzeClaims = cfg.tableName(Layer.Bronze, "claims")
    val bronzePolicies = cfg.tableName(Layer.Bronze, "policies")
    val bClaims = cfg.tableName(Layer.Bronze, "bronze_claims")
    val bPolicies = cfg.tableName(Layer.Bronze, "bronze_policies")
    val sClaims = cfg.tableName(Layer.Silver, "silver_claims")
    val sPolicies = cfg.tableName(Layer.Silver, "silver_policies")
    Seq(
      Model("bronze_claims", bClaims,
        build = bronze(bronzeClaims,
          Schemas.claims.fieldNames.toSeq :+ "ingestion_timestamp", runId)),
      Model("bronze_policies", bPolicies,
        build = bronze(bronzePolicies,
          Schemas.policies.fieldNames.toSeq :+ "ingestion_timestamp", runId)),
      Model("silver_claims", sClaims, deps = Seq("bronze_claims"),
        build = silverClaims(bClaims), rules = Some(claimsRules)),
      Model("silver_policies", sPolicies, deps = Seq("bronze_policies"),
        build = silverPolicies(bPolicies), rules = Some(policiesRules)),
      Model("gold_claims_summary", cfg.tableName(Layer.Gold, "claims_summary"),
        deps = Seq("silver_claims", "silver_policies"),
        build = goldClaimsSummary(sClaims, sPolicies)),
      Model("gold_policy_summary", cfg.tableName(Layer.Gold, "policy_summary"),
        deps = Seq("silver_policies"),
        build = goldPolicySummary(sPolicies)))
  }
}
