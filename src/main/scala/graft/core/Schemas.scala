package graft.core

import org.apache.spark.sql.types._

/** Typed schemas for the two source entities (claims, policies).
  *
  * Column lists follow the reference CSV headers (reference
  * data/raw/sample_claims.csv:1, sample_policies.csv:1) and the dbt source
  * declarations (dbt/models/sources.yml:9-77). Types are *declared*, not
  * inferred — production ingest pins a StructType contract (money as
  * DECIMAL(12,2), dates as DATE) where the reference let inferSchema produce
  * doubles; a strict-schema read surfaces drift instead of absorbing it.
  */
object Schemas {

  val claims: StructType = StructType(Seq(
    StructField("claim_id", StringType, nullable = false),
    StructField("policy_id", StringType, nullable = false),
    StructField("customer_id", StringType, nullable = false),
    StructField("claim_amount", DecimalType(12, 2)),
    StructField("claim_date", DateType),
    StructField("claim_type", StringType),
    StructField("claim_status", StringType),
    StructField("description", StringType),
    StructField("adjuster_id", StringType),
    StructField("settlement_amount", DecimalType(12, 2)),
    StructField("settlement_date", DateType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val policies: StructType = StructType(Seq(
    StructField("policy_id", StringType, nullable = false),
    StructField("customer_id", StringType, nullable = false),
    StructField("policy_number", StringType),
    StructField("policy_type", StringType),
    StructField("premium_amount", DecimalType(12, 2)),
    StructField("deductible_amount", DecimalType(12, 2)),
    StructField("coverage_limit", DecimalType(14, 2)),
    StructField("start_date", DateType),
    StructField("end_date", DateType),
    StructField("policy_status", StringType),
    StructField("agent_id", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  /** Enum domains (reference sources.yml:38-39,44-45,63-64;
    * test_insurance_data_quality.py:98).
    */
  val claimTypes: Seq[String] = Seq("AUTO", "HOME", "LIFE", "HEALTH", "BUSINESS")
  val claimStatuses: Seq[String] = Seq("OPEN", "CLOSED", "PENDING", "REJECTED")
  val policyTypes: Seq[String] = claimTypes
  val policyStatuses: Seq[String] =
    Seq("ACTIVE", "PENDING", "CANCELLED", "EXPIRED", "SUSPENDED")
}
