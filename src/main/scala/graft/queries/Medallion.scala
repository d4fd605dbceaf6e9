package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.models.InsuranceModels

/** End-to-end medallion pipeline gate (SURVEY §2.9 + §2.7 C1-C4 + §2.4 A7):
  * bronze→silver→gold for the claims/policies domain, oracle-checked.
  *
  * The testdata has no claims tables, so bronze-shaped raw rows are derived
  * DETERMINISTICALLY from orders/customer (dirty ids with stray case and
  * whitespace, thousands-separated amount strings, three date formats —
  * the exact cleansing contract of reference tests/unit/test_ingestion.py:
  * 204-253), written to parquet and read back (the q17 write-then-read
  * materialization pattern), then pushed through the REAL library models:
  * [[InsuranceModels.silverClaims]]/[[InsuranceModels.silverPolicies]]
  * (C1-C4 cleansing) and [[InsuranceModels.goldClaimsSummary]] (A7,
  * reference dbt_project.yml:97). The DuckDB twin re-derives the same rows
  * and mirrors every cleansing step (upper/trim, try_cast over
  * de-comma'd amounts, try_strptime coalesce).
  *
  * Gate projection notes: decimal aggregates are cast to DOUBLE at the end
  * (exact — sums stay within decimal range); the settlement ratio is
  * recomputed as a double division of the two emitted totals so both engines
  * round identically; month is cast to DATE (Spark date_trunc yields
  * timestamp, DuckDB yields date).
  */
object Medallion {

  /** Bronze-shaped dirty claims derived from orders. */
  private def rawClaims(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.orders(s, dir).select(
      concat(lit("  clm"), col("o_orderkey").cast("string")).as("claim_id"),
      concat(lit(" pol"), col("o_custkey").cast("string")).as("policy_id"),
      concat(lit(" cust"), col("o_custkey").cast("string")).as("customer_id"),
      concat(lit("adj"), (col("o_orderkey") % 97).cast("string")).as("adjuster_id"),
      when(col("o_orderkey") % 5 === 0, " auto")
        .when(col("o_orderkey") % 5 === 1, "home ")
        .when(col("o_orderkey") % 5 === 2, "life")
        .when(col("o_orderkey") % 5 === 3, "health")
        .otherwise(" business ").as("claim_type"),
      when(col("o_orderstatus") === "O", " open")
        .when(col("o_orderstatus") === "F", "closed ")
        .otherwise("pending").as("claim_status"),
      concat(
        expr("cast((o_orderkey % 9000 + 1000) div 1000 as string)"), lit(","),
        lpad(((col("o_orderkey") % 9000 + 1000) % 1000).cast("string"), 3, "0"),
        lit(".25")).as("claim_amount"),
      when(col("o_orderstatus") === "F",
        concat(expr("cast((o_orderkey % 9000 + 1000) div 2 as string)"), lit(".00")))
        .as("settlement_amount"),
      // o_orderdate is a midnight TIMESTAMP in the testdata — format
      // explicitly (a bare string cast would carry ' 00:00:00' and fail the
      // strict yyyy-MM-dd parse that DuckDB's strftime twin passes)
      when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy/MM/dd")).as("claim_date"),
      when(col("o_orderstatus") === "F",
        date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy/MM/dd"))
        .as("settlement_date"))

  /** Bronze-shaped dirty policies derived from customer (one per custkey, so
    * the gold left-join is row-preserving in both engines).
    */
  private def rawPolicies(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.customer(s, dir).select(
      concat(lit(" pol"), col("c_custkey").cast("string")).as("policy_id"),
      concat(lit("cust"), col("c_custkey").cast("string")).as("customer_id"),
      concat(lit("agt"), (col("c_custkey") % 50).cast("string")).as("agent_id"),
      when(col("c_custkey") % 5 === 0, " auto")
        .when(col("c_custkey") % 5 === 1, "home ")
        .when(col("c_custkey") % 5 === 2, "life")
        .when(col("c_custkey") % 5 === 3, "health")
        .otherwise(" business ").as("policy_type"),
      when(col("c_custkey") % 3 === 0, " active")
        .when(col("c_custkey") % 3 === 1, "expired ")
        .otherwise("cancelled").as("policy_status"),
      concat(lit("1,"), lpad((col("c_custkey") % 900 + 100).cast("string"), 3, "0"),
        lit(".00")).as("premium_amount"),
      ((col("c_custkey") % 40 + 10) * 100).cast("string").as("deductible_amount"),
      concat(lit("1,000,"), lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
        lit(".00")).as("coverage_limit"),
      lit("2024-01-15").as("start_date"),
      lit("12/31/2024").as("end_date"))

  private val medallion = QueryDef(
    (s, dir) => {
      // bronze: materialize the raw claims, read back (q17 pattern — the
      // scan the silver model sees is a real parquet read, not lineage)
      // unique per Spark app: two concurrent gate/bench runs on one machine
      // must not overwrite each other's bronze data mid-query
      val tmp = graft.core.Housekeeping.scratchDir(s, "medallion_bronze")
      rawClaims(s, dir).write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp).createOrReplaceTempView("graft_mdl_bronze_claims")
      rawPolicies(s, dir).createOrReplaceTempView("graft_mdl_bronze_policies")
      // silver: the library cleansing models (C1-C4)
      InsuranceModels.silverClaims("graft_mdl_bronze_claims")(s)
        .createOrReplaceTempView("graft_mdl_silver_claims")
      InsuranceModels.silverPolicies("graft_mdl_bronze_policies")(s)
        .createOrReplaceTempView("graft_mdl_silver_policies")
      // gold: the library summary model (A7), projected for exact comparison
      InsuranceModels.goldClaimsSummary(
        "graft_mdl_silver_claims", "graft_mdl_silver_policies")(s)
        .select(
          col("claim_type"), col("claim_status"),
          col("claim_month").cast("date").as("claim_month"),
          col("n_claims"),
          col("total_claim_amount").cast("double").as("total_claim_amount"),
          col("min_claim_amount").cast("double").as("min_claim_amount"),
          col("max_claim_amount").cast("double").as("max_claim_amount"),
          col("total_settlement_amount").cast("double").as("total_settlement_amount"),
          (col("total_settlement_amount").cast("double") /
            col("total_claim_amount").cast("double")).as("settlement_ratio"),
          col("n_open"))
        .orderBy("claim_type", "claim_status", "claim_month")
    },
    """WITH raw_claims AS (
      |  SELECT
      |    concat('  clm', CAST(o_orderkey AS VARCHAR)) AS claim_id,
      |    concat(' pol', CAST(o_custkey AS VARCHAR)) AS policy_id,
      |    CASE CAST(o_orderkey % 5 AS INTEGER)
      |      WHEN 0 THEN ' auto' WHEN 1 THEN 'home ' WHEN 2 THEN 'life'
      |      WHEN 3 THEN 'health' ELSE ' business ' END AS claim_type,
      |    CASE o_orderstatus WHEN 'O' THEN ' open' WHEN 'F' THEN 'closed '
      |      ELSE 'pending' END AS claim_status,
      |    concat(CAST((o_orderkey % 9000 + 1000) // 1000 AS VARCHAR), ',',
      |      lpad(CAST((o_orderkey % 9000 + 1000) % 1000 AS VARCHAR), 3, '0'),
      |      '.25') AS claim_amount,
      |    CASE WHEN o_orderstatus = 'F' THEN
      |      concat(CAST((o_orderkey % 9000 + 1000) // 2 AS VARCHAR), '.00')
      |    END AS settlement_amount,
      |    CASE CAST(o_orderkey % 3 AS INTEGER)
      |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
      |      WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
      |      ELSE strftime(o_orderdate, '%Y/%m/%d') END AS claim_date
      |  FROM orders),
      |silver_claims AS (
      |  SELECT
      |    upper(trim(claim_id)) AS claim_id,
      |    upper(trim(policy_id)) AS policy_id,
      |    upper(trim(claim_type)) AS claim_type,
      |    upper(trim(claim_status)) AS claim_status,
      |    try_cast(replace(claim_amount, ',', '') AS DECIMAL(12,2)) AS claim_amount,
      |    try_cast(replace(settlement_amount, ',', '') AS DECIMAL(12,2)) AS settlement_amount,
      |    CAST(coalesce(
      |      try_strptime(claim_date, '%Y-%m-%d'),
      |      try_strptime(claim_date, '%m/%d/%Y'),
      |      try_strptime(claim_date, '%Y/%m/%d')) AS DATE) AS claim_date
      |  FROM raw_claims),
      |silver_policies AS (
      |  SELECT
      |    upper(trim(concat(' pol', CAST(c_custkey AS VARCHAR)))) AS policy_id,
      |    upper(trim(CASE CAST(c_custkey % 5 AS INTEGER)
      |      WHEN 0 THEN ' auto' WHEN 1 THEN 'home ' WHEN 2 THEN 'life'
      |      WHEN 3 THEN 'health' ELSE ' business ' END)) AS policy_type
      |  FROM customer),
      |joined AS (
      |  SELECT c.*, p.policy_type
      |  FROM silver_claims c LEFT JOIN silver_policies p USING (policy_id))
      |SELECT claim_type, claim_status,
      |  CAST(date_trunc('month', claim_date) AS DATE) AS claim_month,
      |  COUNT(*) AS n_claims,
      |  CAST(SUM(claim_amount) AS DOUBLE) AS total_claim_amount,
      |  CAST(MIN(claim_amount) AS DOUBLE) AS min_claim_amount,
      |  CAST(MAX(claim_amount) AS DOUBLE) AS max_claim_amount,
      |  CAST(SUM(settlement_amount) AS DOUBLE) AS total_settlement_amount,
      |  CAST(SUM(settlement_amount) AS DOUBLE) / CAST(SUM(claim_amount) AS DOUBLE)
      |    AS settlement_ratio,
      |  CAST(SUM(CASE WHEN claim_status = 'OPEN' THEN 1 ELSE 0 END) AS BIGINT) AS n_open
      |FROM joined
      |GROUP BY 1, 2, 3
      |ORDER BY claim_type, claim_status, claim_month""".stripMargin)

  /** gold_policy_summary (SURVEY §2.9, the policy-side symmetric of q65):
    * dirty bronze policies → silverPolicies cleansing (C1-C4) →
    * goldPolicySummary rollup. avg_premium is recomputed as a double
    * division of the emitted exact totals so both engines round identically
    * (the q65 settlement_ratio recipe).
    */
  private val policySummary = QueryDef(
    (s, dir) => {
      rawPolicies(s, dir).createOrReplaceTempView("graft_mdl_bronze_policies_q81")
      InsuranceModels.silverPolicies("graft_mdl_bronze_policies_q81")(s)
        .createOrReplaceTempView("graft_mdl_silver_policies_q81")
      InsuranceModels.goldPolicySummary("graft_mdl_silver_policies_q81")(s)
        .select(col("policy_type"), col("policy_status"),
          col("n_policies"),
          col("total_premium").cast("double").as("total_premium"),
          (col("total_premium").cast("double") / col("n_policies")).as("avg_premium"),
          col("total_coverage").cast("double").as("total_coverage"),
          col("n_active"))
        .orderBy("policy_type", "policy_status")
    },
    """WITH silver AS (
      |  SELECT
      |    upper(trim(CASE CAST(c_custkey % 5 AS INTEGER)
      |      WHEN 0 THEN ' auto' WHEN 1 THEN 'home ' WHEN 2 THEN 'life'
      |      WHEN 3 THEN 'health' ELSE ' business ' END)) AS policy_type,
      |    upper(trim(CASE CAST(c_custkey % 3 AS INTEGER)
      |      WHEN 0 THEN ' active' WHEN 1 THEN 'expired ' ELSE 'cancelled' END)) AS policy_status,
      |    try_cast(replace(concat('1,', lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0'), '.00'), ',', '') AS DECIMAL(12,2)) AS premium_amount,
      |    try_cast(replace(concat('1,000,', lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'), '.00'), ',', '') AS DECIMAL(12,2)) AS coverage_limit
      |  FROM customer)
      |SELECT policy_type, policy_status,
      |  COUNT(*) AS n_policies,
      |  CAST(SUM(premium_amount) AS DOUBLE) AS total_premium,
      |  CAST(SUM(premium_amount) AS DOUBLE) / COUNT(*) AS avg_premium,
      |  CAST(SUM(coverage_limit) AS DOUBLE) AS total_coverage,
      |  CAST(SUM(CASE WHEN policy_status = 'ACTIVE' THEN 1 ELSE 0 END) AS BIGINT) AS n_active
      |FROM silver GROUP BY 1, 2 ORDER BY policy_type, policy_status""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q65_medallion" -> medallion,
    "q81_policy_summary" -> policySummary)
}
