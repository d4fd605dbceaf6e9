package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Cleansing._
import graft.models.InsuranceModels
import graft.sources.ParquetTableFormat

/** Silver cleansing contract (FIXTURES.md §5 / reference
  * tests/unit/test_ingestion.py:204-253): padding, case, thousands
  * separators, multi-format dates.
  */
class CleansingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("normalizeId trims and uppercases") {
    val got = Seq("  pol900  ", "POL901", "pol902").toDF("id")
      .select(normalizeId(col("id")).as("id")).as[String].collect().toSeq
    assert(got == Seq("POL900", "POL901", "POL902"))
  }

  test("parseAmount handles thousands separators into decimal(12,2)") {
    val got = Seq("1,500.50", "45,000.00", "980", "x").toDF("a")
      .select(parseAmount(col("a")).as("a")).collect().map(r => Option(r.get(0)))
    assert(got(0).get.toString == "1500.50")
    assert(got(1).get.toString == "45000.00")
    assert(got(2).get.toString == "980.00")
    assert(got(3).isEmpty) // unparseable → null, not a crash
  }

  test("parseDate normalizes the three observed formats, null on garbage") {
    val got = Seq("2024-01-15", "01/15/2024", "2024/01/15", "invalid-date")
      .toDF("d").select(parseDate(col("d")).as("d")).collect()
      .map(r => Option(r.get(0)).map(_.toString))
    assert(got.take(3).forall(_.contains("2024-01-15")))
    assert(got(3).isEmpty)
  }

  test("silver_policies end-to-end cleanses the messy fixture") {
    val dir = Fixtures.tempDir("graft_fixtures")
    val messyCsv = Fixtures.writeCsv(dir, "messy.csv",
      Fixtures.policiesHeader, Fixtures.messyPoliciesRows)
    spark.sql("CREATE DATABASE IF NOT EXISTS cleansing_test")
    spark.read.option("header", "true").csv(messyCsv)
      .write.mode("overwrite").saveAsTable("cleansing_test.bronze_messy")
    val silver = InsuranceModels.silverPolicies("cleansing_test.bronze_messy")(spark)
    val row900 = silver.filter(col("policy_id") === "POL900").head
    assert(row900.getAs[java.math.BigDecimal]("premium_amount")
      .compareTo(new java.math.BigDecimal("1500.50")) == 0)
    assert(row900.getAs[java.math.BigDecimal]("coverage_limit")
      .compareTo(new java.math.BigDecimal("45000.00")) == 0)
    assert(row900.getAs[java.sql.Date]("start_date").toString == "2024-01-15")
    assert(row900.getAs[java.sql.Date]("end_date").toString == "2025-01-15")
    assert(row900.getAs[String]("policy_type") == "AUTO")
    assert(row900.getAs[String]("policy_status") == "ACTIVE")
    assert(row900.getAs[String]("agent_id") == "AGT900")
    val row901 = silver.filter(col("policy_id") === "POL901").head
    assert(row901.getAs[String]("policy_type") == "HOME")
    assert(row901.getAs[java.sql.Date]("end_date").toString == "2026-02-01")
  }
}
