package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.models.InsuranceModels
import graft.quality._

/** Rule DSL semantics over the dirty fixture (FIXTURES.md §4) and synthetic
  * frames: violations, quarantine, severities, null-safe three-valued logic.
  */
class RuleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val dirtySilver = {
    val dir = Fixtures.tempDir("graft_fixtures")
    val csv = Fixtures.writeCsv(dir, "dirty.csv",
      Fixtures.policiesHeader, Fixtures.dirtyPoliciesRows)
    spark.sql("CREATE DATABASE IF NOT EXISTS rule_test")
    spark.read.option("header", "true").csv(csv)
      .write.mode("overwrite").saveAsTable("rule_test.bronze_dirty")
    InsuranceModels.silverPolicies("rule_test.bronze_dirty")(spark).cache()
  }

  test("each dirty row trips exactly the intended rule") {
    val rs = InsuranceModels.policiesRules
    val ann = rs.annotate(dirtySilver)
    def failedFor(id: String): Set[String] =
      ann.filter(col("policy_number") === s"NBX-X-$id")
        .select(explode(col("failed_rules"))).as[String].collect().toSet
    assert(failedFor("950").contains("not_null_policy_id"))
    assert(failedFor("951").contains("accepted_values_policy_type"))
    assert(failedFor("952").contains("range_premium_amount"))
    assert(failedFor("953").contains("end_after_start"))
    assert(failedFor("953").contains("duration_start_date_end_date"))
    assert(failedFor("954").contains("pattern_policy_id"))
    // unparseable date → null start_date → cross-column rules flag it
    assert(failedFor("955").contains("end_after_start"))
  }

  test("quarantine splits clean rows from violating rows") {
    val rs = InsuranceModels.policiesRules
    val (clean, bad) = rs.quarantine(dirtySilver)
    assert(clean.count() == 0) // every dirty row violates something
    assert(bad.count() == 6)
    assert(bad.columns.contains("failed_rules"))
  }

  test("unique rule surfaces all duplicated rows") {
    val df = Seq(("A", 1), ("A", 2), ("B", 3)).toDF("k", "v")
    val v = Unique(Seq("k")).violations(df)
    assert(v.count() == 2)
    assert(v.select("k").distinct().as[String].collect().toSeq == Seq("A"))
  }

  test("conditional rule only fires where the condition holds") {
    val df = Seq(("LIFE", 40000.0), ("LIFE", 60000.0), ("AUTO", 1000.0))
      .toDF("ptype", "coverage")
    val r = Conditional("life_min_coverage",
      col("ptype") === "LIFE", col("coverage") >= 50000)
    assert(r.violations(df).count() == 1)
    // a null condition means the rule doesn't apply — the row passes
    val withNull = Seq((Option("LIFE"), 40000.0), (Option.empty[String], 1000.0))
      .toDF("ptype", "coverage")
    assert(r.violations(withNull).count() == 1)
  }

  test("severity boundaries: ok < 90%, warning in [90%,100%], critical above") {
    // 0.046 not 0.045: 0.9*0.05 rounds up in binary, the exact boundary is
    // not representable — rule semantics are "within 90% of threshold"
    val df = Seq(0.03, 0.046, 0.05, 0.051).toDF("m")
      .select(QualityReport.severity(col("m"), 0.05).as("s"))
    assert(df.as[String].collect().toSeq ==
      Seq("ok", "warning", "warning", "critical"))
  }

  test("stored failures carry table and rule names") {
    val rs = RuleSet("t", Seq(NotNull("x")))
    val fails = rs.failures(Seq(Some(1), None).toDF("x"))
    val row = fails.head
    assert(row.getAs[String]("table_name") == "t")
    assert(row.getAs[String]("rule") == "not_null_x")
  }
}
