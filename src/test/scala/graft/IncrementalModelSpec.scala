package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.models.{Model, ModelGraph}
import graft.quality.{NotNull, RuleSet, Unique}
import graft.sources.ParquetTableFormat

/** ModelGraph execution: dependency-driven concurrent runs, failure
  * isolation, counts observed on the writes, and incremental
  * materialization (only rows past the high-watermark append on re-runs; a
  * full rebuild never happens once the table exists).
  */
class IncrementalModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def source(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS incr_test")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable("incr_test.psrc")
  }

  /** `body`, failing the test instead of hanging if it blocks. */
  private def within[A](body: => A): A =
    Await.result(Future(body)(ExecutionContext.global), 2.minutes)

  test("parallel execution yields the same results as sequential") {
    source()
    def models(suffix: String) = Seq(
      Model(s"a", s"incr_test.pa_$suffix", build = s => s.table("incr_test.psrc")),
      Model(s"b", s"incr_test.pb_$suffix", build = s => s.table("incr_test.psrc")),
      Model(s"c", s"incr_test.pc_$suffix", deps = Seq("a", "b"),
        build = s => s.table(s"incr_test.pa_$suffix")
          .unionAll(s.table(s"incr_test.pb_$suffix"))))
    val serial = new ModelGraph(models("s"), ParquetTableFormat,
      parallelism = 1).run(spark)
    val graph = new ModelGraph(models("p"), ParquetTableFormat)
    val concurrent = graph.run(spark)
    assert(serial.forall(_.ok) && concurrent.forall(_.ok))
    assert(serial == concurrent)
    assert(concurrent.map(_.name) == graph.order.map(_.name))
    assert(concurrent.map(_.rows) == Seq(2L, 2L, 4L))
    assert(spark.table("incr_test.pc_p").count() == 4)
  }

  test("a failing model skips its dependents, not the branch beside it") {
    source()
    val models = Seq(
      Model("bad", "incr_test.f_bad",
        build = _ => throw new IllegalStateException("boom")),
      Model("after_bad", "incr_test.f_after_bad", deps = Seq("bad"),
        build = s => s.table("incr_test.f_bad")),
      Model("after_after_bad", "incr_test.f_after_after_bad", deps = Seq("after_bad"),
        build = s => s.table("incr_test.f_after_bad")),
      Model("side", "incr_test.f_side", build = s => s.table("incr_test.psrc")),
      Model("after_side", "incr_test.f_after_side", deps = Seq("side"),
        build = s => s.table("incr_test.f_side").filter(col("id") > 1)))
    val runs = within(new ModelGraph(models, ParquetTableFormat).run(spark))
      .map(r => r.name -> r).toMap
    assert(!runs("bad").ok && runs("bad").error.exists(_.contains("boom")))
    Seq("after_bad", "after_after_bad").foreach(n => assert(
      !runs(n).ok && runs(n).error.contains("skipped: upstream failure"), n))
    assert(runs("side").ok && runs("side").rows == 2)
    assert(runs("after_side").ok && runs("after_side").rows == 1)
  }

  test("two models with one target table are rejected, naming both") {
    val e = intercept[IllegalArgumentException](new ModelGraph(Seq(
      Model("first", "incr_test.same", build = s => s.table("incr_test.psrc")),
      Model("second", "INCR_TEST.SAME", build = s => s.table("incr_test.psrc"))),
      ParquetTableFormat))
    assert(e.getMessage.contains("first") && e.getMessage.contains("second"))
  }

  test("a model whose build yields no rows reports rows = 0") {
    source()
    val runs = within(new ModelGraph(Seq(
      Model("folded", "incr_test.z_folded",
        build = s => s.table("incr_test.psrc").filter(lit(false))),
      Model("filtered", "incr_test.z_filtered",
        build = s => s.table("incr_test.psrc").filter(col("id") < 0))),
      ParquetTableFormat).run(spark))
    assert(runs.map(r => (r.name, r.ok, r.rows)) ==
      Seq(("filtered", true, 0L), ("folded", true, 0L)))
    assert(spark.table("incr_test.z_folded").count() == 0)
  }

  test("a rule set with no violations reports 0, with and without a failures table") {
    source()
    val rules = Some(RuleSet("psrc", Seq(NotNull("id"), Unique(Seq("id")))))
    def graph(failures: Option[String]) = new ModelGraph(Seq(
      Model("clean", s"incr_test.r_clean_${failures.isDefined}",
        build = s => s.table("incr_test.psrc"), rules = rules)),
      ParquetTableFormat, failuresTable = failures, runId = "clean-run")
    spark.sql("DROP TABLE IF EXISTS incr_test.r_failures")
    val stored = within(graph(Some("incr_test.r_failures")).run(spark))
    val counted = within(graph(None).run(spark))
    assert(stored.map(r => (r.ok, r.rows, r.testViolations)) == Seq((true, 2L, 0L)))
    assert(counted.map(r => (r.ok, r.rows, r.testViolations)) == Seq((true, 2L, 0L)))
    assert(spark.table("incr_test.r_failures").count() == 0)
  }

  test("a retried model attempt counts its rows afresh") {
    source()
    val builds = new AtomicInteger()
    val model = Model("flaky", "incr_test.flaky", build = { s =>
      val src = s.table("incr_test.psrc")
      // the first attempt fails while its write runs, after its row
      // Observation was attached
      if (builds.incrementAndGet() == 1) src.filter(raise_error(lit("transient")).isNull)
      else src
    })
    val runs = within(new ModelGraph(Seq(model), ParquetTableFormat)
      .run(spark, graft.core.JobPool.Limits(retries = 1)))
    assert(builds.get == 2)
    assert(runs.map(r => (r.ok, r.rows)) == Seq((true, 2L)))
  }

  test("second run appends only rows past the high-watermark") {
    spark.sql("CREATE DATABASE IF NOT EXISTS incr_test")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "seq")
      .write.mode("overwrite").saveAsTable("incr_test.src")

    def graph = new ModelGraph(Seq(Model("m", "incr_test.m_target",
      build = s => s.table("incr_test.src"),
      incrementalCol = Some("seq"))), ParquetTableFormat)

    assert(graph.run(spark).forall(_.ok))
    assert(spark.table("incr_test.m_target").count() == 2)

    // new source rows: one past the watermark (seq=30), one stale (seq=15
    // arrives late but below max=20 → NOT picked up; that's the documented
    // incremental trade-off)
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 15L)).toDF("id", "seq")
      .write.mode("overwrite").saveAsTable("incr_test.src")
    assert(graph.run(spark).forall(_.ok))
    val got = spark.table("incr_test.m_target")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }
}
