package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IncrementalAgg, IncrementalJoin}

/** The join-delta algebra ΔV = ΔR⋈S + R⋈ΔS + ΔR⋈ΔS on constructed
  * cases where every term matters: incremental refresh must equal a
  * from-scratch recompute of the post-delta join view, row for row.
  */
class IncrementalJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val groups = Seq("seg", "status")
  private val sums = Seq("total" -> "price")

  private def viewState(r: DataFrame, s: DataFrame): DataFrame =
    IncrementalAgg.state(r.join(s, Seq("k")), groups, sums)

  private def refreshed(r: DataFrame, rD: DataFrame,
      s: DataFrame, sD: DataFrame): DataFrame =
    IncrementalAgg.refresh(viewState(r, s),
      IncrementalJoin.deltaJoinState(IncrementalJoin.positive(r), rD,
        IncrementalJoin.positive(s), sD, "op", Seq("k"), groups, sums),
      groups, Seq("total"))

  private def rows(df: DataFrame): Set[(String, String, Long, BigDecimal)] =
    df.select(col("seg"), col("status"), col("n"),
      col("total").cast("decimal(18,2)"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)))).toSet

  test("both-sides delta: switched customer x repriced order nets one move") {
    val r = Seq((1L, "A"), (2L, "B")).toDF("k", "seg")
    val s = Seq((1L, "O", 10.0), (1L, "F", 20.0), (2L, "O", 5.0))
      .toDF("k", "status", "price")
    // customer 1 switches segment; its F order is repriced; one of its
    // orders is deleted; customer 2 gains an order
    val rD = Seq(("delete", 1L, "A"), ("insert", 1L, "Z"))
      .toDF("op", "k", "seg")
    val sD = Seq(
      ("delete", 1L, "F", 20.0), ("insert", 1L, "F", 25.0),
      ("delete", 1L, "O", 10.0),
      ("insert", 2L, "O", 7.0)).toDF("op", "k", "status", "price")
    val rNew = Seq((1L, "Z"), (2L, "B")).toDF("k", "seg")
    val sNew = Seq((1L, "F", 25.0), (2L, "O", 5.0), (2L, "O", 7.0))
      .toDF("k", "status", "price")
    assert(rows(refreshed(r, rD, s, sD)) == rows(viewState(rNew, sNew)))
  }

  test("one-sided and empty deltas degrade to the single-table rule") {
    val r = Seq((1L, "A"), (2L, "B"), (3L, "A")).toDF("k", "seg")
    val s = Seq((1L, "O", 1.0), (2L, "O", 2.0), (3L, "F", 3.0),
      (3L, "O", 4.0)).toDF("k", "status", "price")
    val empty = Seq.empty[(String, Long, String, Double)]
      .toDF("op", "k", "status", "price")
    val emptyR = Seq.empty[(String, Long, String)].toDF("op", "k", "seg")
    // delete all of customer 3's orders: its group must vanish entirely
    val sD = Seq(("delete", 3L, "F", 3.0), ("delete", 3L, "O", 4.0))
      .toDF("op", "k", "status", "price")
    val sNew = Seq((1L, "O", 1.0), (2L, "O", 2.0))
      .toDF("k", "status", "price")
    assert(rows(refreshed(r, emptyR, s, sD)) == rows(viewState(r, sNew)))
    // fully empty delta: refresh is the identity
    assert(rows(refreshed(r, emptyR, s, empty)) == rows(viewState(r, s)))
  }

  test("delta-only customer with delta-only orders joins via the cross term") {
    val r = Seq((1L, "A")).toDF("k", "seg")
    val s = Seq((1L, "O", 1.0)).toDF("k", "status", "price")
    // a brand-new customer AND its brand-new order arrive in one delta:
    // only ΔR⋈ΔS can produce the pair
    val rD = Seq(("insert", 9L, "N")).toDF("op", "k", "seg")
    val sD = Seq(("insert", 9L, "O", 50.0)).toDF("op", "k", "status", "price")
    val rNew = Seq((1L, "A"), (9L, "N")).toDF("k", "seg")
    val sNew = Seq((1L, "O", 1.0), (9L, "O", 50.0))
      .toDF("k", "status", "price")
    assert(rows(refreshed(r, rD, s, sD)) == rows(viewState(rNew, sNew)))
  }
}
