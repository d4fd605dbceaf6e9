package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.AsOfJoin

/** As-of join (the native custom SparkPlan): hand-picked semantics cases,
  * agreement with a brute-force join on real events, and the
  * shuffle-sort-merge plan.
  */
class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val events = Tables.events(spark, SparkTestSession.sfDir).cache()
  lazy val purchases = events.filter(col("event_type") === "purchase")
    .select("event_id", "user_id", "ts")
  lazy val views = events.filter(col("event_type") === "view")
    .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
    .agg(max("value").as("v_value"))

  lazy val native = AsOfJoin.joinAsOf(
    purchases, views, key = "user_id", leftTs = "ts",
    rightKey = "v_user", rightTs = "v_ts")
    .select("event_id", "v_ts", "v_value")

  test("native plan is the custom exec with shuffle + sort children") {
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(plan.contains("Sort"), plan)
  }

  test("a null value in the matched right row stays null (no older-row fallback)") {
    import spark.implicits._
    val l = Seq((1L, 10L, 3000000L)).toDF("id", "k", "us")
      .select(col("id"), col("k"), org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"))
    val r = Seq((10L, 1000000L, Some(5.0)), (10L, 2000000L, None))
      .toDF("rk", "us", "v")
      .select(col("rk"), org.apache.spark.sql.functions.timestamp_micros(col("us")).as("rts"), col("v"))
    val out = AsOfJoin.joinAsOf(l, r, key = "k", leftTs = "ts",
      rightKey = "rk", rightTs = "rts").head
    // the as-of match is the ts=2s row whose v is null — NOT the ts=1s value
    assert(out.getAs[java.sql.Timestamp]("rts").toInstant.toEpochMilli == 2000L)
    assert(out.isNullAt(out.fieldIndex("v")))
  }

  test("left rows with no prior right row are null-extended") {
    val firstPurchase = native.orderBy("event_id").head
    // event 2 (user 12) precedes any view for that user in this dataset
    assert(firstPurchase.isNullAt(1) && firstPurchase.isNullAt(2))
  }

  test("forward direction picks the EARLIEST at-or-after row, per key") {
    import spark.implicits._
    def tsf(c: String) = org.apache.spark.sql.functions.timestamp_micros(col(c))
    val l = Seq((1L, 10L, 2000000L), (2L, 10L, 5000000L), (3L, 20L, 1000000L))
      .toDF("id", "k", "us").select(col("id"), col("k"), tsf("us").as("ts"))
    val r = Seq(
      (10L, 1000000L, 1.0), // behind id=1 → never a forward match
      (10L, 2000000L, 2.0), // exactly at id=1's ts → its match (at-or-after)
      (10L, 7000000L, 7.0), // id=2's match (earliest >= 5s)
      (20L, 9000000L, 9.0)) // id=3's match, other key
      .toDF("k", "us", "v")
      .select(col("k").as("rk"), tsf("us").as("rts"), col("v"))
    val out = AsOfJoin.joinAsOf(l, r, keys = Seq("k"), leftTs = "ts",
      rightKeys = Seq("rk"), rightTs = "rts", direction = graft.plans.AsOfForward)
      .select("id", "v").collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(out == Map(1L -> 2.0, 2L -> 7.0, 3L -> 9.0))
  }

  test("multi-column keys fence matches: all key columns must agree") {
    import spark.implicits._
    def tsf(c: String) = org.apache.spark.sql.functions.timestamp_micros(col(c))
    val l = Seq((1L, 10L, "a", 5000000L), (2L, 10L, "b", 5000000L))
      .toDF("id", "k1", "k2", "us")
      .select(col("id"), col("k1"), col("k2"), tsf("us").as("ts"))
    val r = Seq((10L, "a", 1000000L, 1.0), (10L, "zz", 2000000L, 99.0))
      .toDF("k1", "k2", "us", "v")
      .select(col("k1").as("r1"), col("k2").as("r2"), tsf("us").as("rts"), col("v"))
    val out = AsOfJoin.joinAsOf(l, r, keys = Seq("k1", "k2"),
      leftTs = "ts", rightKeys = Seq("r1", "r2"), rightTs = "rts",
      direction = graft.plans.AsOfBackward)
      .select("id", "v").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    // id=1 matches (10,"a"); id=2 has key (10,"b") — the (10,"zz") row with a
    // matching first column must NOT leak through
    assert(out == Map(1L -> Some(1.0), 2L -> None))
  }

  test("forward native agrees with a brute-force join on real events") {
    val errors = events.filter(col("event_type") === "error")
      .groupBy(col("user_id").as("e_user"), col("ts").as("e_ts"))
      .agg(max("value").as("e_value"))
    val fwd = AsOfJoin.joinAsOf(purchases, errors,
      keys = Seq("user_id"), leftTs = "ts",
      rightKeys = Seq("e_user"), rightTs = "e_ts",
      direction = graft.plans.AsOfForward)
      .select(col("event_id"), col("e_ts"), col("e_value"))
    // brute force: min e_ts >= ts per purchase, then fetch that row's value
    val minTs = purchases.as("p").join(errors.as("e"),
        col("p.user_id") === col("e.e_user") && col("e.e_ts") >= col("p.ts"), "left")
      .groupBy(col("p.event_id").as("event_id"), col("p.user_id").as("user_id"))
      .agg(min(col("e.e_ts")).as("e_ts"))
    val brute = minTs.as("m").join(errors.as("e2"),
        col("m.user_id") === col("e2.e_user") && col("m.e_ts") === col("e2.e_ts"), "left")
      .select(col("m.event_id"), col("m.e_ts"), col("e2.e_value"))
    assert(fwd.count() == purchases.count())
    assert(fwd.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(fwd).count() == 0)
  }

  test("tolerance null-extends when the nearest match is too old / too far ahead") {
    import spark.implicits._
    def tsf(c: String) = org.apache.spark.sql.functions.timestamp_micros(col(c))
    val l = Seq((1L, 10L, 10000000L), (2L, 10L, 30000000L))
      .toDF("id", "k", "us").select(col("id"), col("k"), tsf("us").as("ts"))
    val r = Seq((10L, 8000000L, 8.0), (10L, 40000000L, 40.0))
      .toDF("k", "us", "v")
      .select(col("k").as("rk"), tsf("us").as("rts"), col("v"))
    def run(dir: graft.plans.AsOfDirection, tolUs: Long) =
      AsOfJoin.joinAsOf(l, r, keys = Seq("k"), leftTs = "ts",
        rightKeys = Seq("rk"), rightTs = "rts", direction = dir,
        toleranceUs = Some(tolUs))
        .select("id", "v").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
        .toMap
    // backward: id=1's nearest prior is 2s old (in a 3s window, out of a 1s)
    assert(run(graft.plans.AsOfBackward, 3000000L) ==
      Map(1L -> Some(8.0), 2L -> None))
    assert(run(graft.plans.AsOfBackward, 1000000L) == Map(1L -> None, 2L -> None))
    // forward: id=2's nearest later is 10s ahead (in a 10s window, out of 5s)
    assert(run(graft.plans.AsOfForward, 10000000L) ==
      Map(1L -> None, 2L -> Some(40.0)))
    assert(run(graft.plans.AsOfForward, 5000000L) == Map(1L -> None, 2L -> None))
  }

  test("native merge handles null keys and timestamps (no NPE, SQL semantics)") {
    import spark.implicits._
    val l = Seq(
      (1L, Some(10L), Some(5000000L)), // normal row, has a match
      (2L, None, Some(5000000L)),      // null key → never matches
      (3L, Some(10L), None))           // null ts → never matches
      .toDF("id", "k", "us")
      .select(col("id"), col("k"),
        org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"))
    val r = Seq(
      (Some(10L), Some(1000000L), 1.0), // the match for id=1
      (None, Some(2000000L), 2.0),      // null key right row: discarded
      (Some(10L), None, 3.0))           // null ts right row: discarded
      .toDF("k", "us", "v")
      .select(col("k").as("rk"),
        org.apache.spark.sql.functions.timestamp_micros(col("us")).as("rts"),
        col("v"))
    val out = AsOfJoin.joinAsOf(l, r,
      key = "k", leftTs = "ts", rightKey = "rk", rightTs = "rts")
      .select("id", "rts", "v").collect().map(x => x.getLong(0) -> x).toMap
    assert(out.size == 3)
    assert(!out(1L).isNullAt(2) && out(1L).getDouble(2) == 1.0)
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2))
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2))
  }
}
