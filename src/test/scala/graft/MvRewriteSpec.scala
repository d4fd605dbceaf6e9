package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{OracleArith, Tables}
import graft.operators.IncrementalAgg
import graft.PlanScans.{reads, scanned}
import graft.plans.MvRewrite
import graft.sources.VersionedTable

/** The maintained-view rewrite's firing envelope: it must answer exactly
  * the query shapes the registration proves equivalent — and leave every
  * other shape on the base scan.
  */
class MvRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val groups = Seq("o_orderstatus", "o_orderpriority")
  private val sums = Seq("sum_price" -> "o_totalprice")
  private def orders = Tables.orders(spark, SparkTestSession.sfDir)
  private val basePath = s"${SparkTestSession.sfDir}/orders.parquet"

  /** Runs `f` with a view of `orders` registered at a fresh path, which
    * `f` gets and which is returned.
    */
  private def withView(f: String => Unit): String = {
    val viewPath = Fixtures.tempDir("graft_mv_spec").toString
    VersionedTable.commit(spark, IncrementalAgg.state(orders, groups, sums),
      viewPath, 0L)
    MvRewrite.register(basePath, viewPath, groups,
      Map("o_totalprice" -> "sum_price"))
    try f(viewPath) finally MvRewrite.deregister(basePath)
    viewPath
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def agg(df: DataFrame, by: String*): DataFrame =
    df.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(OracleArith.dec2(col("o_totalprice"))).as("s"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("exact-grouping and subset-grouping aggregates read the view, equal base") {
    val exactBase = rows(agg(orders, groups: _*))
    val subsetBase = rows(agg(orders, "o_orderpriority"))
    val globalBase = rows(orders.agg(
      count(lit(1)).as("n"),
      sum(OracleArith.dec2(col("o_totalprice"))).as("s")))
    withView { view =>
      for ((q, base) <- Seq(
          (agg(orders, groups: _*), exactBase),
          (agg(orders, "o_orderpriority"), subsetBase),
          // global aggregate = empty grouping, also a subset
          (orders.agg(count(lit(1)).as("n"),
            sum(OracleArith.dec2(col("o_totalprice"))).as("s")), globalBase))) {
        assert(reads(q, view), planOf(q).take(800))
        assert(rows(q) == base)
      }
    }
  }

  test("group-column filters push onto the view; WHERE+GROUP BY reads no base") {
    val fBase = rows(agg(orders.filter(col("o_orderstatus") === "F"),
      "o_orderpriority"))
    val inBase = rows(agg(orders.filter(
      col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_orderstatus") =!= "P"), "o_orderstatus"))
    withView { view =>
      val f = agg(orders.filter(col("o_orderstatus") === "F"),
        "o_orderpriority")
      assert(reads(f, view), planOf(f).take(800))
      assert(!reads(f, basePath), planOf(f).take(800))
      assert(rows(f) == fBase)
      // compound predicate over two group columns, still whole-group
      val in = agg(orders.filter(
        col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          col("o_orderstatus") =!= "P"), "o_orderstatus")
      assert(reads(in, view), planOf(in).take(800))
      assert(rows(in) == inBase)
    }
  }

  test("one plan matching twice gets fresh view instances (no duplicate exprIds)") {
    withView { view =>
      val a = agg(orders, "o_orderstatus")
      val b = agg(orders, "o_orderstatus")
      val u = a.unionByName(b)
      // both legs rewritten (each scans the view's one version, v0), and
      // the union analyzes + executes cleanly
      assert(scanned(u).count(_ == s"$view/v0") >= 2, planOf(u).take(1200))
      assert(u.count() == 2 * a.count())
    }
  }

  test("global count over an EMPTY registered base returns 0, not NULL") {
    val dir = Fixtures.tempDir("graft_mv_empty").toString
    val empty = orders.filter(lit(false))
      .select("o_orderstatus", "o_orderpriority", "o_totalprice")
    empty.write.parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    VersionedTable.commit(spark, IncrementalAgg.state(base, groups, sums),
      s"$dir/view", 0L)
    MvRewrite.register(s"$dir/base", s"$dir/view", groups,
      Map("o_totalprice" -> "sum_price"))
    try {
      val q = base.agg(count(lit(1)).as("n"))
      assert(reads(q, s"$dir/view"), planOf(q).take(800))
      assert(rows(q) == Set(Seq(0L)))
    } finally MvRewrite.deregister(s"$dir/base")
  }

  test("non-provable shapes stay on the base scan") {
    val viewPath = withView { view =>
      // a filter on a NON-group column cannot push onto the view
      val filtered = agg(orders.filter(col("o_totalprice") > 1000.0),
        "o_orderstatus")
      assert(!reads(filtered, view))
      // an unregistered aggregate function
      val minAgg = orders.groupBy("o_orderstatus")
        .agg(min(col("o_totalprice")).as("m"))
      assert(!reads(minAgg, view))
      // a sum over a raw (uncast) column is NOT the materialized sum
      val rawSum = orders.groupBy("o_orderstatus")
        .agg(sum(col("o_totalprice")).as("s"))
      assert(!reads(rawSum, view))
      // grouping by a non-view column
      val other = agg(orders, "o_orderdate")
      assert(!reads(other, view))
    }
    // deregistered: back to the base scan
    val afterwards = agg(orders, "o_orderstatus")
    assert(!reads(afterwards, viewPath) && reads(afterwards, basePath))
  }

  test("join-view rewrite fires only on the exact registered equi-join") {
    import graft.core.Tables
    val dir = Fixtures.tempDir("graft_mvj").toString
    val c = Tables.customer(spark, SparkTestSession.sfDir)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
    val o = Tables.orders(spark, SparkTestSession.sfDir)
      .select(col("o_custkey").as("ok"), col("o_orderstatus"),
        col("o_totalprice"))
    c.write.parquet(s"$dir/c"); o.write.parquet(s"$dir/o")
    val cP = spark.read.parquet(s"$dir/c")
    val oP = spark.read.parquet(s"$dir/o")
    VersionedTable.commit(spark,
      IncrementalAgg.state(cP.join(oP, col("k") === col("ok")),
        Seq("seg", "o_orderstatus"), sums), s"$dir/view", 0L)
    MvRewrite.registerJoin(spark, s"$dir/c", s"$dir/o",
      Seq("k" -> "ok"), s"$dir/view", Seq("seg", "o_orderstatus"),
      Map("o_totalprice" -> "sum_price"))
    try {
      def q(frame: DataFrame) = frame.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(OracleArith.dec2(col("o_totalprice"))).as("s"))
      val joined = q(cP.join(oP, col("k") === col("ok")))
      assert(reads(joined, s"$dir/view"), planOf(joined).take(800))
      assert(!planOf(joined).contains("Join"), planOf(joined).take(800))
      // equality against the real join, computed after deregistration
      val expected = q(cP.join(oP, col("k") === col("ok")))
      // a DIFFERENT key condition must not fire
      val wrongKeys = q(cP.join(oP, col("k") === col("ok") + 1))
      assert(!reads(wrongKeys, s"$dir/view"))
      // a LEFT join must not fire
      val leftJoin = q(cP.join(oP, col("k") === col("ok"), "left"))
      assert(!reads(leftJoin, s"$dir/view"))
      // a GROUP-column filter pushes onto the join view and fires
      val grpFiltered = q(cP.join(oP, col("k") === col("ok"))
        .filter(col("seg") === "BUILDING"))
      assert(reads(grpFiltered, s"$dir/view"),
        planOf(grpFiltered).take(800))
      // equality vs the real filtered join, computed after deregistration
      val grpExpected = q(cP.join(oP, col("k") === col("ok"))
        .filter(col("seg") === "BUILDING"))
      // a NON-group-column filter (fact measure) must refuse
      val measureFiltered = q(cP.join(oP, col("k") === col("ok"))
        .filter(col("o_totalprice") > 1000.0))
      assert(!reads(measureFiltered, s"$dir/view"),
        planOf(measureFiltered).take(800))
      // a join-KEY filter must refuse too (keys are not view columns)
      val keyFiltered = q(cP.join(oP, col("k") === col("ok"))
        .filter(col("k") > 100L))
      assert(!reads(keyFiltered, s"$dir/view"),
        planOf(keyFiltered).take(800))
      MvRewrite.deregisterJoin(s"$dir/c", s"$dir/o")
      assert(rows(grpFiltered) == rows(grpExpected))
      MvRewrite.registerJoin(spark, s"$dir/c", s"$dir/o",
        Seq("k" -> "ok"), s"$dir/view", Seq("seg", "o_orderstatus"),
        Map("o_totalprice" -> "sum_price"))
      MvRewrite.deregisterJoin(s"$dir/c", s"$dir/o")
      assert(rows(joined) == rows(expected))
    } finally MvRewrite.deregisterJoin(s"$dir/c", s"$dir/o")
  }

  test("versioned registry resolves the NEWEST committed version at match time") {
    import graft.operators.IncrementalAgg
    val dir = Fixtures.tempDir("graft_mv_ver").toString
    orders.select("o_orderstatus", "o_orderpriority", "o_totalprice")
      .write.parquet(s"$dir/base")
    val base = spark.read.parquet(s"$dir/base")
    // registered BEFORE any version committed: queries stay on the base
    MvRewrite.register(s"$dir/base", s"$dir/state", groups,
      Map("o_totalprice" -> "sum_price"))
    try {
      val q0 = agg(base, "o_orderstatus")
      assert(!reads(q0, s"$dir/state"), planOf(q0).take(800))
      // v0 commits → the SAME query shape now reads v0, no re-register
      VersionedTable.commit(spark, IncrementalAgg.state(base, groups, sums),
        s"$dir/state", 0L)
      val q1 = agg(base, "o_orderstatus")
      assert(reads(q1, s"$dir/state/v0"), planOf(q1).take(800))
      val v0Rows = rows(q1)
      // a refresh commits v1 (a delta dropped every F-status group row);
      // the next query must read v1 — the r9 frozen-listing registry
      // would have stayed on v0 until a manual re-register
      VersionedTable.commit(spark,
        IncrementalAgg.state(base.filter(col("o_orderstatus") =!= "F"),
          groups, sums), s"$dir/state", 1L)
      val q2 = agg(base, "o_orderstatus")
      assert(reads(q2, s"$dir/state/v1"), planOf(q2).take(800))
      assert(!reads(q2, s"$dir/state/v0"), planOf(q2).take(800))
      assert(rows(q2) == v0Rows.filter(_.head != "F"))
      // what a crashed commit of v2 leaves, a staging directory full of
      // parquet files, is invisible: still v1
      IncrementalAgg.state(base.filter(col("o_orderstatus") === "F"),
          groups, sums)
        .write.parquet(s"$dir/state/.staging_v2_${java.util.UUID.randomUUID()}")
      val q3 = agg(base, "o_orderstatus")
      assert(reads(q3, s"$dir/state/v1"), planOf(q3).take(800))
      assert(rows(q3) == rows(q2))
    } finally MvRewrite.deregister(s"$dir/base")
  }

  test("versioned JOIN registration flips to the stream's newest view version") {
    import graft.core.Tables
    val dir = Fixtures.tempDir("graft_mvj_ver").toString
    val c = Tables.customer(spark, SparkTestSession.sfDir)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
    val o = Tables.orders(spark, SparkTestSession.sfDir)
      .select(col("o_custkey").as("ok"), col("o_orderstatus"),
        col("o_totalprice"))
    c.write.parquet(s"$dir/c"); o.write.parquet(s"$dir/o")
    val cP = spark.read.parquet(s"$dir/c")
    val oP = spark.read.parquet(s"$dir/o")
    MvRewrite.registerJoin(spark, s"$dir/c", s"$dir/o",
      Seq("k" -> "ok"), s"$dir/state", Seq("seg", "o_orderstatus"),
      Map("o_totalprice" -> "sum_price"))
    try {
      def q() = cP.join(oP, col("k") === col("ok"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(OracleArith.dec2(col("o_totalprice"))).as("s"))
      // no committed version yet: the join executes on base
      assert(!reads(q(), s"$dir/state"))
      VersionedTable.commit(spark,
        IncrementalAgg.state(cP.join(oP, col("k") === col("ok")),
          Seq("seg", "o_orderstatus"), sums), s"$dir/state", 0L)
      assert(reads(q(), s"$dir/state/v0"), planOf(q()).take(800))
      // a refresh lands v1 (drop one segment): same registration flips
      VersionedTable.commit(spark,
        IncrementalAgg.state(cP.filter(col("seg") =!= "BUILDING")
          .join(oP, col("k") === col("ok")),
          Seq("seg", "o_orderstatus"), sums), s"$dir/state", 1L)
      val flipped = q()
      assert(reads(flipped, s"$dir/state/v1") && !reads(flipped, s"$dir/state/v0"),
        planOf(flipped).take(800))
      assert(!rows(q()).exists(_.head == "BUILDING"))
    } finally MvRewrite.deregisterJoin(s"$dir/c", s"$dir/o")
  }

  test("join rewrite refuses a group column whose name exists on BOTH sides") {
    import graft.core.Tables
    val dir = Fixtures.tempDir("graft_mvj_amb").toString
    // both sides carry a column literally named "seg": the left's is the
    // registered group column, the right's is a decoy with other values
    val c = Tables.customer(spark, SparkTestSession.sfDir)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
    val o = Tables.orders(spark, SparkTestSession.sfDir)
      .select(col("o_custkey").as("ok"), col("o_orderstatus").as("seg"),
        col("o_totalprice"))
    c.write.parquet(s"$dir/c"); o.write.parquet(s"$dir/o")
    val cP = spark.read.parquet(s"$dir/c")
    val oP = spark.read.parquet(s"$dir/o")
    VersionedTable.commit(spark, IncrementalAgg.state(
        cP.join(oP.withColumnRenamed("seg", "o_seg"), col("k") === col("ok")),
        Seq("seg"), sums), s"$dir/view", 0L)
    MvRewrite.registerJoin(spark, s"$dir/c", s"$dir/o",
      Seq("k" -> "ok"), s"$dir/view", Seq("seg"),
      Map("o_totalprice" -> "sum_price"))
    try {
      // grouping by the RIGHT side's seg: name matches the registration,
      // values do not — the side check must refuse the rewrite
      val wrongSide = cP.join(oP, col("k") === col("ok"))
        .groupBy(oP("seg"))
        .agg(count(lit(1)).as("n"),
          sum(OracleArith.dec2(col("o_totalprice"))).as("s"))
      assert(!reads(wrongSide, s"$dir/view"),
        planOf(wrongSide).take(800))
      // the LEFT side's seg is the registered one, but the name is
      // ambiguous across sides — conservative refusal there too
      val leftSide = cP.join(oP.withColumnRenamed("seg", "o_seg"),
          col("k") === col("ok"))
        .groupBy(cP("seg"))
        .agg(count(lit(1)).as("n"),
          sum(OracleArith.dec2(col("o_totalprice"))).as("s"))
      assert(!reads(leftSide, s"$dir/view"),
        planOf(leftSide).take(800))
    } finally MvRewrite.deregisterJoin(s"$dir/c", s"$dir/o")
  }

  test("registered min/max columns answer min/max roll-ups from the view") {
    val viewPath = Fixtures.tempDir("graft_mv_spec").toString
    VersionedTable.commit(spark, orders.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(OracleArith.dec2(col("o_totalprice"))).as("sum_price"),
        min(col("o_totalprice")).as("min_p"),
        max(col("o_totalprice")).as("max_p")), viewPath, 0L)
    MvRewrite.register(basePath, viewPath, groups,
      Map("o_totalprice" -> "sum_price"),
      mins = Map("o_totalprice" -> "min_p"),
      maxs = Map("o_totalprice" -> "max_p"))
    try {
      val q = orders.groupBy("o_orderstatus")
        .agg(min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
      assert(reads(q, viewPath), planOf(q).take(800))
      val base = orders.groupBy("o_orderstatus")
        .agg(min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
      MvRewrite.deregister(basePath)
      assert(rows(q) == rows(base))
    } finally MvRewrite.deregister(basePath)
  }
}
