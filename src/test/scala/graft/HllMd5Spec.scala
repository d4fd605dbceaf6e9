package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.MinHashSigMd5
import graft.operators.HllMd5

/** Oracle-exact HLL: register construction against a scalar reference,
  * shard-merge invariance, estimate accuracy on known cardinalities, and
  * the small-range linear-counting branch.
  */
class HllMd5Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Scalar reference for one key's (reg_idx, rho) under the layout the
    * operator documents: top 10 bits index, rank of the high bit in the
    * remaining 50.
    */
  private def refRegister(s: String): (Int, Int) = {
    val h = MinHashSigMd5.h60(s)
    val idx = (h >>> 50).toInt
    val rem = h & ((1L << 50) - 1)
    val rho = if (rem == 0L) 51 else 51 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
    (idx, rho)
  }

  test("register rows match the scalar md5 reference per key") {
    val keys = Seq("alpha", "beta", "gamma", "", "k 42", "über")
    val df = keys.toDF("k").withColumn("g", lit("all"))
    val got = HllMd5.sketch(df, "k", Seq("g"))
      .collect().map(r => r.getAs[Int]("reg_idx") -> r.getAs[Int]("r")).toMap
    val want = keys.map(refRegister)
      .groupBy(_._1).map { case (idx, rs) => idx -> rs.map(_._2).max }
    assert(got === want)
  }

  test("shard sketches merged by register max equal the direct sketch") {
    val df = (1 to 20000).map(i => (s"key_$i", i % 16)).toDF("k", "shard")
      .withColumn("g", lit("corpus"))
    val direct = HllMd5.sketch(df, "k", Seq("g"))
    val merged = HllMd5.merge(
      HllMd5.sketch(df, "k", Seq("g", "shard")).drop("shard"), Seq("g"))
    assert(direct.except(merged).isEmpty && merged.except(direct).isEmpty,
      "merge(shard sketches) must equal the unsharded sketch, row for row")
    // and therefore the estimates are IDENTICAL doubles, not just close
    val eD = HllMd5.estimate(direct, Seq("g")).select("hll_estimate").as[Double].head()
    val eM = HllMd5.estimate(merged, Seq("g")).select("hll_estimate").as[Double].head()
    assert(eD == eM)
  }

  test("estimate within 2x the theoretical error on known cardinalities") {
    // sigma ~ 1.04/sqrt(1024) = 3.25%; allow 2 sigma
    for (n <- Seq(5000, 50000)) {
      val df = (1 to n).map(i => s"doc_$i").toDF("k").withColumn("g", lit("g"))
      val est = HllMd5.estimate(HllMd5.sketch(df, "k", Seq("g")), Seq("g"))
        .select("hll_estimate").as[Double].head()
      val rel = math.abs(est - n) / n
      assert(rel <= 0.065, s"n=$n est=$est rel=$rel")
    }
  }

  test("small range uses linear counting and is near-exact") {
    val df = (1 to 40).map(i => s"s$i").toDF("k").withColumn("g", lit("g"))
    val row = HllMd5.estimate(HllMd5.sketch(df, "k", Seq("g")), Seq("g"))
      .select("v_zero", "hll_estimate").head()
    assert(row.getLong(0) > 0, "40 keys cannot fill 1024 registers")
    // linear counting at 4% fill is accurate to a rounding hair
    assert(math.abs(row.getDouble(1) - 40.0) <= 1.5, s"est=${row.getDouble(1)}")
  }

  test("NULL keys are dropped and duplicate keys do not move registers") {
    val df = Seq(Some("a"), None, Some("a"), Some("b"), Some("a"))
      .toDF("k").withColumn("g", lit("g"))
    val sk = HllMd5.sketch(df, "k", Seq("g"))
    val want = HllMd5.sketch(Seq("a", "b").toDF("k").withColumn("g", lit("g")),
      "k", Seq("g"))
    assert(sk.except(want).isEmpty && want.except(sk).isEmpty)
  }

  test("empty input yields an empty estimate frame") {
    val df = Seq.empty[String].toDF("k").withColumn("g", lit("g"))
    assert(HllMd5.estimate(HllMd5.sketch(df, "k", Seq("g")), Seq("g")).isEmpty)
  }

  test("native aggregate path is bit-equal to the relational path") {
    // repartition forces partial-buffer merges AND buffer serialization
    // across the exchange; three groups, cardinalities straddling both
    // estimator branches
    val df = ((1 to 9000).map(i => ("big", s"k$i")) ++
      (1 to 300).map(i => ("mid", s"k$i")) ++
      (1 to 7).map(i => ("small", s"x$i")))
      .toDF("g", "k").repartition(13)
    val rel = HllMd5.estimate(HllMd5.sketch(df, "k", Seq("g")), Seq("g"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("m_used"), r.getAs[Long]("v_zero"),
          r.getAs[Double]("hll_estimate"))).toMap
    val agg = HllMd5.sketchAgg(df, "k", Seq("g"))
      .select(col("g"), HllMd5.estimateCol(col("hll_regs")).as("e"))
      .select(col("g"), col("e.m_used"), col("e.v_zero"), col("e.hll_estimate"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(agg === rel)
    // registers themselves match: dense array rebuilt from relational rows
    val relRegs = HllMd5.sketch(df.filter(col("g") === "big"), "k", Seq("g"))
      .collect().map(r => r.getAs[Int]("reg_idx") -> r.getAs[Int]("r")).toMap
    val aggRegs = HllMd5.sketchAgg(df.filter(col("g") === "big"), "k", Seq("g"))
      .select("hll_regs").collect().head.getAs[Array[Byte]](0)
    assert(aggRegs.length === HllMd5.M)
    aggRegs.zipWithIndex.foreach { case (b, i) =>
      assert(b.toInt === relRegs.getOrElse(i, 0), s"register $i")
    }
  }

  test("union aggregate over shard sketches equals the direct aggregate") {
    val df = (1 to 20000).map(i => (s"key_$i", i % 16)).toDF("k", "shard")
      .withColumn("g", lit("corpus"))
    val direct = HllMd5.sketchAgg(df, "k", Seq("g"))
      .select(HllMd5.estimateCol(col("hll_regs")).getField("hll_estimate"))
      .as[Double].head()
    val merged = HllMd5.unionAgg(
      HllMd5.sketchAgg(df, "k", Seq("g", "shard")), Seq("g"))
      .select(HllMd5.estimateCol(col("hll_regs")).getField("hll_estimate"))
      .as[Double].head()
    assert(direct == merged)
  }

  test("rolling 7-day estimate is BIT-EQUAL to a direct sketch of the window") {
    // users churn daily with overlap, days have a gap (11 missing) — the
    // range frame must skip absent days by VALUE, not by row position
    val rows = for {
      day <- (1 to 20).filterNot(_ == 11)
      u <- day to (day + 30)
    } yield (day, s"user_$u")
    val df = rows.toDF("day", "k")
    val rolling = HllMd5.rollingDistinct(df, "k", "day", windowDays = 7)
      .collect().map(r => r.getInt(0) ->
        (r.getAs[Long]("m_used"), r.getAs[Long]("v_zero"),
          r.getAs[Double]("hll_estimate"))).toMap
    assert(rolling.keySet === rows.map(_._1).toSet)
    for (d <- Seq(1, 7, 12, 17, 20)) {
      val direct = HllMd5.estimate(
        HllMd5.sketch(df.filter(col("day") >= d - 6 && col("day") <= d)
          .withColumn("g", lit(1)), "k", Seq("g")), Seq("g"))
        .collect().map(r =>
          (r.getAs[Long]("m_used"), r.getAs[Long]("v_zero"),
            r.getAs[Double]("hll_estimate"))).head
      assert(rolling(d) === direct, s"day $d")
    }
  }

  test("the SQL surface exposes the aggregate trio") {
    (1 to 5000).map(i => ("g", s"k$i")).toDF("g", "k")
      .createOrReplaceTempView("hll_sql_in")
    val viaSql = spark.sql(
      """SELECT hll_md5_estimate(hll_md5_union_agg(sk)).hll_estimate AS e
        |FROM (SELECT g, hll_md5_agg(k) AS sk FROM hll_sql_in GROUP BY g)
        |GROUP BY g""".stripMargin).as[Double].head()
    val df = (1 to 5000).map(i => ("g", s"k$i")).toDF("g", "k")
    val viaCol = HllMd5.estimate(HllMd5.sketch(df, "k", Seq("g")), Seq("g"))
      .select("hll_estimate").as[Double].head()
    assert(viaSql == viaCol)
  }
}
