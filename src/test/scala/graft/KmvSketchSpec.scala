package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.MinHashSigMd5
import graft.operators.KmvSketch

/** KMV bottom-k sketch: minima selection against a scalar reference,
  * exact-below-k contract, cardinality accuracy above k, and the pairwise
  * overlap report on sets with known intersections.
  */
class KmvSketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sketch holds exactly the k smallest distinct hashes") {
    val keys = (1 to 500).map(i => s"v$i")
    val df = keys.toDF("k").withColumn("g", lit("g"))
    val got = KmvSketch.sketch(df, "k", "g", k = 32)
      .select("h").as[Long].collect().sorted.toSeq
    val want = keys.map(MinHashSigMd5.h60).distinct.sorted.take(32)
    assert(got === want)
  }

  test("below k the estimate is the exact distinct count") {
    val df = (1 to 17).map(i => s"v$i").toDF("k").withColumn("g", lit("g"))
    val est = KmvSketch.estimate(KmvSketch.sketch(df, "k", "g", k = 64), "g", 64)
      .select("kmv_estimate").as[Double].head()
    assert(est == 17.0)
  }

  test("above k the estimate tracks the true cardinality") {
    // sigma ~ 1/sqrt(k-1) = 6.3% at k=256; allow 2 sigma
    val n = 20000
    val df = (1 to n).map(i => s"doc_$i").toDF("k").withColumn("g", lit("g"))
    val est = KmvSketch.estimate(KmvSketch.sketch(df, "k", "g", k = 256), "g", 256)
      .select("kmv_estimate").as[Double].head()
    assert(math.abs(est - n) / n <= 0.126, s"est=$est")
  }

  test("pairwise overlap is EXACT when the union sketch is exhaustive") {
    // A = 1..90, B = 61..150: union 150, intersection 30, jaccard 0.2
    val rows = (1 to 90).map(i => ("A", s"id$i")) ++
      (61 to 150).map(i => ("B", s"id$i"))
    val df = rows.toDF("src", "k")
    val r = KmvSketch.pairwiseOverlap(
      KmvSketch.sketch(df, "k", "src", k = 256), "src", k = 256)
      .head()
    assert(r.getAs[Long]("n_mins") === 150L)
    assert(r.getAs[Long]("n_both") === 30L)
    assert(r.getAs[Double]("union_est") === 150.0)
    assert(r.getAs[Double]("jaccard_est") === 0.2)
    assert(r.getAs[Double]("inter_est") === 30.0)
    // the full venn is exact too below k
    assert(r.getAs[Double]("est_a") === 90.0)
    assert(r.getAs[Double]("est_b") === 90.0)
    assert(r.getAs[Double]("a_only_est") === 60.0)
    assert(r.getAs[Double]("b_only_est") === 60.0)
  }

  test("pairwise overlap estimates track known overlap above k") {
    // A = 1..10000, B = 5001..15000: union 15000, inter 5000, J = 1/3
    val rows = (1 to 10000).map(i => ("A", s"id$i")) ++
      (5001 to 15000).map(i => ("B", s"id$i"))
    val df = rows.toDF("src", "k")
    val r = KmvSketch.pairwiseOverlap(
      KmvSketch.sketch(df, "k", "src", k = 256), "src", k = 256)
      .head()
    val u = r.getAs[Double]("union_est")
    val j = r.getAs[Double]("jaccard_est")
    assert(math.abs(u - 15000) / 15000 <= 0.15, s"union_est=$u")
    assert(math.abs(j - 1.0 / 3) <= 0.1, s"jaccard_est=$j")
    assert(r.getAs[Double]("inter_est") === j * u)
  }

  test("native aggregate build is row-equal to the distinct+top-k build") {
    // repartition forces partial-buffer merges and buffer serialization
    // across the exchange; duplicates force the TreeSet dedup path
    val rows = (1 to 5000).flatMap(i => Seq(("A", s"id$i"), ("A", s"id$i"))) ++
      (1 to 30).map(i => ("B", s"id$i"))
    val df = rows.toDF("src", "k").repartition(11)
    def asSet(d: org.apache.spark.sql.DataFrame) =
      d.as[(String, Long)].collect().toSet
    assert(asSet(KmvSketch.sketchAgg(df, "k", "src", k = 256)) ===
      asSet(KmvSketch.sketch(df, "k", "src", k = 256)))
    // and through the SQL surface
    df.createOrReplaceTempView("kmv_sql_in")
    val viaSql = spark.sql(
      "SELECT src, explode(kmv_md5_agg(k, 256)) AS h FROM kmv_sql_in GROUP BY src")
    assert(asSet(viaSql) === asSet(KmvSketch.sketch(df, "k", "src", k = 256)))
  }

  test("three groups produce all three pairs, ordered") {
    val rows = Seq(("a", "x"), ("b", "x"), ("c", "y"))
    val sk = KmvSketch.sketch(rows.toDF("src", "k"), "k", "src", k = 8)
    val pairs = KmvSketch.pairwiseOverlap(sk, "src", k = 8)
      .select("src_a", "src_b").as[(String, String)].collect().toSeq
    assert(pairs === Seq(("a", "b"), ("a", "c"), ("b", "c")))
  }
}
