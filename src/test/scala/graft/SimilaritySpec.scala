package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Vector similarity semantics: brute-force KNN against a driver-side
  * recomputation, plus structural checks on the approximate paths.
  */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, SparkTestSession.sfDir).cache()

  test("cosine matches a driver-side computation") {
    val two = emb.filter(col("vec_id") < 2)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1).map(_._2)
    val expected = {
      val dot = two(0).zip(two(1)).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val na = math.sqrt(two(0).map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(two(1).map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val got = emb.filter(col("vec_id") === 0).select(col("embedding").as("a"))
      .crossJoin(emb.filter(col("vec_id") === 1).select(col("embedding").as("b")))
      .select(VectorFunctions.cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(got - expected) < 1e-12)
  }

  test("brute-force KNN returns k ranked neighbors per query, best first") {
    val knn = Similarity.knnBruteForce(emb, emb.filter(col("vec_id") < 3), k = 5)
    val rows = knn.collect()
    assert(rows.length == 15)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { g =>
      val sims = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    // no self-matches
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
  }

  test("LSH buckets partition the corpus deterministically") {
    val b1 = emb.withColumn("bucket",
      VectorFunctions.hyperplaneBucket(col("embedding"), 4))
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val b2 = emb.withColumn("bucket",
      VectorFunctions.hyperplaneBucket(col("embedding"), 4))
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b1 == b2)
    assert(b1.values.toSet.size > 1) // actually splits
    assert(b1.values.forall(b => b >= 0 && b < 16))
  }

  test("IVF centroids are per-cell means and probing returns k per query") {
    val cents = Similarity.ivfCentroids(emb, "label")
    assert(cents.count() == emb.select("label").distinct().count())
    val knn = Similarity.knnIvf(emb, emb.filter(col("vec_id") < 2), "label",
      k = 5, nprobe = 2)
    val counts = knn.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(_ == 5))
  }

  test("ivfCentroids vector-sum aggregate matches per-dimension SUM columns " +
      "bitwise, including NULL and short-array edges") {
    // mixed shapes: full rows, a NULL array, a NULL element, a short array —
    // the exact cases where ArraySumAgg must reproduce element_at + SUM
    val rows: Seq[(Int, Seq[java.lang.Float])] = Seq(
      (0, Seq[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (0, Seq[java.lang.Float](0.5f, null, 4.5f)),
      (0, null),
      (1, Seq[java.lang.Float](2.0f, 8.0f)), // short: dim 2 of 3
      (2, Seq[java.lang.Float](null, null, null)))
    val df = rows.toDF("cell", "embedding")
      .select(col("cell"), col("embedding").cast("array<float>"))
    val got = Similarity.ivfCentroids(df, "cell", dimHint = 3)
      .orderBy("cell")
      .as[(Int, Seq[java.lang.Float])].collect()
    // reference: the per-dimension formulation this replaced
    val ref = df.groupBy(col("cell"))
      .agg(sum(try_element_at(col("embedding"), lit(1))).as("s0"),
        sum(try_element_at(col("embedding"), lit(2))).as("s1"),
        sum(try_element_at(col("embedding"), lit(3))).as("s2"),
        count(lit(1)).as("n"))
      .select(col("cell"), array(
        (col("s0") / col("n")).cast("float"),
        (col("s1") / col("n")).cast("float"),
        (col("s2") / col("n")).cast("float")).as("centroid"))
      .orderBy("cell")
      .as[(Int, Seq[java.lang.Float])].collect()
    assert(got.toSeq == ref.toSeq)
    // all-NULL dimension surfaces as a NULL element, not 0.0
    assert(got.find(_._1 == 2).get._2.forall(_ == null))
  }

  test("ivfCentroids over array<double> equals per-dimension SUM bit for bit") {
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Int, Seq[java.lang.Double])] =
      (0 until 40).map(i => (i % 3, Seq.fill(4)(
        java.lang.Double.valueOf(rnd.nextGaussian() * math.pow(10, rnd.nextInt(9)))))) ++
        Seq((0, Seq[java.lang.Double](0.1, null, 0.2, 0.3)), (1, null))
    val df = rows.toDF("cell", "embedding")
    val got = Similarity.ivfCentroids(df, "cell")
      .orderBy("cell").as[(Int, Seq[java.lang.Float])].collect()
    val ref = df.groupBy(col("cell"))
      .agg(sum(element_at(col("embedding"), 1)).as("s0"),
        (2 to 4).map(i => sum(element_at(col("embedding"), i)).as(s"s${i - 1}")) :+
          count(lit(1)).as("n"): _*)
      .select(col("cell"),
        array((0 until 4).map(i => (col(s"s$i") / col("n")).cast("float")): _*)
          .as("centroid"))
      .orderBy("cell").as[(Int, Seq[java.lang.Float])].collect()
    assert(got.length == 3)
    assert(got.toSeq == ref.toSeq)
  }

  test("k-means IVF: k cells, deterministic assignment, sane recall") {
    val cents = Similarity.kmeansCentroids(emb, k = 8, iters = 3)
    assert(cents.count() == 8)
    val assigned = Similarity.assignCells(emb, cents)
    assert(assigned.count() == emb.count())
    val again = Similarity.assignCells(emb, cents)
    assert(assigned.select("vec_id", "cell")
      .exceptAll(again.select("vec_id", "cell")).count() == 0)
    // trained IVF with nprobe=3/8 must find a nontrivial share of the true
    // top-5 (Voronoi cells correlate with cosine proximity)
    val exact = Similarity.knnBruteForce(emb, emb.filter(col("vec_id") < 10), 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvfTrained(emb, emb.filter(col("vec_id") < 10),
      k = 5, nprobe = 3, kCells = 8, iters = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(ivf).toDouble / exact.size
    assert(recall > 0.3, s"recall $recall")
  }

  test("prototypicality: own centroid is the nearest, scores are valid cosines") {
    val proto = Similarity.prototypicality(emb, kCells = 8, iters = 3)
    assert(proto.count() == emb.count())
    val rows = proto.select("vec_id", "cell", "proto_sim")
      .as[(Long, Int, Double)].collect()
    assert(rows.forall { case (_, _, s) => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9 })
    // the assigned cell is the argmax: proto_sim must dominate the cosine
    // to EVERY other centroid (catches a crossed cell↔centroid join)
    val cents = Similarity.kmeansCentroids(emb, k = 8, iters = 3)
      .as[(Int, Array[Float])].collect().toMap
    def cos(a: Seq[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val embs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    rows.take(50).foreach { case (id, cell, s) =>
      cents.foreach { case (c, cent) =>
        assert(s >= cos(embs(id), cent) - 1e-9,
          s"vec $id assigned cell $cell ($s) but cell $c is closer")
      }
    }
  }

  test("LSH KNN results are true cosines, verifiable against brute force") {
    val exact = Similarity.knnBruteForce(emb, emb.filter(col("vec_id") < 5), k = 5)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, s) => (q, n) -> s }.toMap
    val lsh = Similarity.knnLsh(emb, emb.filter(col("vec_id") < 5), k = 5, bits = 4)
      .select("query_id", "neighbor_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    // every LSH result that's also in the exact set reports the same cosine
    lsh.foreach { case (q, n, s) =>
      exact.get((q, n)).foreach(es => assert(math.abs(es - s) < 1e-12))
    }
  }

  test("hardNegatives: different-label only, below the dup ceiling, ranked") {
    // anchor 0 (label A): same-label 1 excluded; 2 is a near-dup clone
    // (cos ~1 ≥ 0.9 ceiling) excluded; 3 and 4 rank by cosine
    val rows = Seq(
      (0L, "A", Array(1f, 0f)),
      (1L, "A", Array(0.9f, 0.1f)),
      (2L, "B", Array(2f, 0f)),
      (3L, "B", Array(1f, 1f)),
      (4L, "B", Array(0f, 1f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(
        rows, rows.filter(col("vec_id") === 0), k = 5, dupCeiling = 0.9)
      .orderBy("rank")
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
    assert(got === Seq((3L, 1), (4L, 2)))
  }

  test("hardNegatives: NULL-label rows are excluded on both sides by design") {
    // an unlabeled candidate can't be certified a negative and an
    // unlabeled anchor would silently return zero rows through the =!=
    // join's NULL semantics — the exclusion is explicit, not incidental
    val rows = Seq(
      (0L, Some("A"), Array(1f, 0f)),
      (1L, Option.empty[String], Array(0.99f, 0.1f)), // unlabeled candidate
      (2L, Some("B"), Array(1f, 1f)),
      (3L, Option.empty[String], Array(1f, 0.1f))     // unlabeled anchor
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(
        rows, rows.filter(col("vec_id") === 0 || col("vec_id") === 3),
        k = 5, dupCeiling = 0.999)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 2L))) // anchor 3 dropped; candidate 1 dropped
  }

  test("hardNegatives agree with an exhaustive driver-side computation") {
    val all = emb.select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])].collect()
    // same fold shape as FloatVecDot: sequential double accumulation,
    // sqrt(na)*sqrt(nb) denominator — bit-identical to the engine
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = all.filter(_._1 < 5).map { case (qid, ql, qe) =>
      qid -> all
        .filter { case (vid, vl, _) => vid != qid && vl != ql }
        .map { case (vid, _, ve) => (vid, cos(qe, ve)) }
        .filter(_._2 < 0.95)
        .sortBy(t => (-t._2, t._1)).take(3).map(_._1).toSeq
    }.toMap.filter(_._2.nonEmpty)
    val mined = Similarity.hardNegatives(
        emb, emb.filter(col("vec_id") < 5), k = 3, dupCeiling = 0.95)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, c) => q -> c.map(_._2).toSeq }
    assert(mined === expected)
  }
}
