package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.{IvfIndex, Similarity}

/** Persisted IVF index lifecycle: build → save → load → query, save/load
  * identity, partition pruning on probe, and recall sanity.
  */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, SparkTestSession.sfDir).cache()
  // unique per run: two concurrent test invocations must not clobber each
  // other's index directories (save overwrites, load scans)
  private lazy val path = Fixtures.tempDir("graft_ivf_index_test_").toString

  private lazy val built = IvfIndex.build(emb, kCells = 8, iters = 2)
  private lazy val loaded = { IvfIndex.save(built, path); IvfIndex.load(spark, path) }

  private def results(ix: IvfIndex.Index) =
    IvfIndex.query(ix, emb.filter(col("vec_id") < 5), k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet

  test("save/load roundtrip answers identically to the in-memory index") {
    assert(results(loaded) == results(built))
    assert(results(loaded).nonEmpty)
  }

  test("probe scan is partition-pruned to the probed cells") {
    val df = IvfIndex.query(loaded, emb.filter(col("vec_id") < 2), k = 3, nprobe = 2)
    val plan = df.queryExecution.executedPlan.toString
    // the index-corpus scan carries a static cell IN (...) partition filter;
    // unpartitioned side scans (the query set) legitimately show none
    assert(plan.contains("PartitionFilters: [cell"), plan.take(3000))
  }

  test("index recall vs brute force is sane") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.knnBruteForce(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = IvfIndex.query(loaded, queries, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.3, s"recall $recall")
  }

  test("query ranks are dense per query, best first") {
    val rows = IvfIndex.query(loaded, emb.filter(col("vec_id") < 3), k = 4, nprobe = 3)
      .orderBy("query_id", "rank").collect()
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val ranks = g.map(_.getAs[Int]("rank")).toSeq.sorted
      assert(ranks == (1 to ranks.size))
      val sims = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }
}
