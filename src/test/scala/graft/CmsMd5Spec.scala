package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CmsMd5

/** md5-parity count-min sketch: the no-underestimate law, exactness
  * without collisions, element-wise merge = global build, and
  * scalar/Column/SQL-aggregate parity.
  */
class CmsMd5Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val keys: Seq[String] = (0 until 300).map(i => s"user_${i % 37}")

  test("estimates never underestimate, and are exact when width is ample") {
    val width = 64
    val counts = new Array[Long](CmsMd5.Depth * width)
    keys.foreach(k => CmsMd5.addKey(counts, width, k))
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong)
    exact.foreach { case (k, n) =>
      assert(CmsMd5.estimateKey(counts, width, k) >= n, s"underestimated $k")
    }
    // 37 distinct keys in 4 rows of 4096 buckets: collisions vanish
    val wide = new Array[Long](CmsMd5.Depth * 4096)
    keys.foreach(k => CmsMd5.addKey(wide, 4096, k))
    exact.foreach { case (k, n) =>
      assert(CmsMd5.estimateKey(wide, 4096, k) == n)
    }
  }

  test("merge by element-wise addition equals the global build") {
    val width = 32
    val (left, right) = keys.splitAt(117)
    val a = new Array[Long](CmsMd5.Depth * width)
    val b = new Array[Long](CmsMd5.Depth * width)
    val global = new Array[Long](CmsMd5.Depth * width)
    left.foreach(k => CmsMd5.addKey(a, width, k))
    right.foreach(k => CmsMd5.addKey(b, width, k))
    keys.foreach(k => CmsMd5.addKey(global, width, k))
    assert(a.zip(b).map { case (x, y) => x + y }.toSeq == global.toSeq)
  }

  test("cms_md5_agg + estimateCol match the scalar path bucket for bucket") {
    val width = 128
    val df = keys.toDF("k")
    val sk = df.agg(expr(s"cms_md5_agg(k, $width)").as("counters"))
    val counters = sk.head().getSeq[Long](0).toArray
    val scalar = new Array[Long](CmsMd5.Depth * width)
    keys.foreach(k => CmsMd5.addKey(scalar, width, k))
    assert(counters.toSeq == scalar.toSeq)
    val probes = keys.distinct.toDF("k")
      .crossJoin(broadcast(sk))
      .withColumn("est", CmsMd5.estimateCol(col("counters"), col("k"), width))
      .select("k", "est").as[(String, Long)].collect()
    probes.foreach { case (k, est) =>
      assert(est == CmsMd5.estimateKey(scalar, width, k), s"mismatch for $k")
    }
  }
}
