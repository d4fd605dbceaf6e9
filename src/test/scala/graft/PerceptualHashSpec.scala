package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.PerceptualHash

/** dHash properties that make it a usable visual near-dup fingerprint:
  * brightness invariance, perturbation robustness, discrimination, and
  * the band/recall contract of the LSH candidate join.
  */
class PerceptualHashSpec extends AnyFunSuite {
  private val W = 36; private val H = 32

  private def img(f: (Int, Int) => Int): Array[Int] =
    Array.tabulate(W * H)(i => f(i % W, i / W))

  private def base(seed: Int)(x: Int, y: Int): Int =
    16 + ((x * y + seed * (x + 2 * y) + seed * seed * 7) * 37) % 224

  test("uniform brightness shift leaves the hash unchanged (gradient-based)") {
    val a = PerceptualHash.dHash64(img(base(5)), W, H)
    val shifted = PerceptualHash.dHash64(img((x, y) => base(5)(x, y) + 10), W, H)
    assert(a == shifted)
  }

  test("small perturbation moves the hash at most a few bits") {
    val a = PerceptualHash.dHash64(img(base(7)), W, H)
    val p = PerceptualHash.dHash64(
      img((x, y) => base(7)(x, y) + (if ((x + y) % 7 == 0) 3 else 0)), W, H)
    assert(PerceptualHash.hamming64(a, p) <= 4)
  }

  test("distinct images land far apart") {
    val hs = (0 until 25).map(s => PerceptualHash.dHash64(img(base(s)), W, H))
    val cross = for {
      i <- hs.indices; j <- hs.indices if i < j
    } yield PerceptualHash.hamming64(hs(i), hs(j))
    assert(cross.min >= 15, s"closest cross distance ${cross.min}")
  }

  test("non-divisible dimensions hash via the integer-partition grid") {
    // 37x33: cells have unequal pixel counts — cross-multiplied compare
    val a = PerceptualHash.dHash64(Array.tabulate(37 * 33)(i => (i * 31) % 256), 37, 33)
    val b = PerceptualHash.dHash64(Array.tabulate(37 * 33)(i => (i * 67) % 256), 37, 33)
    assert(a != b) // and neither call threw
    intercept[IllegalArgumentException](PerceptualHash.dHashBands(new Array[Int](8), 4, 2))
  }

  test("nearDupPairs finds every planted near-dup and nothing else") {
    val spark = SparkTestSession.spark
    val rows = (0 until 25).flatMap { s =>
      def bands(pert: Boolean) = PerceptualHash.dHashBands(
        img((x, y) => base(s)(x, y) + (if (pert && (x + y + s) % 7 == 0) 3 else 0)),
        W, H)
      val b0 = bands(false); val b1 = bands(true)
      Seq((s.toLong, b0(0), b0(1), b0(2), b0(3)),
        (2000L + s, b1(0), b1(1), b1(2), b1(3)))
    }
    import spark.implicits._
    val pairs = PerceptualHash.nearDupPairs(
      rows.toDF("id", "b0", "b1", "b2", "b3"), "id", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0 until 25).map(s => (s.toLong, 2000L + s)).toSet)
  }

  test("incremental near-dup probes the persisted index: batch vs corpus only") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    def hashRow(id: Long, f: (Int, Int) => Int): (Long, Int, Int, Int, Int) = {
      val b = PerceptualHash.dHashBands(img(f), W, H)
      (id, b(0), b(1), b(2), b(3))
    }
    // corpus: 25 distinct-seed bases, ingested once
    val corpus = (0 until 25).map(s => hashRow(s.toLong, base(s)))
      .toDF("id", "b0", "b1", "b2", "b3")
    val dir = Fixtures.tempDir("graft_ipd_spec").toString
    corpus.write.parquet(s"$dir/hashes")
    PerceptualHash.bandKeys(corpus, "id")
      .sortWithinPartitions("band_key")
      .write.parquet(s"$dir/index")
    // batch: a near-dup of seed 3, and a far image (seed 99 base — the
    // cross-image distance floor is >= 15, above maxHamming)
    val batch = Seq(
      hashRow(4003L, (x, y) => base(3)(x, y) + (if ((x + y) % 9 == 0) 2 else 0)),
      hashRow(4099L, base(99)))
      .toDF("id", "b0", "b1", "b2", "b3")
    val out = PerceptualHash.incrementalNearDupPairs(
      spark.read.parquet(s"$dir/index"), spark.read.parquet(s"$dir/hashes"),
      batch, "id", maxHamming = 10)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((4003L, 3L)), got)
    // the probe rides a pushed In filter on the index scan: the batch's
    // band keys reach the parquet reader, so a sorted index is read
    // proportionally to the batch's buckets, not the corpus
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(band_key"), p.take(2000))
    // and the corpus-hash side is never shuffled: the batch-derived
    // candidate frame broadcasts
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }
}
