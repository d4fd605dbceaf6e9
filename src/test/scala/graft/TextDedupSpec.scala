package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.TextDedup

/** Sketch-based dedup quality against exact ground truth on the sf0.001
  * documents corpus (500 docs with planted near-duplicates).
  */
class TextDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val docs = Tables.documents(spark, SparkTestSession.sfDir).cache()

  lazy val exactPairs: Set[(Long, Long)] =
    TextDedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      minJaccard = 0.5, maxDocFreq = 100000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

  test("exact trigram Jaccard finds the planted near-duplicates") {
    assert(exactPairs.nonEmpty)
  }

  test("MinHash+LSH(128,32) recovers ≥90% of exact pairs, no wild precision loss") {
    val sigs = TextDedup.minHashSignatures(docs, "doc_id", "text", n = 3, k = 128)
    val got = TextDedup.minHashVerify(
      TextDedup.lshCandidatePairs(sigs, bands = 32), sigs, minJaccard = 0.45)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = exactPairs.count(got).toDouble / exactPairs.size
    assert(recall >= 0.9, s"recall $recall over ${exactPairs.size} pairs")
    // candidates that verify are plausible near-dups: bounded blowup
    assert(got.size <= exactPairs.size * 3)
  }

  test("md5-parity MinHash twin (the q42/q113/q127 gate path) holds the same recall bar") {
    val sigs = TextDedup.minHashSignaturesMd5(docs, "doc_id", "text", n = 3, k = 128)
    val got = TextDedup.minHashVerify(
      TextDedup.lshCandidatePairs(sigs, bands = 32, identityBuckets = true), sigs,
      minJaccard = 0.45)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = exactPairs.count(got).toDouble / exactPairs.size
    assert(recall >= 0.9, s"recall $recall over ${exactPairs.size} pairs")
    assert(got.size <= exactPairs.size * 3)
  }

  test("md5-parity SimHash twin (the q43 gate path) keeps the precision bar") {
    val pairs = TextDedup.simHashPairs(
      TextDedup.simHashMd5(docs, "doc_id", "text"), maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    val precision = pairs.count(exactPairs).toDouble / pairs.size
    assert(precision >= 0.5, s"precision $precision")
  }

  test("SimHash pairs at Hamming ≤ 3 are a subset-quality signal") {
    val pairs = TextDedup.simHashPairs(
      TextDedup.simHash(docs, "doc_id", "text"), maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    // SimHash near-dups should mostly be real near-dups (precision vs exact)
    val precision = pairs.count(exactPairs).toDouble / pairs.size
    assert(precision >= 0.5, s"precision $precision")
  }

  test("10x replicated corpus: sketches recover the duplicate groups") {
    // every doc replicated 10x under fresh ids - the duplication-heavy shape
    // of real crawl corpora (5k docs here; the dataflow is the same at 5B)
    val replicated = (0 until 10).map(i =>
      docs.select((col("doc_id") + lit(i * 1000000)).as("doc_id"), col("text")))
      .reduce(_.unionAll(_))
    // exact dedup: one canonical per original, all copies collapse
    val groups = TextDedup.exactDuplicateGroups(replicated, "doc_id", "text")
    assert(groups.count() == docs.count())
    assert(groups.filter(col("n_docs") =!= 10).count() == 0)
    // MinHash+LSH: a copy-pair has identical signatures; verify recovers the
    // duplicate relation without an all-pairs stage
    val sigs = TextDedup.minHashSignatures(replicated, "doc_id", "text", 3, 64)
    val pairs = TextDedup.minHashVerify(
      TextDedup.lshCandidatePairs(sigs, bands = 16), sigs, minJaccard = 0.99)
    // each of the 500 originals yields C(10,2)=45 copy-pairs at est=1.0
    assert(pairs.filter(col("est_jaccard") === 1.0).count() >= 500L * 45)
  }

  test("decontamination removes benchmark-overlapping docs and their near-dups") {
    val bench = docs.filter(col("doc_id") < 3).select("doc_id", "text")
    val cleaned = TextDedup.decontaminate(docs, "doc_id", "text",
      bench, "text", n = 5)
    // the benchmark docs themselves are gone (full self-overlap)
    assert(cleaned.filter(col("doc_id") < 3).count() == 0)
    // near-duplicates of benchmark docs are gone too
    val benchDups = exactPairs.collect {
      case (a, b) if a < 3 => b
      case (a, b) if b < 3 => a
    }
    benchDups.foreach(d =>
      assert(cleaned.filter(col("doc_id") === d).count() == 0, s"doc $d"))
    assert(cleaned.count() > 0)
  }

  test("exact dedup keeps one canonical doc per normalized content") {
    val withDup = docs.select("doc_id", "text").union(
      docs.select(col("doc_id") + 100000, upper(col("text"))).limit(5))
    val deduped = TextDedup.dropExactDuplicates(withDup, "doc_id", "text")
    assert(deduped.count() == docs.count()) // case-variants collapse
    assert(deduped.filter(col("doc_id") >= 100000).count() == 0) // lowest id wins
  }

  test("ngramNovelty: verbatim copy scores 0, fresh text 1, half-remix in between") {
    val ref = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val scored = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim copy
      (2L, "one two three four five six"), // disjoint vocabulary
      (3L, "alpha beta gamma nine ten eleven twelve") // leading overlap
    ).toDF("doc_id", "text")
    val got = TextDedup.ngramNovelty(scored, ref, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((4L, 4L, 0.0)))
    assert(got(2L) == ((4L, 0L, 1.0)))
    // doc 3: 5 trigrams, only "alpha beta gamma" seen
    assert(got(3L) == ((5L, 1L, 0.8)))
  }

  test("ngramNovelty counts DISTINCT grams and skips sub-n docs") {
    val ref = Seq((100L, "x y z")).toDF("doc_id", "text")
    val scored = Seq(
      (1L, "x y z x y z x y z"), // repeated grams collapse to distinct set
      (2L, "just two")           // < n tokens → no grams → no row
    ).toDF("doc_id", "text")
    val rows = TextDedup.ngramNovelty(scored, ref, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.contains(1L) && !rows.contains(2L))
    // distinct trigrams of the 9-token loop: xyz, yzx, zxy → 3, not 7
    assert(rows(1L) == 3L)
  }
}
