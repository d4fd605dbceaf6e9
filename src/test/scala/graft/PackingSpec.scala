package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Packing

/** Sequence-packing offsets: the two-phase distributed prefix sum must
  * reproduce a plain global cumsum exactly, shard layout notwithstanding.
  */
class PackingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("global offsets equal the exclusive cumsum in id order") {
    val rows = (1L to 500L).map(i => (i, (i % 7) + 1))
    val df = rows.toDF("id", "w").repartition(13) // scrambled input layout
    val got = Packing.withGlobalOffsets(df, "id", "w")
      .select("id", "offset").as[(Long, Long)].collect().toMap
    var acc = 0L
    rows.foreach { case (i, w) =>
      assert(got(i) == acc, s"offset mismatch at id=$i")
      acc += w
    }
  }

  test("global running max equals the exclusive scan max in order") {
    // values deliberately non-monotone in id order
    val rows = (1L to 400L).map(i => (i, (i * 37) % 101))
    val df = rows.toDF("id", "v").repartition(11)
    val got = Packing.withGlobalRunningMax(df, Seq("id"), "v")
      .select("id", "running_max").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    var acc = Option.empty[Long]
    rows.foreach { case (i, v) =>
      assert(got(i) === acc, s"running max mismatch at id=$i")
      acc = Some(math.max(acc.getOrElse(Long.MinValue), v))
    }
  }

  test("lateness audit flags exactly the events a watermark would drop") {
    // arrival order 1..6; event times (us): on-time except id 4 (3 units
    // behind the max) and id 6 (1 behind — inside the bound)
    val ev = Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"),
      (4L, 27L, "b"), (5L, 40L, "a"), (6L, 39L, "b"))
      .toDF("arr", "ev_us", "kind")
    val got = graft.streaming.EventStreams.latenessAudit(
        ev, "arr", "ev_us", allowedLatenessUs = 2L)
      .select("arr", "watermark_us", "lateness_us", "is_late")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toMap
    assert(got(1L) === ((-1L, 0L, false))) // first arrival: no watermark
    assert(got(2L) === ((10L, 0L, false)))
    assert(got(4L) === ((30L, 3L, true)))  // 3 > allowed 2
    assert(got(6L) === ((40L, 1L, false))) // within the bound
  }

  test("sequencePacking assigns bins and flags boundary straddlers") {
    // capacity 10: doc 1 (w=4) fills [0,4); doc 2 (w=8) spans [4,12) across
    // the bin-0/bin-1 cut; doc 3 (w=3) sits inside bin 1
    val df = Seq((1L, 4L), (2L, 8L), (3L, 3L)).toDF("id", "w")
    val got = Packing.sequencePacking(df, "id", "w", capacity = 10)
      .select("id", "offset", "bin_first", "bin_last", "spans_boundary")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((0L, 0L, 0L, false)))
    assert(got(2L) == ((4L, 0L, 1L, true)))
    assert(got(3L) == ((12L, 1L, 1L, false)))
  }

  test("zero-weight rows on a bin boundary do not straddle") {
    // doc 2 has no tokens and sits exactly at offset 10 (= capacity): its
    // bin range must be the single bin it points at, not an inverted range
    val df = Seq((1L, 10L), (2L, 0L), (3L, 4L)).toDF("id", "w")
    val got = Packing.sequencePacking(df, "id", "w", capacity = 10)
      .select("id", "bin_first", "bin_last", "spans_boundary")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(2L) == ((1L, 1L, false)))
    assert(got(3L) == ((1L, 1L, false)))
  }

  test("grouped packing restarts the stream and bins at every group") {
    // group a: 4, 8 (straddles cap 10 at offset 4); group b: 8, 8 — b's
    // stream starts over at 0 regardless of a's total
    val df = Seq(("a", 1L, 4L), ("a", 2L, 8L), ("b", 3L, 8L), ("b", 4L, 8L))
      .toDF("g", "id", "w").repartition(7)
    val got = Packing.groupedSequencePacking(df, "g", "id", "w", capacity = 10)
      .select("id", "offset", "bin_first", "bin_last", "spans_boundary")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((0L, 0L, 0L, false)))
    assert(got(2L) == ((4L, 0L, 1L, true)))
    assert(got(3L) == ((0L, 0L, 0L, false)))   // fresh stream for group b
    assert(got(4L) == ((8L, 0L, 1L, true)))
  }

  test("grouped packing with one group equals plain sequencePacking") {
    val df = (1L to 200L).map(i => ("only", i, (i % 5) + 1)).toDF("g", "id", "w")
    val grouped = Packing.groupedSequencePacking(df, "g", "id", "w", 32)
      .select("id", "offset", "bin_first", "bin_last").as[(Long, Long, Long, Long)]
      .collect().toSet
    val plain = Packing.sequencePacking(df.drop("g"), "id", "w", 32)
      .select("id", "offset", "bin_first", "bin_last").as[(Long, Long, Long, Long)]
      .collect().toSet
    assert(grouped === plain)
  }

  test("shard-cache registry self-prunes after an external clearCache") {
    // the Bench/Verify harnesses drop blocks with spark.catalog.clearCache()
    // rather than Materialize.release; the registry must not grow one dead plan
    // reference per prefix-sum invocation in such sessions
    // distinct inputs per call (like distinct queries in one session):
    // identical plans would re-register the SAME cache entry, and the old
    // frames' storage-level lookup would then see the new entry as live
    for (i <- 1 to 3) {
      val df = (1L to (50L + i)).map(j => (j, 1L)).toDF("id", "w")
      Packing.withGlobalOffsets(df, "id", "w").count()
      spark.catalog.clearCache()
    }
    val df = (1L to 60L).map(j => (j, 1L)).toDF("id", "w")
    Packing.withGlobalOffsets(df, "id", "w").count() // registers + sweeps
    assert(graft.core.Materialize.liveCount(spark) <= 1,
      "dead cache entries survived the sweep")
    graft.core.Materialize.release(spark)
    assert(graft.core.Materialize.liveCount(spark) === 0)
  }

  test("empty input yields an empty result, not a crash") {
    val df = Seq.empty[(Long, Long)].toDF("id", "w")
    assert(Packing.sequencePacking(df, "id", "w", capacity = 10).count() == 0L)
  }

  test("multi-column offsets follow the lexicographic order") {
    // order by (grp, id): offsets must walk grp-major
    val df = Seq((1L, 2, 10L), (2L, 1, 5L), (3L, 1, 7L), (4L, 2, 3L))
      .toDF("id", "grp", "w").repartition(3)
    val got = graft.operators.Packing
      .withGlobalOffsets(df, Seq("grp", "id"), "w")
      .select($"id", $"offset").as[(Long, Long)].collect().toMap
    // order: (1,2)->5, (1,3)->7, (2,1)->10, (2,4)->3 ⇒ offsets 0,5,12,22
    assert(got === Map(2L -> 0L, 3L -> 5L, 1L -> 12L, 4L -> 22L))
  }

  test("token budget fill keeps within budget and skips oversize at the boundary") {
    // quality order = id asc; budget 10: id1(w4, off0 keep), id2(w5, off4
    // keep), id3(w3, off9 overflow skip), id4(w1, off12 overflow skip)
    val df = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 1L)).toDF("id", "w")
    val kept = graft.operators.Sampling
      .tokenBudgetFill(df, Seq("id"), "w", budget = 10L)
      .select($"id", $"offset").as[(Long, Long)].collect().toMap
    assert(kept === Map(1L -> 0L, 2L -> 4L))
    // kept mass never exceeds the budget on any input
    val rows = (1L to 200L).map(i => (i, (i * 37 % 11) + 1))
    val total = graft.operators.Sampling
      .tokenBudgetFill(rows.toDF("id", "w"), Seq("id"), "w", budget = 250L)
      .agg(org.apache.spark.sql.functions.sum("w")).as[Long].head()
    assert(total <= 250L)
  }
}
