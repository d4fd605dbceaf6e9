package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.NoBroadcastOverExpansion

/** The expansion-broadcast safety net: a join side containing an
  * un-aggregated explode must not be size-broadcast (its size estimate
  * inherits pre-explode stats), explicit hints must win, and row-count
  * barriers (Aggregate/Limit) must lift the restriction.
  */
class NoBroadcastOverExpansionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // a 20-row frame that explodes to 20k rows but LOOKS tiny to the planner
  private def exploded = (1 to 20).toDF("id")
    .select(col("id"), explode(lit((1 to 1000).toArray)).as("v"))
  // big enough that the CORPUS side is over the 10 MB broadcast threshold —
  // the falsely-tiny exploded side is then the planner's broadcast pick
  private def corpus = spark.range(3000000).select(
    (col("id") % 1000).cast("int").as("v"), col("id").as("payload"),
    col("id").as("pad1"), col("id").as("pad2"))

  private def joined = exploded.join(corpus, "v")

  test("logical rewrite: the exploded side gets NO_BROADCAST_HASH") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, NO_BROADCAST_HASH}
    val analyzed = joined.queryExecution.analyzed
    val rewritten = NoBroadcastOverExpansion(analyzed)
    val hints = rewritten.collect { case j: Join => j.hint }
    assert(hints.nonEmpty)
    assert(hints.exists(h =>
      h.leftHint.exists(_.strategy.contains(NO_BROADCAST_HASH)) ||
        h.rightHint.exists(_.strategy.contains(NO_BROADCAST_HASH))),
      s"no NO_BROADCAST_HASH in $hints")
  }

  test("executed plan never static-broadcasts the expansion") {
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("an explicit broadcast hint on the exploded side still wins") {
    val p = broadcast(exploded).join(corpus, "v")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("an aggregate over the expansion lifts the restriction") {
    // group-sized output: stats are trustworthy again, broadcast is fine
    val agg = exploded.groupBy("v").agg(count(lit(1)).as("n"))
    val p = agg.join(corpus, "v").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("a Sample over the expansion does NOT lift the restriction") {
    // a fraction sample of an exploded frame is still proportional to the
    // expansion and inherits the same stale size estimate — sampling must
    // not re-enable the broadcast the rule exists to prevent
    val sampled = exploded.sample(withReplacement = false, 0.5, seed = 7)
    val p = sampled.join(corpus, "v").queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("a pair-frame join (band-join candidates) stays demoted downstream") {
    // the candidate-pair frame of a band join MULTIPLIES the expansion; a
    // later join consuming it must not static-broadcast it either
    val left = exploded.select(col("v"), col("id").as("ida"))
    val right = exploded.select(col("v"), col("id").as("idb"))
    val pairs = left.join(right, "v").filter(col("ida") < col("idb"))
    val downstream = pairs.join(corpus, "v")
    import org.apache.spark.sql.catalyst.plans.logical.{Join, NO_BROADCAST_HASH}
    val rewritten = NoBroadcastOverExpansion(downstream.queryExecution.analyzed)
    val outerHints = rewritten.collect { case j: Join => j.hint }
    assert(outerHints.forall(h =>
      h.leftHint.exists(_.strategy.contains(NO_BROADCAST_HASH)) ||
        h.rightHint.exists(_.strategy.contains(NO_BROADCAST_HASH))),
      s"pair frame not demoted: $outerHints")
    val p = downstream.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
  }
}
