package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: never size-broadcast a join side whose subtree contains
  * an un-aggregated row expansion (Generate — explode/posexplode/inline).
  *
  * Catalyst's size estimate for a post-explode frame inherits the
  * pre-explode scan statistics (an explode's output row count is unknowable
  * from column stats), so a corpus-sized shingle/band/span expansion can
  * look "small enough to broadcast" — the planner then builds a driver-side
  * hash relation that GROWS WITH THE CORPUS: ~19-50x super-linear cost at a
  * 10x scale probe, a guaranteed driver OOM at real scale. And the failure
  * is one-way at planning time: AQE can upgrade a shuffle join to broadcast
  * from true runtime sizes, but can never demote a statically-planned
  * broadcast. This round's operators pin SHUFFLE_HASH at every such join by
  * hand; this rule is the engine-level safety net for query shapes nobody
  * audited.
  *
  * Mechanics: for each join side with NO explicit strategy hint, if the
  * subtree reaches a Generate without passing a row-count-resetting barrier
  * (Aggregate/Deduplicate — their output is group-sized; GlobalLimit/
  * LocalLimit — bounded), tag the side with
  * NO_BROADCAST_HASH (the same hint AQE's DynamicJoinSelection uses), which
  * JoinSelection honors both statically and at AQE re-planning. An explicit
  * `.hint("broadcast")`/`broadcast(df)` on that side still wins — stated
  * intent beats the heuristic; AQE upgrading the resulting shuffle join to
  * broadcast from MEASURED runtime sizes stays available. Idempotent: a
  * side already carrying any strategy hint is left alone.
  *
  * Part of the [[graft.GraftExtensions]] catalogue, injected when the
  * session is built (or installed once on a foreign session by
  * [[graft.core.Sessions.tune]]), so every gate runs under it.
  */
object NoBroadcastOverExpansion extends Rule[LogicalPlan] {

  /** True when `p`'s output can be expansion-sized: a Generate is reachable
    * without crossing a row-count barrier.
    *
    * NOT barriers: Sample — a fraction-based sample of an expansion is
    * still proportional to it (Sample never bounds rows) and its size
    * estimate inherits the same pre-explode underestimate, so sampling
    * must not lift the restriction. Join — a join of an expansion side
    * multiplies the expansion (a band join's candidate-pair frame), it
    * never bounds it, so expansion-reachability propagates through the
    * join into any LATER join that consumes the pair frame.
    */
  private def expandsUnaggregated(p: LogicalPlan): Boolean = p match {
    case _: Generate => true
    // barriers: output size is decoupled from the expansion's
    case _: Aggregate | _: Deduplicate | _: GlobalLimit | _: LocalLimit =>
      false
    // a pair frame is expansion-sized if EITHER input is — stated
    // explicitly (it also falls out of the default recursion) so a future
    // barrier added above this line cannot silently swallow the join case
    case j: Join => expandsUnaggregated(j.left) || expandsUnaggregated(j.right)
    case other => other.children.exists(expandsUnaggregated)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, _, _, hint) =>
      def augmented(side: LogicalPlan, h: Option[HintInfo]): Option[HintInfo] =
        if (h.exists(_.strategy.isDefined)) h // explicit intent wins
        else if (expandsUnaggregated(side))
          Some(h.getOrElse(HintInfo()).copy(strategy = Some(NO_BROADCAST_HASH)))
        else h
      val nl = augmented(l, hint.leftHint)
      val nr = augmented(r, hint.rightHint)
      if (nl == hint.leftHint && nr == hint.rightHint) j
      else j.copy(hint = JoinHint(nl, nr))
  }
}
