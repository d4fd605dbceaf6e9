package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, Coalesce, EqualTo, Expression, IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.core.OracleArith
import graft.sources.VersionedTable

/** Transparent query rewrite over maintained aggregate views — the read
  * half of the IVM story (Goldstein & Larson, "Optimizing queries using
  * materialized views", SIGMOD 2001, restricted to the distributive
  * count/sum views [[graft.operators.IncrementalAgg]] maintains): a
  * registered base table's grouped count/sum aggregate is answered from
  * the group-sized view instead of the base scan, INCLUDING coarser
  * grouping (any subset of the view's group columns re-aggregates the
  * view — counts sum, sums sum), which is what makes one maintained view
  * serve a whole rollup family, AND group-column filters (a WHERE over
  * view group columns selects whole groups, so it pushes onto the view
  * scan exactly — the SIGMOD'01 "containment by predicate subsumption"
  * special case that covers the everyday WHERE+GROUP BY report). At
  * 100 TB the rewrite turns a full-fact-scan aggregate into a scan of
  * thousands of rows, and because [[graft.streaming.IvmStream]] keeps the
  * view bit-identical to a from-scratch recompute, the rewrite is exact,
  * not approximate — the q247 gate's oracle aggregates the BASE table in
  * DuckDB while the Spark plan never touches it (PlanShapeSpec pins the
  * plan shape).
  *
  * Matching is deliberately conservative — it fires only when
  * equivalence is provable from the registration:
  *   - the aggregate's child is the registered base relation (bare or
  *     under a column-pruning Project), optionally under ONE filter whose
  *     every referenced column is a view GROUP column (any deterministic
  *     predicate: the view has one row per group carrying the exact group
  *     values, so predicate-on-group-columns commutes with aggregation),
  *   - every grouping expression is a plain column ⊆ the view's group
  *     columns,
  *   - every aggregate is `count(1)`, `sum(CAST(c AS DECIMAL(18,2)))`
  *     for a registered sum column c — the exact expression
  *     [[IncrementalAgg.state]] materialized ([[OracleArith.dec2]]), so
  *     "sum of the view's sums" is the same DECIMAL arithmetic, just
  *     reassociated (exact: decimal addition is associative) — or
  *     `min(c)`/`max(c)` for a registered min/max column (min of group
  *     minima is exact under any roll-up; maintenance of those columns
  *     is the q240 dirty-group patch, but READING them is distributive).
  * Anything else (non-group-column filters, other functions,
  * non-registered columns) leaves the plan untouched. Output attribute
  * ids are preserved, so parent operators are unaffected; the VIEW side
  * is instantiated fresh per match (a union/join of two rewritten
  * aggregates over the same base must not share relation exprIds).
  *
  * A registered view is a [[graft.sources.VersionedTable]] root — the
  * state an [[graft.streaming.IvmStream]] writer advances, or a view a
  * batch job commits as `v0` — and every match resolves its newest
  * committed version, so a streaming refresh is picked up by the next
  * query with no re-register, which is what makes continuous maintenance
  * and transparent reads compose (q253). One registration per view
  * shape: [[register]] for a single-table view, [[registerJoin]] for a
  * join view.
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** Resolves the newest committed version under a view root at MATCH
    * time, through [[graft.sources.VersionedTable.versions]] (a version
    * exists only once its commit's rename landed, so a crashed commit's
    * staging is never read), caching the analyzed plan per version so
    * steady-state matching costs one directory listing, not a
    * re-analysis. None while no version has committed — the rule then
    * leaves the plan on the base scan rather than failing the query.
    */
  private final class View(root: String) {
    @volatile private var cached: Option[(Long, LogicalPlan)] = None
    // NOTE (r11, measured): caching the parquet schema per state root to
    // skip the footer job on version advance was tried and REVERTED — the
    // layout is NOT version-invariant (IncrementalAgg.refresh widens the
    // sum's DECIMAL precision, so v1 can carry a wider type than v0;
    // reading v1 with v0's schema fails with a Parquet type mismatch —
    // IvmStreamSpec's versioned-registration case caught it). The footer
    // read per refresh is the price of layout flexibility.
    def plan(): Option[LogicalPlan] = {
      val spark = SparkSession.active
      VersionedTable.versions(spark, root).lastOption.map { v =>
        cached match {
          case Some((cv, p)) if cv == v => p
          case _ =>
            val p = VersionedTable.read(spark, root, v)
              .queryExecution.analyzed
            cached = Some((v, p))
            p
        }
      }
    }
  }

  /** A registered view: base-table path → (view, group columns,
    * raw-sum-column → view-sum-column, ditto min/max).
    */
  private final case class MvDef(view: View, groupCols: Seq[String],
      sums: Map[String, String],
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty)

  private val defs = new TrieMap[String, MvDef]()

  private def normalize(p: String): String = new Path(p).toUri.getPath

  /** Register a maintained view for `basePath`. `viewRoot` is a
    * [[graft.sources.VersionedTable]] root whose versions hold
    * [[graft.operators.IncrementalAgg.state]]'s layout: `groupCols`, `n`,
    * the named sum columns and any named min/max columns — for
    * [[graft.streaming.IvmStream.maintainAggStream]] that is its
    * `statePath`. Every match resolves the newest committed version, so a
    * refresh needs no re-register; until the first version commits,
    * queries stay on the base scan. Re-registering replaces the entry.
    */
  def register(basePath: String, viewRoot: String,
      groupCols: Seq[String], sums: Map[String, String],
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty): Unit =
    defs.put(normalize(basePath),
      MvDef(new View(viewRoot), groupCols, sums, mins, maxs))

  /** A registered JOIN view (the read half of q242/q244's maintained
    * join views): (left path, right path) → equi-key column-name pairs,
    * the view — plus each base side's column names, so grouping/sum
    * attributes resolve to the side they were registered from (a
    * same-named column on the OTHER side must refuse the rewrite, not
    * silently answer from the wrong side's values).
    */
  private final case class JoinMvDef(keys: Set[(String, String)], view: MvDef,
      lCols: Set[String], rCols: Set[String])

  private val joinDefs = new TrieMap[(String, String), JoinMvDef]()

  /** Register a maintained view of `leftPath ⋈ rightPath` on the given
    * (leftCol, rightCol) equi-key pairs. `viewRoot` is the join view's
    * [[graft.sources.VersionedTable]] root (for
    * [[graft.streaming.IvmStream.maintainJoinAggStream]] that is
    * `statePath/view`), resolved per match as in [[register]]. Matching
    * is orientation-exact: the query's join must have the registered
    * left table on the left.
    */
  def registerJoin(spark: SparkSession, leftPath: String, rightPath: String,
      keys: Seq[(String, String)], viewRoot: String,
      groupCols: Seq[String], sums: Map[String, String]): Unit =
    joinDefs.put((normalize(leftPath), normalize(rightPath)),
      JoinMvDef(keys.toSet, MvDef(new View(viewRoot), groupCols, sums),
        spark.read.parquet(leftPath).schema.fieldNames.toSet,
        spark.read.parquet(rightPath).schema.fieldNames.toSet))

  def deregister(basePath: String): Unit = defs.remove(normalize(basePath))
  def deregisterJoin(leftPath: String, rightPath: String): Unit =
    joinDefs.remove((normalize(leftPath), normalize(rightPath)))
  def clear(): Unit = { defs.clear(); joinDefs.clear() }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (defs.isEmpty && joinDefs.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(grouping, aggExprs, child, _) =>
        rewrite(grouping, aggExprs, child)
          .orElse(rewriteJoin(grouping, aggExprs, child))
          .getOrElse(agg)
    }

  /** Strip pure column-pruning Projects (the shapes USING-joins and the
    * column pruner insert).
    */
  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(child)
    case other => other
  }

  private def pathOf(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        Some(normalize(fs.location.rootPaths.head.toString))
      case _ => None
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The base relation under pruning Projects and Filters, the filter
    * conjuncts collected raw — [[rewriteJoin]] classifies each conjunct
    * against the registration (droppable join-key IsNotNull, pushable
    * group-column predicate, or refusal).
    */
  private def baseUnderFilters(
      p: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] = p match {
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      baseUnderFilters(child)
    case Filter(cond, child) =>
      baseUnderFilters(child).map { case (lr, cs) => (lr, cs ++ conjuncts(cond)) }
    case lr: LogicalRelation => Some((lr, Seq.empty))
    case _ => None
  }

  /** Aggregate over an inner equi-join of two registered relations →
    * aggregate over the maintained join view, when the join keys are
    * exactly the registered pairs, every grouping/sum attribute lives on
    * the side its name was registered from (names ambiguous across the
    * two sides refuse — conservatism over guessing), every output is
    * provable as in [[rewrite]], and every filter conjunct — above the
    * join or pushed onto a side by the optimizer — is either a join-key
    * IsNotNull (implied by the inner join: the view never held null-key
    * rows) or a deterministic predicate over view GROUP columns, which
    * pushes onto the view exactly as in the single-table case (the view
    * carries the group values verbatim, one row per group).
    */
  private def rewriteJoin(grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val (topConjuncts, joinPlan) = stripProjects(child) match {
      case Filter(cond, ch) => (conjuncts(cond), stripProjects(ch))
      case other => (Seq.empty[Expression], other)
    }
    joinPlan match {
      case j @ Join(l, r, Inner, Some(cond), _) =>
        for {
          (lRel, lConjuncts) <- baseUnderFilters(l)
          (rRel, rConjuncts) <- baseUnderFilters(r)
          lPath <- pathOf(lRel)
          rPath <- pathOf(rRel)
          d <- joinDefs.get((lPath, rPath))
          pairs <- Some(conjuncts(cond).map {
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if j.left.outputSet.contains(a) &&
                  j.right.outputSet.contains(b) => (a.name, b.name)
            case EqualTo(b: AttributeReference, a: AttributeReference)
                if j.left.outputSet.contains(a) &&
                  j.right.outputSet.contains(b) => (a.name, b.name)
            case _ => return None
          }.toSet) if pairs == d.keys
          // classify every conjunct: drop an inner-join-implied key
          // IsNotNull (side-exact: a left conjunct only against left key
          // names), keep a group-column predicate for the view push,
          // refuse anything else
          classify = (cs: Seq[Expression], keyNames: Set[String]) =>
            cs.flatMap {
              case IsNotNull(a: AttributeReference)
                  if keyNames.contains(a.name) => None
              case e if e.deterministic && e.references.nonEmpty &&
                  e.references.forall(a => d.view.groupCols.contains(a.name)) =>
                Some(e)
              case _ => return None
            }
          pushable = classify(lConjuncts, d.keys.map(_._1)) ++
            classify(rConjuncts, d.keys.map(_._2)) ++
            classify(topConjuncts, d.keys.map(_._1) ++ d.keys.map(_._2))
          // side resolution by exprId, not name: each attribute the
          // aggregate (or a pushed filter) reads must come from the side
          // that registered its name, and the name must be unique across
          // the two sides
          refs = ((grouping ++ aggExprs ++ pushable)
            .flatMap(_.references)).toSet
          _ <- if (refs.forall { a =>
              val fromL = lRel.outputSet.contains(a)
              val fromR = rRel.outputSet.contains(a)
              (fromL && d.lCols.contains(a.name) && !d.rCols.contains(a.name)) ||
              (fromR && d.rCols.contains(a.name) && !d.lCols.contains(a.name))
            }) Some(()) else None
          rewritten <- buildViewAggregate(grouping, aggExprs, d.view,
            filt = pushable.reduceOption(And))
        } yield rewritten
      case _ => None
    }
  }

  private def registeredFor(lr: LogicalRelation): Option[MvDef] =
    lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        defs.get(normalize(fs.location.rootPaths.head.toString))
      case _ => None
    }

  /** The raw column under [[OracleArith.dec2]]'s cast, when the
    * expression is exactly that cast.
    */
  private def dec2Col(e: Expression): Option[String] = e match {
    case Cast(a: AttributeReference, OracleArith.Dec, _, _) => Some(a.name)
    case _ => None
  }

  /** Rewrite one aggregate-output expression against the view: a
    * provable AggregateExpression (count(1) → sum(n) coalesced to 0 —
    * over an empty view a global count must stay 0, not NULL;
    * sum(dec2(c)) → sum(view_sum) cast back to the original type),
    * possibly under a stack of casts (a final `.cast("double")`
    * projection gets collapsed INTO the aggregate by CollapseProject —
    * the cast is preserved over the rewritten aggregate).
    */
  private def rewriteExpr(e: Expression, d: MvDef,
      viewAttr: Map[String, AttributeReference]): Option[Expression] =
    e match {
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(1, IntegerType))) =>
            Some(Coalesce(Seq(
              AggregateExpression(Sum(viewAttr("n")),
                Complete, isDistinct = false),
              Literal(0L, LongType))))
          case s: Sum =>
            for {
              raw <- dec2Col(s.child)
              viewSum <- d.sums.get(raw)
            } yield Cast(AggregateExpression(Sum(viewAttr(viewSum)),
              Complete, isDistinct = false), ae.dataType)
          // min-of-minima / max-of-maxima are exact under roll-up — the
          // non-invertible aggregates IncrementalAgg maintains by
          // dirty-group patch (q240) still READ distributively
          case Min(a: AttributeReference) if d.mins.contains(a.name) =>
            Some(AggregateExpression(Min(viewAttr(d.mins(a.name))),
              Complete, isDistinct = false))
          case Max(a: AttributeReference) if d.maxs.contains(a.name) =>
            Some(AggregateExpression(Max(viewAttr(d.maxs(a.name))),
              Complete, isDistinct = false))
          case _ => None
        }
      case c @ Cast(inner, _, _, _) =>
        rewriteExpr(inner, d, viewAttr)
          .map(r => c.withNewChildren(Seq(r)))
      case _ => None
    }

  private def rewrite(grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val (filt, basePlan) = stripProjects(child) match {
      case Filter(cond, c2) => (Some(cond), stripProjects(c2))
      case other => (None, other)
    }
    for {
      lr <- basePlan match {
        case l: LogicalRelation => Some(l)
        case _ => None
      }
      d <- registeredFor(lr)
      // a filter is pushable exactly when every column it reads is a
      // view GROUP column (the view carries the group values verbatim,
      // one row per group, so the predicate selects whole groups)
      _ <- filt match {
        case Some(c) if !(c.deterministic && c.references.nonEmpty &&
            c.references.forall(a => d.groupCols.contains(a.name))) => None
        case _ => Some(())
      }
      rewritten <- buildViewAggregate(grouping, aggExprs, d, filt)
    } yield rewritten
  }

  /** The shared replacement constructor: grouping ⊆ the view's group
    * columns, every output provable, exprIds pinned to the original's.
    * The view plan is instantiated FRESH per match (new relation
    * exprIds), so a plan that matches twice — a union or self-join of
    * two rewritten aggregates — never carries duplicate attribute ids.
    */
  private def buildViewAggregate(grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression], d: MvDef,
      filt: Option[Expression]): Option[LogicalPlan] = {
    for {
      resolved <- d.view.plan()
      viewPlan = resolved.transform {
        case lr: LogicalRelation => lr.newInstance()
      }
      groupNames <- Some(grouping.map {
        case a: AttributeReference => a.name
        case _ => return None
      }) if groupNames.forall(d.groupCols.contains)
      viewAttr = viewPlan.output
        .collect { case a: AttributeReference => a.name -> a }.toMap
      newAggs <- Some(aggExprs.map {
        case a: AttributeReference if groupNames.contains(a.name) =>
          Alias(viewAttr(a.name), a.name)(exprId = a.exprId)
        case al @ Alias(e, name) =>
          rewriteExpr(e, d, viewAttr) match {
            case Some(r) => Alias(r, name)(exprId = al.exprId)
            case None => return None
          }
        case _ => return None
      })
      viewChild = filt match {
        case Some(c) => Filter(c.transform {
          case a: AttributeReference => viewAttr(a.name)
        }, viewPlan)
        case None => viewPlan
      }
    } yield Aggregate(groupNames.map(viewAttr), newAggs, viewChild, None)
  }
}
