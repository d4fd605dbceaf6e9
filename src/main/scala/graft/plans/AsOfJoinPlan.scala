package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Match direction for the as-of join, mirroring the two useful halves of
  * DuckDB's `ASOF JOIN` inequality surface: [[AsOfBackward]] = greatest
  * `rightTs <= leftTs` (DuckDB `ON r.ts <= l.ts`), [[AsOfForward]] =
  * smallest `rightTs >= leftTs` (DuckDB `ON r.ts >= l.ts`).
  */
sealed trait AsOfDirection
case object AsOfBackward extends AsOfDirection
case object AsOfForward extends AsOfDirection

/** Whole-operator custom plan for the as-of join — the (c) tier of the
  * custom-operator ladder (LogicalPlan + Strategy + SparkPlan), and the one
  * form behind graft.operators.AsOfJoin.joinAsOf. Composed from built-ins,
  * an as-of join is a union+window that shuffles the *union* of both sides
  * and then filters half the rows back out; this operator shuffles each
  * side once, sorts within partitions, and streams a single merge pass.
  *
  * Semantics: for every left row, attach the right row with the greatest
  * `rightTs <= leftTs` (backward) or smallest `rightTs >= leftTs` (forward)
  * within the same multi-column key (null-extended when none; a NULL in any
  * key column or timestamp matches nothing, equi-join style).
  * Both inputs are hash-clustered on the keys and sorted by (keys…, ts) —
  * declared via requiredChildDistribution/Ordering so EnsureRequirements
  * plans the exchanges, exactly like SortMergeJoin does. The merge itself is
  * O(left + right) per partition with at most one buffered right row.
  */
final case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute], leftTs: Attribute,
    rightKeys: Seq[Attribute], rightTs: Attribute,
    direction: AsOfDirection = AsOfBackward,
    /** Max |leftTs − rightTs| for a match, in the ts type's physical unit
      * (µs for timestamps). The within-tolerance set is a contiguous run
      * ending (backward) or starting (forward) at leftTs, so the nearest
      * match is in-window iff ANY is — a post-check on the found candidate,
      * not a different scan.
      */
    toleranceUs: Option[Long] = None)
    extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    s"as-of join needs matching key lists, got ${leftKeys.length} vs ${rightKeys.length}")
  // the exec reads both sides through the LEFT side's physical types
  leftKeys.zip(rightKeys).foreach { case (lk, rk) =>
    require(lk.dataType == rk.dataType,
      s"as-of join key types differ: ${lk.dataType} vs ${rk.dataType}")
  }
  require(leftTs.dataType == rightTs.dataType,
    s"as-of join ts types differ: ${leftTs.dataType} vs ${rightTs.dataType}")
  require(toleranceUs.forall(_ >= 0), "as-of tolerance must be >= 0")
  // tolerance needs a physically-long ts (timestamp µs / bigint) to subtract
  require(toleranceUs.isEmpty ||
    PhysicalDataType(leftTs.dataType) ==
      org.apache.spark.sql.catalyst.types.PhysicalLongType,
    s"as-of tolerance requires a long-backed ts type, got ${leftTs.dataType}")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lks, lts, rks, rts, dir, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lks, lts, rks, rts, dir, tol) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], leftTs: Attribute,
    rightKeys: Seq[Attribute], rightTs: Attribute,
    direction: AsOfDirection,
    toleranceUs: Option[Long] = None)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def asc(a: Attribute) =
    SortOrder(a, org.apache.spark.sql.catalyst.expressions.Ascending)

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(asc) :+ asc(leftTs),
    rightKeys.map(asc) :+ asc(rightTs))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // output rows ARE the left rows in their sorted order (one per left row) —
  // declaring it lets a downstream sort on (keys…, ts) be elided
  override def outputOrdering: Seq[SortOrder] = leftKeys.map(asc) :+ asc(leftTs)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyOrds = leftKeys.map(left.output.indexOf).toArray
    val lTsOrd = left.output.indexOf(leftTs)
    val rKeyOrds = rightKeys.map(right.output.indexOf).toArray
    val rTsOrd = right.output.indexOf(rightTs)
    val keyTypes = leftKeys.map(_.dataType).toArray
    val tsType = leftTs.dataType
    val rightArity = right.output.length
    val forward = direction == AsOfForward
    // -1 = unbounded; node construction guarantees a long-backed ts when set
    val tol: Long = toleranceUs.getOrElse(-1L)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val keyOrderings: Array[Ordering[Any]] = keyTypes.map(t =>
        PhysicalDataType.ordering(t).asInstanceOf[Ordering[Any]])
      val tsOrdering = PhysicalDataType.ordering(tsType)
        .asInstanceOf[Ordering[Any]]
      val nKeys = keyTypes.length
      val nullRight = new GenericInternalRow(rightArity)
      val rBuf = rIter.buffered
      val joined = new JoinedRow
      // the exec's contract is UnsafeRow output (collect/shuffle read the
      // backing bytes directly); a bare JoinedRow crashes when this node
      // is the plan root
      val toUnsafe = UnsafeProjection.create(output, output)

      // key tuple helpers over a scratch array (no per-row allocation)
      def readKeys(row: InternalRow, ords: Array[Int], out: Array[Any]): Boolean = {
        var i = 0
        var allSet = true
        while (i < nKeys) {
          val v = row.get(ords(i), keyTypes(i))
          if (v == null) allSet = false
          out(i) = v
          i += 1
        }
        allSet // false = some key col NULL → matches nothing
      }
      def cmpKeys(a: Array[Any], b: Array[Any]): Int = {
        var i = 0
        while (i < nKeys) {
          val c = keyOrderings(i).compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        0
      }

      val lKey = new Array[Any](nKeys)
      val rKey = new Array[Any](nKeys)

      val resultIter: Iterator[InternalRow] = if (!forward) {
        // BACKWARD: consume right rows up to (lKey, lTs]; the last one
        // consumed for the current key is the match. Copied because the
        // underlying unsafe row buffer is reused by the sorter's iterator.
        // Tolerance is a post-check on the found candidate: it is the
        // GREATEST rightTs <= leftTs, so if it misses the window every
        // older row misses it too — the in-window set is a suffix.
        var candidate: InternalRow = null
        val candKey = new Array[Any](nKeys)
        lIter.map { lRow =>
          val lTs = lRow.get(lTsOrd, tsType)
          if (!readKeys(lRow, lKeyOrds, lKey) || lTs == null) {
            joined(lRow, nullRight)
          } else {
            var advancing = true
            while (advancing && rBuf.hasNext) {
              val rTs = rBuf.head.get(rTsOrd, tsType)
              if (!readKeys(rBuf.head, rKeyOrds, rKey) || rTs == null) {
                rBuf.next() // can never match any left row — discard
              } else {
                val cmpKey = cmpKeys(rKey, lKey)
                if (cmpKey < 0) {
                  rBuf.next() // right rows for earlier keys can never match again
                } else if (cmpKey == 0 && tsOrdering.compare(rTs, lTs) <= 0) {
                  candidate = rBuf.next().copy()
                  readKeys(candidate, rKeyOrds, candKey)
                } else {
                  advancing = false
                }
              }
            }
            val matches = candidate != null && cmpKeys(candKey, lKey) == 0 &&
              (tol < 0 || lTs.asInstanceOf[Long] -
                candidate.get(rTsOrd, tsType).asInstanceOf[Long] <= tol)
            joined(lRow, if (matches) candidate else nullRight)
          }
        }
      } else {
        // FORWARD: discard right rows strictly behind (lKey, lTs); the
        // first remaining row with the same key is the match. It is NOT
        // consumed — the next left row (same key, later ts) may need it.
        // Safe to discard: left ts only grows within a key, so a right row
        // with rTs < lTs can never satisfy rTs >= ts' for any later ts'.
        lIter.map { lRow =>
          val lTs = lRow.get(lTsOrd, tsType)
          if (!readKeys(lRow, lKeyOrds, lKey) || lTs == null) {
            joined(lRow, nullRight)
          } else {
            var advancing = true
            var headOk = false
            while (advancing && rBuf.hasNext) {
              val rTs = rBuf.head.get(rTsOrd, tsType)
              if (!readKeys(rBuf.head, rKeyOrds, rKey) || rTs == null) {
                rBuf.next()
              } else {
                val cmpKey = cmpKeys(rKey, lKey)
                if (cmpKey < 0 ||
                    (cmpKey == 0 && tsOrdering.compare(rTs, lTs) < 0)) {
                  rBuf.next()
                } else {
                  // same key and rTs >= lTs; tolerance post-check mirrors
                  // backward (the in-window set is a prefix from leftTs)
                  advancing = false
                  headOk = cmpKey == 0 &&
                    (tol < 0 || rTs.asInstanceOf[Long] -
                      lTs.asInstanceOf[Long] <= tol)
                }
              }
            }
            joined(lRow, if (headOk) rBuf.head else nullRight)
          }
        }
      }
      resultIter.map(toUnsafe)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
