package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF join — the canonical whole-operator extension: for every left
  * row, attach the single right row with the same key and the greatest
  * time <= the left row's time (left outer semantics). Spark has no such
  * operator; expressing it with built-ins needs a range join plus a
  * per-left-row max-window, which materializes every (left, earlier
  * right) pair — quadratic per key. This operator is the plan-level
  * implementation: co-partition both sides on the key, sort by
  * (key, time), and run a linear single-pass merge per partition.
  *
  * v1 restriction (checked at construction): key and time expressions
  * must be LongType — which microsecond/nanosecond epochs and surrogate
  * keys already are. Null keys/times never match.
  *
  * Scale shape: one exchange per side (same as any shuffled join), then
  * O(n) merge — no pair blowup, state is one buffered right row.
  */
final case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long] = None)
    extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

final case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long] = None)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lk = BindReferences.bindReference(leftKey, leftOut)
    val lt = BindReferences.bindReference(leftTime, leftOut)
    val rk = BindReferences.bindReference(rightKey, rightOut)
    val rt = BindReferences.bindReference(rightTime, rightOut)
    val outAttrs = output

    val tol = tolerance
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightOut.size)

      // buffered right cursor: the latest right row whose (key, time) is
      // <= the current left position, plus one lookahead row
      var curKey = 0L
      var curTime = 0L
      var cur: InternalRow = null
      var nextKey = 0L
      var nextTime = 0L
      var next: InternalRow = null

      def advanceRight(): Unit = {
        next = null
        while (next == null && rIter.hasNext) {
          val r = rIter.next()
          val k = rk.eval(r)
          val t = rt.eval(r)
          if (k != null && t != null) {
            nextKey = k.asInstanceOf[Long]
            nextTime = t.asInstanceOf[Long]
            next = r.copy() // rows are reused by the upstream iterator
          }
        }
      }
      advanceRight()

      lIter.map { l =>
        val kAny = lk.eval(l)
        val tAny = lt.eval(l)
        if (kAny == null || tAny == null) proj(joined(l, nullRight))
        else {
          val k = kAny.asInstanceOf[Long]
          val t = tAny.asInstanceOf[Long]
          while (next != null &&
            (nextKey < k || (nextKey == k && nextTime <= t))) {
            cur = next
            curKey = nextKey
            curTime = nextTime
            advanceRight()
          }
          // the buffered row is the GREATEST right time <= t; anything
          // earlier is farther, so one tolerance check suffices
          if (cur != null && curKey == k && tol.forall(t - curTime <= _))
            proj(joined(l, cur))
          else proj(joined(l, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node to its exec, installed once
  * per session by [[graft.functions.GraftExtensions]] or, on a session
  * built without them, [[graft.functions.GraftRuntime.ensure]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol) :: Nil
    case _ => Nil
  }
}
