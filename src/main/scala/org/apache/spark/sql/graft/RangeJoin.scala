package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference,
  AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** The engine's SECOND whole-operator extension (VERDICT r18 #5,
  * following [[AsofJoin]]'s logical-node → strategy → physical-exec
  * pattern): a keyed BAND join — for every left row, all right rows
  * with the same key whose time lies within ±delta of the left time
  * (kdb `wj`'s window shape, pandas `merge_asof(tolerance=...)`
  * widened to both sides and ALL matches instead of the nearest one).
  *
  * Why an exec instead of composition: the declarative spellings are a
  * range theta-join (quadratic per key — Spark plans it as a nested
  * loop inside the key group) or the grid-blocking trick
  * (`join_interval`) which pays an explode of each row into
  * band-aligned cells plus a dedup filter. The merge-scan does neither:
  *
  *   - requiredChildDistribution clusters BOTH sides on the key —
  *     EnsureRequirements plans exactly one exchange per side (the
  *     sort-merge-join cost, PlanSpec-pinned);
  *   - requiredChildOrdering asks for (key, time) per side, so the
  *     planner's own sorts establish scan order;
  *   - execution per partition pair is one forward pass over each
  *     side: the right pointer never rewinds, and state is the deque
  *     of right rows inside the CURRENT ±delta window — bounded by
  *     band density, never by partition size.
  *
  * Semantics: left-outer — every left row emits its matches (one
  * output row per match, right value deep-copied off the scan buffer),
  * or a single NULL-value row when the window is empty. Matches emit
  * in (time, value) order (the declared right-side ordering), so
  * output is deterministic under any shuffle layout. Keys and times
  * are BIGINT by contract, same as [[AsofJoin]].
  */
case class RangeJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightVal: Expression,
    delta: Long,
    // carried explicitly, not as an Alias — CleanupAliases strips Alias
    // wrappers inside custom nodes (the AsofJoin lesson)
    rvAttr: AttributeReference)
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ rvAttr
  override def producedAttributes: AttributeSet = AttributeSet(rvAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoin =
    copy(left = newLeft, right = newRight)
}

object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoin(l, r, lk, rk, lt, rt, rv, d, attr) =>
      RangeJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rv, d, attr) :: Nil
    case _ => Nil
  }
}

case class RangeJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightVal: Expression,
    delta: Long,
    rvAttr: AttributeReference)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ rvAttr
  override def producedAttributes: AttributeSet = AttributeSet(rvAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // right ties on (key, time) order by value → deterministic emission
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
        SortOrder(rightVal, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    require(leftKey.dataType == LongType && rightKey.dataType == LongType &&
            leftTime.dataType == LongType && rightTime.dataType == LongType,
      "range_join contract: BIGINT keys and epoch-ms BIGINT times")
    require(delta >= 0, "range_join contract: non-negative band width")
    val d = delta
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val rkB = BindReferences.bindReference(rightKey, right.output)
    val rtB = BindReferences.bindReference(rightTime, right.output)
    val rvB = BindReferences.bindReference(rightVal, right.output)
    val outAttrs = output
    val leftAttrs = left.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val valueRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, leftAttrs :+ outAttrs.last)
      // the live window: right rows of the CURRENT left key with
      // time >= lt - delta, in (time, value) scan order. Values are
      // deep-copied (InternalRow.copyValue) because shuffle iterators
      // reuse their backing UnsafeRow.
      val times = new java.util.ArrayDeque[Long]()
      val vals = new java.util.ArrayDeque[Any]()
      var bufKey = Long.MinValue
      var bufValid = false
      lIter.flatMap { l =>
        val lk = lkB.eval(l).asInstanceOf[Long]
        val lt = ltB.eval(l).asInstanceOf[Long]
        if (!bufValid || bufKey != lk) { times.clear(); vals.clear(); bufKey = lk; bufValid = true }
        // ingest right rows up to the window's trailing edge
        var advance = true
        while (advance && rBuf.hasNext) {
          val r = rBuf.head
          val rk = rkB.eval(r).asInstanceOf[Long]
          if (rk < lk) { rBuf.next() }
          else if (rk == lk) {
            val rt = rtB.eval(r).asInstanceOf[Long]
            if (rt <= lt + d) {
              rBuf.next()
              if (rt >= lt - d) { times.addLast(rt); vals.addLast(InternalRow.copyValue(rvB.eval(r))) }
            } else advance = false
          } else advance = false
        }
        // evict rows that fell out of the leading edge
        while (!times.isEmpty && times.peekFirst() < lt - d) { times.pollFirst(); vals.pollFirst() }
        // Iterator.flatMap exhausts each inner iterator before advancing
        // the outer one, so borrowing `l`, the deque and the projection
        // buffer across the inner emission is safe (consumers copy when
        // they buffer — the standard operator-output contract)
        if (times.isEmpty) {
          valueRow.update(0, null)
          Iterator.single(proj(joined(l, valueRow)))
        } else {
          val snapshot = vals.toArray
          snapshot.iterator.map { v =>
            valueRow.update(0, v)
            proj(joined(l, valueRow))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing entry, mirroring [[Asof.join]]: all right `valueCol`
  * values within ±`delta` of each left row's `time`, per `key`. */
object Ranged {
  def join(leftDf: DataFrame, rightDf: DataFrame,
           key: String, time: String, valueCol: String, as: String,
           delta: Long): DataFrame = {
    val spark = leftDf.sparkSession
    Strategies.install(spark, RangeJoinStrategy)
    val lPlan = leftDf.queryExecution.analyzed
    // fresh exprIds on the right — the self-join shape (AsofJoin lesson)
    val rAnalyzed = rightDf.queryExecution.analyzed
    val rPlan: LogicalPlan = org.apache.spark.sql.catalyst.plans.logical.Project(
      rAnalyzed.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rAnalyzed)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"range_join: no column '$n' in ${p.output.map(_.name)}"))
    val src = attr(rPlan, valueCol)
    val out = AttributeReference(as, src.dataType, nullable = true)()
    GraftOfRows(spark,
      RangeJoin(lPlan, rPlan, attr(lPlan, key), attr(rPlan, key),
                attr(lPlan, time), attr(rPlan, time), src, delta, out))
  }
}
