package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference,
  AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** A WHOLE-OPERATOR extension (SURVEY §7.1 stance (c), the one rung the
  * engine had not yet exercised): the as-of join as a first-class
  * logical node + planner strategy + physical merge-scan, instead of
  * the union+window emulation `join_asof` registers.
  *
  * Lives under `org.apache.spark.sql` deliberately: `Dataset.ofRows`
  * and parts of catalyst are `private[sql]`, and planting the extension
  * inside the package is the standard technique third-party Spark
  * operator libraries use to reach them — everything consumed here is
  * Spark's own public-source API surface.
  *
  * Physical contract (what makes this the 100 TB shape):
  *   - requiredChildDistribution clusters BOTH sides on the key —
  *     EnsureRequirements co-partitions them with ONE exchange each,
  *     exactly like a sort-merge join;
  *   - requiredChildOrdering asks for (key, time) per side, so the
  *     planner's sort (not operator code) establishes scan order;
  *   - execution is a single forward merge-scan per partition pair: the
  *     right pointer never rewinds, state is ONE (key, value) pair —
  *     O(|L| + |R|) per partition, no window buffer, no row group
  *     materialization, nothing driver-side.
  *
  * Semantics: for each left row, the right row with the same key and
  * the LARGEST time ≤ left time (inclusive — DuckDB `ASOF JOIN ...
  * t.ts >= q.ts` agrees); left rows with no such match emit NULL
  * (left-outer flavor). Keys and times are BIGINT by contract — the
  * engine's ids and epoch-ms columns — which keeps the hot loop free
  * of boxed comparators.
  */
case class AsofJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightVal: Expression,
    // the produced attribute is carried EXPLICITLY (not as an Alias):
    // the analyzer's CleanupAliases strips Alias wrappers from every
    // operator outside its Project/Aggregate/Window allow-list, which
    // would silently rename the output column of a custom node
    rvAttr: AttributeReference)
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ rvAttr
  override def producedAttributes: AttributeSet = AttributeSet(rvAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, rv, attr) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rv, attr) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightVal: Expression,
    rvAttr: AttributeReference)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ rvAttr
  override def producedAttributes: AttributeSet = AttributeSet(rvAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // ties on (key, time) among quotes are ordered by value so the scan is
  // deterministic under any shuffle layout
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
        SortOrder(rightVal, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    require(leftKey.dataType == LongType && rightKey.dataType == LongType &&
            leftTime.dataType == LongType && rightTime.dataType == LongType,
      "asof_join contract: BIGINT keys and epoch-ms BIGINT times")
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
      var matchKey = 0L
      var matchValid = false
      var matchVal: Any = null
      lIter.map { l =>
        val lk = lkB.eval(l).asInstanceOf[Long]
        val lt = ltB.eval(l).asInstanceOf[Long]
        var advance = true
        while (advance && rBuf.hasNext) {
          val r = rBuf.head
          val rk = rkB.eval(r).asInstanceOf[Long]
          if (rk < lk || (rk == lk && rtB.eval(r).asInstanceOf[Long] <= lt)) {
            rBuf.next()
            // matchVal is carried across right-iterator advances and across
            // left rows, but sort/shuffle iterators reuse their backing
            // UnsafeRow — a borrowed UTF8String/Decimal/array would be
            // silently repointed. InternalRow.copyValue deep-copies exactly
            // the buffer-backed types and passes primitives through.
            matchKey = rk; matchVal = InternalRow.copyValue(rvB.eval(r)); matchValid = true
          } else advance = false
        }
        valueRow.update(0, if (matchValid && matchKey == lk) matchVal else null)
        proj(joined(l, valueRow))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Installs a planner strategy on a session once. A session started
  * with `spark.sql.extensions=graft.GraftExtensions` already carries both
  * join strategies; every other session (those of `graft.Sessions` and
  * perfbench's own) gets them here, on first use. The check and the
  * append hold the session's `experimental` lock, so two joins built on
  * different threads cannot drop each other's strategy.
  */
private[graft] object Strategies {
  def install(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(strategy))
        methods.extraStrategies = methods.extraStrategies :+ strategy
    }
  }
}

/** User-facing entry: `Asof.join(trades, quotes, "user_id", "ms", value)`.
  * Resolves the named columns against the ANALYZED children (so the
  * custom node is born fully resolved) and installs the strategy on the
  * session once.
  */
object Asof {
  def join(leftDf: DataFrame, rightDf: DataFrame,
           key: String, time: String, valueCol: String, as: String): DataFrame = {
    val spark = leftDf.sparkSession
    Strategies.install(spark, AsofJoinStrategy)
    val lPlan = leftDf.queryExecution.analyzed
    // Re-alias every right-side column to FRESH exprIds: when both
    // inputs derive from the same relation (the usual self-asof shape),
    // left and right would otherwise share attribute ids — the analyzer
    // deduplicates the child of a node it recognizes but cannot remap a
    // custom node's expression fields, leaving them stale.
    val rAnalyzed = rightDf.queryExecution.analyzed
    val rPlan: LogicalPlan = org.apache.spark.sql.catalyst.plans.logical.Project(
      rAnalyzed.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rAnalyzed)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"asof_join: no column '$n' in ${p.output.map(_.name)}"))
    val src = attr(rPlan, valueCol)
    val out = AttributeReference(as, src.dataType, nullable = true)()
    GraftOfRows(spark,
      AsofJoin(lPlan, rPlan, attr(lPlan, key), attr(rPlan, key),
               attr(lPlan, time), attr(rPlan, time), src, out))
  }
}

private[graft] object GraftOfRows {
  def apply(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
