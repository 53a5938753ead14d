package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}

/** A fused fold over one way's point array
  * `array<struct<pos, node_ref, lon_c: bigint, lat_c: bigint>>` (the
  * `pts`/`ring` of OsmKernels.wayPoints/wayRings) — the shared type check
  * and null rule of [[PathManhattan]], [[PathEuclid]], [[PathGeodesic]],
  * [[StructLongSum3]], [[RingShoe]], [[BearingBins]] and [[GeomQaStats]].
  *
  * Null rule: the result is NULL when the fold would combine a null — a
  * null element, or a null in one of the `fields` it reads — as the
  * aggregate() lambdas of the path folds and the shoelace null-propagate
  * (`acc + NULL`). A `pairwise` fold over fewer than two points combines
  * nothing and returns its identity, as the zip_with over two empty
  * slices does. Arrays read back from parquet carry containsNull=true
  * and nullable fields, so those types are accepted; the null scan is
  * generated only when the input type admits a null, so the plans of
  * the non-null producers (array_sort(collect_list(...))) are unchanged.
  *
  * Subclasses give the fold over a null-free array twice: as a Scala call
  * for the interpreted path and as the same static call in Java source
  * for codegen. Serializable because the expression ships to executors,
  * and Java serialization cannot rebuild a non-serializable superclass
  * whose constructor takes arguments.
  */
abstract class PointFold(fields: Seq[Int], pairwise: Boolean)
  extends UnaryExpression with Serializable {

  protected def fold(a: ArrayData): Any
  protected def foldCall(a: String): String

  private val fieldMask = fields.map(1 << _).sum
  private val minPoints = if (pairwise) 2 else 1

  private def mayHoldNull: Boolean = child.dataType match {
    case ArrayType(st: StructType, containsNull) =>
      containsNull || fields.exists(st(_).nullable)
    case _ => false
  }

  override def nullable: Boolean = child.nullable || mayHoldNull

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.length == 4 &&
      fields.forall(st(_).dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<pos, node_ref, lon_c, lat_c>> with bigint " +
        s"fields at ordinals ${fields.mkString(", ")}, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (mayHoldNull && PointFold.poisoned(a, fieldMask, minPoints)) null else fold(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      if (mayHoldNull)
        s"""if (graft.functions.PointFold.poisoned($a, $fieldMask, $minPoints)) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = ${foldCall(a)};
           |}""".stripMargin
      else s"${ev.value} = ${foldCall(a)};")
}

object PointFold {
  /** True when `a` has at least `minPoints` elements and one of them is
    * null or has a null field among the ordinals set in `fieldMask`. */
  def poisoned(a: ArrayData, fieldMask: Int, minPoints: Int): Boolean = {
    val n = a.numElements()
    var hit = false
    var i = 0
    if (n >= minPoints) while (i < n && !hit) {
      if (a.isNullAt(i)) hit = true
      else {
        val r = a.getStruct(i, 4)
        var f = 0
        while (f < 4 && !hit) {
          hit = (fieldMask & (1 << f)) != 0 && r.isNullAt(f)
          f += 1
        }
      }
      i += 1
    }
    hit
  }
}
