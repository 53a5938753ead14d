package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused per-way geometry-QA stats over the SORTED point array
  * `array<struct<pos, node_ref:bigint, lon_c:bigint, lat_c:bigint>>` —
  * the codegen replacement for osm_geometry_qa's two transform() +
  * one filter() lambdas and two array_distinct passes (each interpreted
  * per element). One walk computes, with the EXACT integer semantics of
  * the expressions it replaces:
  *
  *  - n_pts          = size(a)
  *  - n_zero_len     = #{i : pk[i] = pk[i+1]} over consecutive pairs,
  *                     pk = lon_c·100000000 + lat_c (injective by the
  *                     fixture's lat bound), 0 when n < 2
  *  - is_ring        = n ≥ 2 ∧ refs[0] = refs[n−1]
  *  - n_illegal_reps = n − |distinct refs| − (is_ring ? 1 : 0)
  *  - n_distinct_pts = |distinct pk|
  *
  * All counts are set-cardinality/equality logic on exact BIGINTs, so
  * equivalence is algebraic, not order- or IEEE-dependent.
  * Nulls follow [[PointFold]]'s rule: a null element, node_ref, lon_c or
  * lat_c gives a NULL struct. (The lambdas it replaced did not
  * null-propagate: array_distinct counts a null as one value, and a
  * null ref comparison left is_ring NULL beside non-null counts.)
  */
case class GeomQaStats(child: Expression) extends PointFold(Seq(1, 2, 3), pairwise = false) {

  override def dataType: DataType = StructType(Seq(
    StructField("n_pts", LongType, nullable = false),
    StructField("n_zero_len", LongType, nullable = false),
    StructField("is_ring", BooleanType, nullable = false),
    StructField("n_illegal_repeats", LongType, nullable = false),
    StructField("n_distinct_pts", LongType, nullable = false)))
  override def prettyName: String = "geom_qa_stats"

  override protected def fold(a: ArrayData): Any = GeomQaStats.compute(a)
  override protected def foldCall(a: String): String =
    s"graft.functions.GeomQaStats.compute($a)"

  override protected def withNewChildInternal(newChild: Expression): GeomQaStats =
    copy(child = newChild)
}

object GeomQaStats {
  def compute(a: ArrayData): GenericInternalRow = {
    val n = a.numElements()
    val refs = new java.util.HashSet[java.lang.Long]()
    val pks = new java.util.HashSet[java.lang.Long]()
    var zero = 0L
    var firstRef = 0L; var lastRef = 0L
    var prevPk = 0L
    var i = 0
    while (i < n) {
      val r = a.getStruct(i, 4)
      val ref = r.getLong(1)
      val pk = r.getLong(2) * 100000000L + r.getLong(3)
      if (i == 0) firstRef = ref
      lastRef = ref
      if (i > 0 && pk == prevPk) zero += 1L
      refs.add(ref); pks.add(pk)
      prevPk = pk
      i += 1
    }
    val isRing = n >= 2 && firstRef == lastRef
    val illegal = n.toLong - refs.size.toLong - (if (isRing) 1L else 0L)
    new GenericInternalRow(Array[Any](
      n.toLong, zero, isRing, illegal, pks.size.toLong))
  }

  def apply(pts: Column): Column =
    GraftColumnBridge.column(new GeomQaStats(GraftColumnBridge.expression(pts)))
}
