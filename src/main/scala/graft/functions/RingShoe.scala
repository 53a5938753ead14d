package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Fused shoelace sum over a closed ring's point array — the codegen
  * replacement for the zip_with + aggregate lambda (higher-order lambdas
  * evaluate interpreted): Σ over consecutive pairs of
  * a.lon_c·b.lat_c − b.lon_c·a.lat_c, exact BIGINT, identical to the
  * fold it replaces term-for-term (integer ops have no rounding, so
  * equivalence is algebraic, not IEEE-order-dependent). The one shoelace
  * of the area keys and of the ETL job's `areas` table
  * (OsmKernels.wayRings).
  *
  * Input: the `ring` element, lon_c and lat_c at ordinals 2 and 3; nulls
  * follow [[PointFold]]'s rule.
  */
case class RingShoe(child: Expression) extends PointFold(Seq(2, 3), pairwise = true) {
  override def dataType: DataType = LongType
  override def prettyName: String = "ring_shoe"

  override protected def fold(a: ArrayData): Any = RingShoe.shoelace(a)
  override protected def foldCall(a: String): String =
    s"graft.functions.RingShoe.shoelace($a)"

  override protected def withNewChildInternal(newChild: Expression): RingShoe =
    copy(child = newChild)
}

object RingShoe {
  def shoelace(a: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    if (n > 0) {
      var px = a.getStruct(0, 4).getLong(2)
      var py = a.getStruct(0, 4).getLong(3)
      var i = 1
      while (i < n) {
        val r = a.getStruct(i, 4)
        val x = r.getLong(2); val y = r.getLong(3)
        acc += px * y - x * py
        px = x; py = y
        i += 1
      }
    }
    acc
  }

  def apply(ring: Column): Column =
    GraftColumnBridge.column(new RingShoe(GraftColumnBridge.expression(ring)))
}
