package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused street-grid orientation bin counts over one way's SORTED point
  * array — the codegen replacement for osm_way_bearing's aggregate()
  * lambda (higher-order lambdas never enter whole-stage codegen; the
  * emb_random_projection fusion measured the interpreted floor at ~8×).
  *
  * Input: array<struct<pos, node_ref, lon_c: bigint, lat_c: bigint>>,
  * already array_sort'ed by the caller (same element the lambda saw).
  * Output: struct<ew,ns,ne,nw bigint> — per-segment classification on
  * exact BIGINTs, identical to the in-fold rule it replaces:
  * zero-length segments skipped; 12·|dy| < 5·|dx| → E-W;
  * 5·|dy| > 12·|dx| → N-S; else dx·dy > 0 → NE-SW else NW-SE.
  * Nulls follow [[PointFold]]'s rule (NULL result). The lambda did not
  * null-propagate here: its IF chain sent a null segment to NW-SE.
  */
case class BearingBins(child: Expression) extends PointFold(Seq(2, 3), pairwise = true) {

  override def dataType: DataType = StructType(Seq(
    StructField("ew", LongType, nullable = false),
    StructField("ns", LongType, nullable = false),
    StructField("ne", LongType, nullable = false),
    StructField("nw", LongType, nullable = false)))
  override def prettyName: String = "bearing_bins"

  override protected def fold(a: ArrayData): Any = BearingBins.bins(a)
  override protected def foldCall(a: String): String =
    s"graft.functions.BearingBins.bins($a)"

  override protected def withNewChildInternal(newChild: Expression): BearingBins =
    copy(child = newChild)
}

object BearingBins {
  def bins(a: ArrayData): GenericInternalRow = {
    val n = a.numElements()
    var ew = 0L; var ns = 0L; var ne = 0L; var nw = 0L
    var i = 1
    var px = if (n > 0) a.getStruct(0, 4).getLong(2) else 0L
    var py = if (n > 0) a.getStruct(0, 4).getLong(3) else 0L
    while (i < n) {
      val r = a.getStruct(i, 4)
      val x = r.getLong(2); val y = r.getLong(3)
      val dx = x - px; val dy = y - py
      if (!(dx == 0L && dy == 0L)) {
        val adx = math.abs(dx); val ady = math.abs(dy)
        if (12L * ady < 5L * adx) ew += 1L
        else if (5L * ady > 12L * adx) ns += 1L
        else if (dx * dy > 0L) ne += 1L
        else nw += 1L
      }
      px = x; py = y
      i += 1
    }
    new GenericInternalRow(Array[Any](ew, ns, ne, nw))
  }

  def apply(pts: Column): Column =
    GraftColumnBridge.column(new BearingBins(GraftColumnBridge.expression(pts)))
}
