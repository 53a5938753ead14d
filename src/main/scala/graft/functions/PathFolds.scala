package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/* Fused per-way path folds — the codegen replacements for the remaining
  * zip_with + aggregate() segment lambdas of the geometry family
  * (higher-order lambdas never enter whole-stage codegen; the
  * JlSignProject/RingShoe r19 lesson). Each expression walks one way's
  * SORTED point array `array<struct<pos, node_ref, lon:bigint,
  * lat:bigint>>` once, consecutive-pair-wise, and reproduces the exact
  * arithmetic of the lambda it replaces:
  *
  *  - [[PathManhattan]]: Σ |Δlon| + |Δlat| — exact BIGINT (algebraic
  *    equivalence; osm_way_geometry's path_len numerator).
  *  - [[PathEuclid]]: Σ sqrt(double(Δlon² + Δlat²)) — the squared terms
  *    and their sum run in exact BIGINT, ONE cast to double, correctly
  *    rounded IEEE sqrt, left-associated double accumulation — the
  *    op-for-op order of the SQL template shared with the DuckDB oracle
  *    (osm_way_length_m / osm_length_by_class / osm_way_sinuosity).
  *  - [[PathGeodesic]]: Σ of OsmKernels.geoSeg's
  *    equirectangular-with-WGS84-radii segment polynomial, every double
  *    op mirrored in the template's association (cast sites, Horner
  *    chains, f1 = cos·nf formed BEFORE the Δlon multiply) so the fold
  *    is bit-identical to the lambda's and the oracle's
  *    (osm_way_length_geodesic, whose lat_c is the ±90°-banded latitude).
  *
  * Nulls follow PointFold's rule, which is the lambdas' own.
  */

/** Σ |Δlon| + |Δlat| over consecutive points — exact BIGINT. */
case class PathManhattan(child: Expression) extends PointFold(Seq(2, 3), pairwise = true) {
  override def dataType: DataType = LongType
  override def prettyName: String = "path_manhattan"

  override protected def fold(a: ArrayData): Any = PathFolds.manhattan(a)
  override protected def foldCall(a: String): String =
    s"graft.functions.PathFolds.manhattan($a)"

  override protected def withNewChildInternal(newChild: Expression): PathManhattan =
    copy(child = newChild)
}

/** Σ sqrt(double(Δlon² + Δlat²)), left-associated double accumulation. */
case class PathEuclid(child: Expression) extends PointFold(Seq(2, 3), pairwise = true) {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "path_euclid"

  override protected def fold(a: ArrayData): Any = PathFolds.euclid(a)
  override protected def foldCall(a: String): String =
    s"graft.functions.PathFolds.euclid($a)"

  override protected def withNewChildInternal(newChild: Expression): PathEuclid =
    copy(child = newChild)
}

/** Σ geoSeg(Δlon, Δlat, latSum) — the WGS84-corrected equirectangular
  * segment polynomial, bit-mirrored from OsmKernels.geoSeg/geoFactors.
  */
case class PathGeodesic(child: Expression) extends PointFold(Seq(2, 3), pairwise = true) {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "path_geodesic"

  override protected def fold(a: ArrayData): Any = PathFolds.geodesic(a)
  override protected def foldCall(a: String): String =
    s"graft.functions.PathFolds.geodesic($a)"

  override protected def withNewChildInternal(newChild: Expression): PathGeodesic =
    copy(child = newChild)
}

/** Exact-BIGINT sum of the ordinal-3 struct field over the point array —
  * replaces `aggregate(transform(pts, p -> p.lat_c), 0L, +)` (two
  * interpreted lambdas) for osm_way_area_geodesic's latitude mean.
  * Algebraic equivalence: exact long addition is order-free.
  */
case class StructLongSum3(child: Expression) extends PointFold(Seq(3), pairwise = false) {
  override def dataType: DataType = LongType
  override def prettyName: String = "struct_long_sum3"

  override protected def fold(a: ArrayData): Any = PathFolds.fieldSum3(a)
  override protected def foldCall(a: String): String =
    s"graft.functions.PathFolds.fieldSum3($a)"

  override protected def withNewChildInternal(newChild: Expression): StructLongSum3 =
    copy(child = newChild)
}

/** WGS84 area-element scale at the ring's mean vertex latitude —
  * cos(φ)·M·N/a² as OsmKernels.geoAreaScale's polynomial, computed ONCE.
  *
  * Why an expression: the r19 plan spliced the latitude-mean fold
  * (`latBar`, an aggregate() lambda) textually into every occurrence of
  * the polynomial's s² chain — the committed plan carried ~40 copies of
  * the interpreted fold PER ROW. Here latSum/n arrive as two cheap
  * child expressions and the polynomial mirrors the template op-for-op:
  * latBar = double(latSum)/double(n); x = latBar · 1.7453292519943295e-4;
  * c = cosPoly(x); s² = 1 − c·c;
  * scale = c · (0.9933056200098587 + s²·(0.013299130533377824 +
  *          s²·0.00013354414999338287)) — same literals, same
  * association, bit-identical to the spliced SQL and the oracle.
  */
case class GeoAreaScale(latSum: Expression, n: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = latSum
  override def right: Expression = n
  override def dataType: DataType = DoubleType
  override def prettyName: String = "geo_area_scale"

  override def checkInputDataTypes(): TypeCheckResult =
    if (latSum.dataType == LongType &&
        n.dataType == org.apache.spark.sql.types.IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, int), got " +
        s"(${latSum.dataType.simpleString}, ${n.dataType.simpleString})")

  override def nullSafeEval(s: Any, c: Any): Any =
    PathFolds.geoAreaScale(s.asInstanceOf[Long], c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, c) =>
      s"${ev.value} = graft.functions.PathFolds.geoAreaScale($s, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GeoAreaScale =
    copy(latSum = newLeft, n = newRight)
}

object PathFolds {
  /** Exact-BIGINT Σ of struct ordinal 3 (lat_c). */
  def fieldSum3(a: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getStruct(i, 4).getLong(3); i += 1 }
    acc
  }

  /** Bit-mirror of OsmKernels.geoAreaScale over the mean-latitude ratio. */
  def geoAreaScale(latSum: Long, n: Int): Double = {
    val latBar = latSum.toDouble / n.toDouble
    val x = latBar * 1.7453292519943295e-4
    val x2 = x * x
    val c = 1.0 + x2 * (-0.5 + x2 * (0.041666666666666664 + x2 *
      (-0.001388888888888889 + x2 * 2.48015873015873e-5)))
    val s2 = 1.0 - c * c
    c * (0.9933056200098587 + s2 * (0.013299130533377824 + s2 * 0.00013354414999338287))
  }

  /** Exact-BIGINT manhattan fold (osm_way_geometry's path numerator). */
  def manhattan(a: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    if (n > 0) {
      var px = a.getStruct(0, 4).getLong(2)
      var py = a.getStruct(0, 4).getLong(3)
      var i = 1
      while (i < n) {
        val r = a.getStruct(i, 4)
        val x = r.getLong(2); val y = r.getLong(3)
        acc += math.abs(x - px) + math.abs(y - py)
        px = x; py = y
        i += 1
      }
    }
    acc
  }

  /** IEEE-order euclid fold: long Δ² sum, one cast, correctly rounded
    * sqrt, left-associated double accumulation — op-for-op the SQL
    * template `sqrt(CAST(dx*dx + dy*dy AS DOUBLE))` folded with
    * `(acc, x) -> acc + x` from init 0.0.
    */
  def euclid(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    if (n > 0) {
      var px = a.getStruct(0, 4).getLong(2)
      var py = a.getStruct(0, 4).getLong(3)
      var i = 1
      while (i < n) {
        val r = a.getStruct(i, 4)
        val x = r.getLong(2); val y = r.getLong(3)
        val dx = x - px; val dy = y - py
        acc = acc + math.sqrt((dx * dx + dy * dy).toDouble)
        px = x; py = y
        i += 1
      }
    }
    acc
  }

  /** Bit-mirror of OsmKernels.geoSeg over (Δlon, Δlat, latSum):
    * x  = double(latSum) · 8.726646259971648e-5   (centi-deg → rad/2·2)
    * c  = cosPoly(x)     (8th-order Maclaurin, Horner, same literals)
    * s² = 1 − c·c
    * nf = 1 + s²·(0.0033471899950706582 + s²·1.680552129465167e-5)
    * mf = 0.9933056200098587 + s²·(0.009974347900033367 + s²·8.34650937458643e-5)
    * seg = sqrt((dlon·(c·nf))² + (dlat·mf)²)
    * Every op is the template's: one cast per operand site, c·nf formed
    * before the dlon multiply, squares as v·v, no FMA.
    */
  def geodesic(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    if (n > 0) {
      var px = a.getStruct(0, 4).getLong(2)
      var py = a.getStruct(0, 4).getLong(3)
      var i = 1
      while (i < n) {
        val r = a.getStruct(i, 4)
        val xc = r.getLong(2); val yc = r.getLong(3)
        val dlon = (xc - px).toDouble
        val dlat = (yc - py).toDouble
        val x = (py + yc).toDouble * 8.726646259971648e-5
        val x2 = x * x
        val c = 1.0 + x2 * (-0.5 + x2 * (0.041666666666666664 + x2 *
          (-0.001388888888888889 + x2 * 2.48015873015873e-5)))
        val s2 = 1.0 - c * c
        val nf = 1.0 + s2 * (0.0033471899950706582 + s2 * 1.680552129465167e-5)
        val mf = 0.9933056200098587 + s2 * (0.009974347900033367 + s2 * 8.34650937458643e-5)
        val dx = dlon * (c * nf)
        val dy = dlat * mf
        acc = acc + math.sqrt(dx * dx + dy * dy)
        px = xc; py = yc
        i += 1
      }
    }
    acc
  }

  def fieldSum3(pts: Column): Column =
    GraftColumnBridge.column(StructLongSum3(GraftColumnBridge.expression(pts)))
  def geoAreaScale(latSum: Column, n: Column): Column =
    GraftColumnBridge.column(GeoAreaScale(
      GraftColumnBridge.expression(latSum), GraftColumnBridge.expression(n)))
  def manhattan(pts: Column): Column =
    GraftColumnBridge.column(PathManhattan(GraftColumnBridge.expression(pts)))
  def euclid(pts: Column): Column =
    GraftColumnBridge.column(PathEuclid(GraftColumnBridge.expression(pts)))
  def geodesic(pts: Column): Column =
    GraftColumnBridge.column(PathGeodesic(GraftColumnBridge.expression(pts)))
}
