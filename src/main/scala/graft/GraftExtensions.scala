package graft

import graft.functions.{CosineSimilarity, HllSketchAgg, MinHashSignature,
  PointInRing, SimHash64, WkbLineString}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's custom Catalyst functions.
  *
  * Two registration paths, same builders:
  *   - `spark-submit --conf spark.sql.extensions=graft.GraftExtensions`
  *     injects them at session build (the plugin path a user of the
  *     library deploys cluster-wide);
  *   - `GraftExtensions.register(spark)` adds them to a live session
  *     (the path tests and notebooks use).
  *
  * After either, plain SQL works:
  *   SELECT hll_distinct(l_partkey) FROM lineitem;
  *   SELECT cosine_sim(a.embedding, b.embedding) FROM ...;
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      e.injectFunction((ident, info, builder))
    }
    // the whole-operator extensions (org.apache.spark.sql.graft.AsofJoin,
    // RangeJoin): cluster-wide deployments get their planner strategies
    // with the same one-liner; Asof.join and Ranged.join also install
    // theirs per-session for live use
    e.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsofJoinStrategy)
    e.injectPlannerStrategy(_ => org.apache.spark.sql.graft.RangeJoinStrategy)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("hll_distinct"),
      info("hll_distinct", "hll_distinct(expr) - approximate COUNT(DISTINCT expr) via an HLL register sketch (p=12, ~1.6% rse)"),
      (children: Seq[Expression]) => HllSketchAgg(children.head)),
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors (codegen'd loop)"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(gram_hashes array<bigint>) - 64-lane MinHash signature (fused map-side kernel, one pass over the gram hashes)"),
      (children: Seq[Expression]) => MinHashSignature(children.head, 64)),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens array<string>) - frequency-weighted 64-bit SimHash fingerprint"),
      (children: Seq[Expression]) => SimHash64(children.head)),
    (FunctionIdentifier("point_in_ring"),
      info("point_in_ring", "point_in_ring(lons array<bigint>, lats array<bigint>, x bigint, y bigint) - exact integer crossing-number containment test"),
      (children: Seq[Expression]) =>
        PointInRing(children(0), children(1), children(2), children(3))),
    (FunctionIdentifier("wkb_linestring"),
      info("wkb_linestring", "wkb_linestring(xs array<double>, ys array<double>) - OGC little-endian WKB LineString bytes"),
      (children: Seq[Expression]) => WkbLineString(children(0), children(1)))
  )

  /** Register on an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, i, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, i, builder)
    }
}
