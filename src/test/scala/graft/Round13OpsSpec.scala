package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 invariants. The first test is the cross-check VERDICT r12
  * item 2 asked to keep: the registered event_rfm plan replaced the
  * single-task `ntile(5) OVER (ORDER BY ...)` with a range-partitioned
  * two-phase rank — this pins, at fixture scale, that the distributed
  * plan is bit-identical to the classic global window it replaced.
  */
class Round13OpsSpec extends GraftSuite {

  test("event_rfm: distributed two-phase ntile == textbook ntile, bit-for-bit") {
    // Independent oracle: the SQL-standard ntile bucket formula applied
    // driver-side to the collected per-user table (fixture-sized). This
    // deliberately does NOT use a global Spark window — the r12 defect
    // was exactly that single-task plan, and this suite must stay free
    // of `WindowExec: No Partition Defined` warnings.
    // Call the DISTRIBUTED arm: at fixture scale the row-count gate
    // picks the driver arm, and this pin exists precisely to hold the
    // scale path to the textbook formula.
    val got = operators.EventOps.rfmDistributed(operators.EventOps.rfmUsers(spark, sf))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    val u = T.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(unix_millis(col("ts"))).as("last_ms"),
           count(lit(1)).as("n_events"),
           sum(Det.dec2(col("value"))).as("monetary"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                 r.getDecimal(3)))
    // ntile(k) over a totally-ordered sequence of n rows: the first
    // n%k buckets get ceil(n/k) rows, the rest floor(n/k).
    def ntileOf[K: Ordering](keys: Seq[(Long, K)]): Map[Long, Long] = {
      val sorted = keys.sortBy { case (uid, key) => (key, uid) }
      val n = sorted.size; val k = 5
      val base = n / k; val rem = n % k
      sorted.zipWithIndex.map { case ((uid, _), i) =>
        val b = if (i < rem * (base + 1)) i / (base + 1)
                else rem + (i - rem * (base + 1)) / math.max(base, 1)
        uid -> (b + 1).toLong
      }.toMap
    }
    val r = ntileOf(u.map(x => x._1 -> x._2).toSeq)
    val f = ntileOf(u.map(x => x._1 -> x._3).toSeq)
    val m = ntileOf(u.map(x => x._1 -> BigDecimal(x._4)).toSeq)
    assert(got.keySet == u.map(_._1).toSet)
    for ((uid, _, _, _) <- u) {
      val w = (r(uid), f(uid), m(uid), r(uid) * 100 + f(uid) * 10 + m(uid))
      assert(got(uid) == w, s"user $uid: distributed ${got(uid)} vs reference $w")
    }
  }

  // --- declarative layer styles (VERDICT r12 item 5): layers are DATA.

  test("layer specs: a new layer lands from JSON alone, no code change") {
    // The default style plus one brand-new layer with a compound (all-of)
    // predicate — exactly the flex workflow: edit the style file, rerun.
    val style =
      """{"layers": [
        |  {"name": "heavy",   "where": {"tag":"size","type":"int","op":">=","value":"25"}},
        |  {"name": "premium", "where": {"tag":"price","type":"double","op":">","value":"1500"}},
        |  {"name": "cheap_small", "where": {"all": [
        |     {"tag":"price","type":"double","op":"<","value":"950"},
        |     {"tag":"size","type":"int","op":"<","value":"10"}]}}],
        | "promote": [
        |  {"col":"brand","tag":"brand"},
        |  {"col":"size_val","tag":"size","type":"int"}]}""".stripMargin
    val spec = config.LayerSpecs.parse(style)
    assert(spec.layers.map(_.name) == Seq("heavy", "premium", "cheap_small"))
    val tagged = T.part(spark, sf).select(
      col("p_partkey"),
      map(lit("brand"), col("p_brand"), lit("size"), col("p_size").cast("string"),
          lit("price"), col("p_retailprice").cast("string")).as("tags"))
    val routed = tagged
      .select(col("p_partkey"), spec.layersCol.as("layers"))
      .select(col("p_partkey"), explode(col("layers")).as("layer"))
    def ids(layer: String) =
      routed.where(col("layer") === layer).select("p_partkey")
        .collect().map(_.getLong(0)).toSet
    // the new layer equals its direct-filter definition, and is non-trivial
    val wantCheap = T.part(spark, sf)
      .where(col("p_retailprice") < 950 && col("p_size") < 10)
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(wantCheap.nonEmpty)
    assert(ids("cheap_small") == wantCheap)
    // pre-existing layers are untouched by the addition
    val dflt = config.LayerSpecs.default
    val dfltRouted = tagged
      .select(col("p_partkey"), dflt.layersCol.as("layers"))
      .select(col("p_partkey"), explode(col("layers")).as("layer"))
    for (l <- Seq("heavy", "premium"))
      assert(ids(l) ==
        dfltRouted.where(col("layer") === l).select("p_partkey")
          .collect().map(_.getLong(0)).toSet)
  }

  test("OsmEtlJob --layer-spec: a style file reroutes the lake's layer table") {
    val style =
      """{"layers": [
        |  {"name": "branded_rail", "where": {"all": [
        |     {"tag":"brand","op":"like","value":"Brand#4%"},
        |     {"tag":"size","type":"int","op":">=","value":"40"}]}}],
        | "promote": []}""".stripMargin
    val out = Scratch.fresh("etl_style")
    val specFile = java.nio.file.Paths.get(out, "style.json")
    java.nio.file.Files.write(specFile, style.getBytes("UTF-8"))
    val counts = plans.OsmEtlJob.run(spark, sf, out, "2024-08-01",
                                     Some(specFile.toString)).toMap
    val lake = spark.read.parquet(s"$out/layers")
    assert(lake.select("layer").distinct().collect().map(_.getString(0)).toSet
             == Set("branded_rail"))
    // spec-routed row count equals the direct-filter definition
    val want = T.part(spark, sf)
      .where(col("p_brand").like("Brand#4%") && col("p_size") >= 40).count()
    assert(counts("layers") == want && want > 0)
  }
}
