package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the second round-12 batch (`agg_count_min`,
  * `graph_shortest_path`, `text_bloom_contamination`; the two new
  * `sql_*` keys are verbatim-SQL oracled and plan-pinned in PlanSpec).
  * These pin what the fixture-derived DuckDB compare can't: the sketch's
  * one-sided error bound against exact counts, BFS distances on a
  * planted graph with unreachable and beyond-horizon nodes, and the
  * bloom pre-filter's bit-identity with the exact join.
  */
class Round12bOpsSpec extends GraftSuite {

  test("agg_count_min: estimates are one-sided (est >= exact) and within eps*N") {
    val est = SparkEntry.queries("agg_count_min")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = T.lineitem(spark, sf).select(col("l_partkey"))
    val n = li.count()
    val exact = li.where(col("l_partkey").between(1, 20))
      .groupBy(col("l_partkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == (1L to 20L).toSet)
    for ((k, e) <- est) {
      val t = exact.getOrElse(k, 0L)
      assert(e >= t, s"CMS must never undercount: key $k est $e < exact $t")
      assert(e <= t + math.ceil(0.001 * n).toLong,
        s"key $k est $e exceeds exact $t + eps*N (${math.ceil(0.001 * n).toLong})")
    }
  }

  test("agg_count_min: pinned seed makes the sketch run-deterministic") {
    val a = SparkEntry.queries("agg_count_min")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("agg_count_min")(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("graph_shortest_path: planted chain distances; unreachable and beyond-horizon nodes absent") {
    val dir = Scratch.fresh("bfs")
    import spark.implicits._
    // edge (a, b) is planted by doc_id = 50*b + a (the %50 / DIV 50
    // derivation). Chain 0-1-2-…-8 puts nodes 7, 8 past the depth-6
    // horizon; isolated edge 10-11 is unreachable from the seed.
    val chain = (0L to 7L).map(i => 50L * (i + 1) + i) // edges i—(i+1)
    val docs = (chain :+ (50L * 11 + 10)).map(id => (id, "x y", "en", "web", 3))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("graph_shortest_path")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 6L).map(i => i -> i).toMap,
      s"expected exact hop counts 0..6 only (beyond-horizon + unreachable absent), got $got")
  }

  test("graph_shortest_path: min wins when a shortcut exists") {
    val dir = Scratch.fresh("bfs2")
    import spark.implicits._
    // chain 0-1-2-3 plus direct edge 0-3: dist(3) must be 1, not 3
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L))
    edges.map { case (a, b) => (50L * b + a, "x", "en", "web", 1) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("graph_shortest_path")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L), s"got $got")
  }

  test("sink_dynamic_overwrite: static mode would drop untouched slices; dynamic keeps them") {
    // the oracled key asserts dynamic KEEPS O/P; this pins the contrast —
    // the same reload under default static overwrite loses every slice
    // not present in the incoming batch (the bug the key exists to avoid)
    val dir = Scratch.fresh("staticover")
    val o = T.orders(spark, sf)
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    o.where(col("o_orderstatus") === "F")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val left = spark.read.parquet(dir).select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).toSet
    assert(left == Set("F"), s"static overwrite must keep only the incoming slice, got $left")
    val dyn = SparkEntry.queries("sink_dynamic_overwrite")(spark, sf)
      .collect().map(_.getString(0)).toSet
    assert(dyn == Set("F", "O", "P"), s"dynamic overwrite must keep all slices, got $dyn")
  }

  test("scan_merge_schema: evolved column is NULL exactly on the old generation") {
    val rows = SparkEntry.queries("scan_merge_schema")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => (r.getLong(0) % 2 == 1) == !r.isNullAt(2)),
      "gen1 (even keys) must surface o_orderpriority as NULL, gen2 must carry it")
  }

  test("text_bloom_contamination: bit-identical to the exact join (no false negatives survive)") {
    val exact = SparkEntry.queries("text_contamination")(spark, sf).collect().toSeq
    val df = SparkEntry.queries("text_bloom_contamination")(spark, sf)
    val bloom = df.collect().toSeq
    assert(exact.nonEmpty, "fixture must produce contaminated docs")
    assert(bloom == exact)
    // r15 item 5: the probe is the codegen'd bloom_might_contain_long
    // expression — the plan must be free of the Scala UDF it replaced,
    // keeping the scan-side kill inside whole-stage codegen
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("udf("),
      s"bloom probe must not be a Scala UDF:\n$p")
    assert(p.contains("bloom_might_contain_long"),
      s"plan must probe via the fused bloom expression:\n$p")
  }
}
