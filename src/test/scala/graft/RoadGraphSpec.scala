package graft

/** `osm_road_graph` semantics the sf-fixture oracle can't discriminate:
  * the corpus is so dense every node is a junction (all edges 2-point),
  * so interior non-junction RUNS — the case the splitter exists for —
  * never occur there. This plants a sparse network and pins them.
  *
  * Layout (lon = p_size units, lat = p_retailprice units):
  *   way 1: 1-2-3-4-5 along lat 0 (lon 0..4); node 3 crossed by way 2,
  *          node 5 shared with way 5 → junctions at 3 (interior) and 5
  *   way 2: 10-3-11 vertical through node 3
  *   way 3: 20-21 isolated 3-4-5 triangle hypotenuse (no junctions)
  *   way 4: single node 30 (degenerate — must emit NO edge)
  *   way 5: 5-40 (junction at its FIRST vertex — no double cut)
  */
class RoadGraphSpec extends GraftSuite {

  test("osm_road_graph: interior junctions split runs; chains cover each way; lengths add up") {
    val dir = Scratch.fresh("roadgraph")
    import spark.implicits._
    Seq((1L, 0, 0.0), (2L, 1, 0.0), (3L, 2, 0.0), (4L, 3, 0.0), (5L, 4, 0.0),
        (10L, 2, -1.0), (11L, 2, 1.0),
        (20L, 10, 0.0), (21L, 13, 4.0),
        (30L, 50, 50.0),
        (40L, 4, 2.0))
      .toDF("p_partkey", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((1L, 1, 1L), (1L, 2, 2L), (1L, 3, 3L), (1L, 4, 4L), (1L, 5, 5L),
        (2L, 1, 10L), (2L, 2, 3L), (2L, 3, 11L),
        (3L, 1, 20L), (3L, 2, 21L),
        (4L, 1, 30L),
        (5L, 1, 5L), (5L, 2, 40L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val got = SparkEntry.queries("osm_road_graph")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getDouble(5)))

    // 100 centi-units × 1113.2 m = 111320.0 m per planted grid unit
    val u = 111320.0
    val expected = Set(
      (1L, 1L, 1L, 3L, 3L, 2 * u),  // interior run 1-2-3 collapses to one edge
      (1L, 2L, 3L, 5L, 3L, 2 * u),
      (2L, 1L, 10L, 3L, 2L, u),
      (2L, 2L, 3L, 11L, 2L, u),
      (3L, 1L, 20L, 21L, 2L, 5 * u), // 3-4-5 triangle: sqrt(300²+400²) = 500 centi
      (5L, 1L, 5L, 40L, 2L, 2 * u))  // junction at FIRST vertex: one edge, no dup cut
    assert(got.toSet == expected, s"edges:\n${got.sortBy(e => (e._1, e._2)).mkString("\n")}")
    assert(!got.exists(_._1 == 4L), "a 1-node way must emit no edge")

    // edges chain: to_node of edge k is from_node of edge k+1
    for ((wid, edges) <- got.groupBy(_._1)) {
      val sorted = edges.sortBy(_._2)
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray) if sorted.length > 1)
        assert(a._4 == b._3, s"way $wid: edge ${a._2} ends at ${a._4}, edge ${b._2} starts at ${b._3}")
    }

    // length additivity: per-way edge lengths sum to osm_way_length_m's
    // total (planted values are exact multiples of 0.1, so == is safe)
    val wayLen = SparkEntry.queries("osm_way_length_m")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    for ((wid, edges) <- got.groupBy(_._1))
      assert(edges.map(_._6).sum == wayLen(wid),
        s"way $wid: edge sum ${edges.map(_._6).sum} vs way length ${wayLen(wid)}")
  }
}
