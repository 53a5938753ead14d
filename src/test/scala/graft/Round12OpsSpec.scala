package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-12 keys (`osm_way_area_m2`,
  * `osm_relation_area_m2`, `text_bigram_lm`). All three are oracled —
  * the driver hash-checks them against DuckDB — so these specs pin what
  * the fixture-derived compare can't: hand-computed areas on planted
  * geometry (including the negative-net broken-tagging signal) and the
  * predictable-beats-salad ordering of the bigram LM score.
  */
class Round12OpsSpec extends GraftSuite {

  /** m² per centi-unit² (1113.2² / 2 — shoe is twice the area). */
  private val K = 619667.12

  test("osm_relation_area_m2: planted outer+hole nets shell minus hole; flipped roles net negative") {
    val dir = Scratch.fresh("relarea")
    import spark.implicits._
    // nodes: outer square side 1000 centi-units (ids 1-4), inner square
    // side 500 (ids 5-8). lon_c = p_size*100, lat_c = round(p_retailprice*100).
    Seq((1L, 0, 0.0), (2L, 10, 0.0), (3L, 10, 10.0), (4L, 0, 10.0),
        (5L, 2, 2.0), (6L, 7, 2.0), (7L, 7, 7.0), (8L, 2, 7.0))
      .toDF("p_partkey", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // way 1 = outer ring, way 2 = inner ring (open; the kernel closes them)
    Seq((1L, 1, 1L), (1L, 2, 2L), (1L, 3, 3L), (1L, 4, 4L),
        (2L, 1, 5L), (2L, 2, 6L), (2L, 3, 7L), (2L, 4, 8L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // relation 100: big ring outer, small ring inner (well-tagged);
    // relation 200: SAME rings with roles flipped (broken tagging)
    Seq((1L, 100L, "1-URGENT"), (2L, 100L, "3-MEDIUM"),
        (1L, 200L, "3-MEDIUM"), (2L, 200L, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val got = SparkEntry.queries("osm_relation_area_m2")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(5)))).toMap
    // |shoe|: outer 2*1000² = 2e6, inner 2*500² = 5e5 (exact integers)
    val shell = 2000000.0 * K
    val hole = 500000.0 * K
    assert(got(100L) == ((1L, 1L, math.rint((shell - hole) * 10) / 10)),
      s"well-tagged relation: ${got(100L)}")
    assert(got(200L)._3 == math.rint((hole - shell) * 10) / 10 && got(200L)._3 < 0,
      s"flipped roles must net NEGATIVE (the QA signal): ${got(200L)}")
  }

  test("osm_way_area_m2: planted square has the exact hand-computed area") {
    // reuse the sf fixture path only for schema; plant the same square
    val dir = Scratch.fresh("wayarea")
    import spark.implicits._
    Seq((1L, 0, 0.0), (2L, 10, 0.0), (3L, 10, 10.0), (4L, 0, 10.0))
      .toDF("p_partkey", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((1L, 1, 1L), (1L, 2, 2L), (1L, 3, 3L), (1L, 4, 4L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("osm_way_area_m2")(spark, dir).collect().head
    // CCW square → winding CCW; ring closed to 5 points; |shoe| = 2e6
    assert((r.getLong(0), r.getLong(1), r.getString(2)) == ((1L, 5L, "CCW")))
    assert(r.getDouble(3) == math.rint(2000000.0 * K * 10) / 10)
  }

  test("text_bigram_lm: predictable text outscores token salad, exactly") {
    val dir = Scratch.fresh("bigram")
    import spark.implicits._
    // doc 1: 'a' always followed by 'b' (and back) — high P(next|prev);
    // doc 2: 'a' fans out to c/d/e/f — each continuation is 1-of-8.
    Seq((1L, "a b a b a b a b", "en", "s", 15L),
        (2L, "a c a d a e a f", "en", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_bigram_lm")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // c(a,·)=8. doc1: ab×4 at (1e6·4)DIV8, ba×3 at (1e6·3)DIV3.
    // doc2: a?×4 at (1e6·1)DIV8, ?a×3 at (1e6·1)DIV1.
    assert(got(1L) == ((7L, (4L * 500000L + 3L * 1000000L) / 7L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((7L, (4L * 125000L + 3L * 1000000L) / 7L)), s"doc2: ${got(2L)}")
    assert(got(1L)._2 > got(2L)._2, "predictable text must outscore salad")
  }

  test("sim_knn_graph: planted blocks rank by cosine with id tie-break; singleton blocks emit nothing") {
    val dir = Scratch.fresh("knn")
    import spark.implicits._
    // label 1: two axis-aligned pairs — vec 2 is vec 1's perfect match,
    // vecs 3/4 are orthogonal to it (cosine 0, a TIE broken by vec_b).
    // label 2: a singleton block — no neighbors, must be absent.
    Seq((1L, Array(1f, 0f), 1), (2L, Array(1f, 0f), 1),
        (3L, Array(0f, 1f), 1), (4L, Array(0f, 1f), 1),
        (9L, Array(1f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("sim_knn_graph")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.size == 12, s"4 block-1 vecs x 3 neighbors, got ${rows.size}")
    assert(!rows.keys.exists(_._1 == 9L), "singleton block must emit no edges")
    assert(rows((1L, 1L)) == ((2L, 1.0)), s"vec 1 rank 1: ${rows((1L, 1L))}")
    assert(rows((1L, 2L)) == ((3L, 0.0)) && rows((1L, 3L)) == ((4L, 0.0)),
      "cosine tie must break by ascending vec_b")
    assert(rows((3L, 1L)) == ((4L, 1.0)) && rows((3L, 2L)) == ((1L, 0.0)),
      "orthogonal pair ranks mirror-symmetrically")
  }

  test("text_span_dedup: cross-doc spans flag, within-doc repeats don't, short docs drop") {
    val dir = Scratch.fresh("span")
    import spark.implicits._
    val w10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val q10 = (1 to 10).map(i => s"q$i").mkString(" ")
    Seq((1L, w10, "en", "s", 10L),                                // 1 span, shared with doc 2
        (2L, s"$w10 x1 x2", "en", "s", 12L),                      // 3 spans, first shared
        (3L, (1 to 10).map(i => s"z$i").mkString(" "), "en", "s", 10L), // all unique
        (4L, s"$q10 $q10", "en", "s", 20L),                       // self-repeat only: nd=1
        (5L, (1 to 9).map(i => s"s$i").mkString(" "), "en", "s", 9L))   // <10 tokens: dropped
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_span_dedup")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"doc 5 (<10 tokens) must drop: ${got.keySet}")
    assert(got(1L) == ((1L, 1L, 1000000L)), s"doc1 fully duplicated: ${got(1L)}")
    assert(got(2L) == ((3L, 1L, 333333L)), s"doc2 1-of-3 spans shared: ${got(2L)}")
    assert(got(3L) == ((1L, 0L, 0L)), s"doc3 clean: ${got(3L)}")
    assert(got(4L) == ((11L, 0L, 0L)),
      s"within-doc repetition is NOT cross-doc duplication (count DISTINCT doc): ${got(4L)}")
  }

  test("event_rfm: monotone users land one per quintile; rfm code composes the scores") {
    val dir = Scratch.fresh("rfm")
    import spark.implicits._
    // user u: u events, last event at day u, value 2.5 each — recency,
    // frequency, and monetary all strictly increase with u, so ntile(5)
    // over 5 users gives user u exactly score u on all three axes.
    val rows = for { u <- 1 to 5; i <- 1 to u } yield
      (u * 100L + i, java.sql.Timestamp.valueOf(f"2024-01-0$u%d 10:0$i%d:00"),
       u.toLong, "click", 2.5, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("event_rfm")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3),
                                  r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    (1 to 5).foreach { u =>
      assert(got(u.toLong) == ((u.toLong, 2.5 * u, u.toLong, u.toLong, u.toLong, 111L * u)),
        s"user $u: ${got(u.toLong)}")
    }
  }

  test("multimodal_resize_plan: hand-computed letterbox geometry, including the w=0 guard") {
    val dir = Scratch.fresh("resize")
    import spark.implicits._
    // n_chars=100 -> 100x220 (portrait): scale bound by height.
    // n_chars=640 -> src_w = 640%640 = 0: greatest(w,1) keeps the DIV legal.
    Seq((1L, "t", "en", "s", 100L), (2L, "t", "en", "s", 640L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("multimodal_resize_plan")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
                                  r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    // 224e6 DIV 220 = 1018181; 100*1018181 DIV 1e6 = 101; 220*1018181 DIV 1e6 = 223
    assert(got(1L) == ((100L, 220L, 1018181L, 101L, 223L, 61L, 0L)), s"doc1: ${got(1L)}")
    // w=0 -> scale bound by h=160: 224e6 DIV 160 = 14e5; out 0x224, pad 112/0
    assert(got(2L) == ((0L, 160L, 1400000L, 0L, 224L, 112L, 0L)), s"doc2: ${got(2L)}")
  }

  test("graph_pagerank: hand-computed 3-iteration ranks on a planted 3-host chain") {
    val dir = Scratch.fresh("pr")
    import spark.implicits._
    // one doc -> chain s.example.com -> a.example.com -> src0.example.com
    // (the last hop from lang host to the n_chars%20 content host).
    Seq((1L, "t", "a", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("graph_pagerank")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // r0 = 1e6 each. s never receives: 150000 from iter 1 on.
    // a: iter2 on: 150000 + 850000*150000 DIV 1e6 = 277500.
    // src0 (dangling sink): iter3 = 150000 + 850000*277500 DIV 1e6 = 385875.
    assert(got == Map("s.example.com" -> 150000L,
                      "a.example.com" -> 277500L,
                      "src0.example.com" -> 385875L), s"got $got")
  }

  test("dedup_semantic: lower-id tau-neighbor drops, blocks isolate, survivors carry null dup_cos") {
    val dir = Scratch.fresh("semdedup")
    import spark.implicits._
    // label 1: vec 2 duplicates vec 1 (cos 1.0 >= tau), vec 3 orthogonal;
    // label 2: vec 4 is IDENTICAL to vec 1 but in another block -> kept.
    Seq((1L, Array(1f, 0f), 1), (2L, Array(1f, 0f), 1),
        (3L, Array(0f, 1f), 1), (4L, Array(1f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("dedup_semantic")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2),
                                  if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(rows(1L) == ((1, true, None)), s"lowest id survives: ${rows(1L)}")
    assert(rows(2L) == ((1, false, Some(1.0))), s"clone of a lower id drops: ${rows(2L)}")
    assert(rows(3L) == ((1, true, None)), s"orthogonal vec survives: ${rows(3L)}")
    assert(rows(4L) == ((2, true, None)), s"identical vec in ANOTHER block survives: ${rows(4L)}")
  }

  test("graph_triangle_count: planted triangle counts once per corner; dangling edge contributes nothing") {
    val dir = Scratch.fresh("tri")
    import spark.implicits._
    // edge (a,b) <- doc_id = a + 50*b: triangle 1-2-3 plus dangling 3-4
    Seq(101L, 152L, 151L, 203L).map((_, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("graph_triangle_count")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"one triangle, one count per corner, node 4 absent: $got")
  }
}
