package graft

import org.apache.spark.sql.functions._

/** r19 optimization round: the three fused native kernels that replaced
  * interpreted higher-order lambdas (JlSignProject, BearingBins,
  * ClipTrapFold) are pinned EXPRESSION-equal to the lambda formulations
  * they replaced — same rows, same exact integers, bit-identical
  * doubles — on adversarial inputs the fixtures may not cover
  * (negative coordinates, zero-length segments, vertical/horizontal
  * edges, boundary-touching tiles, null elements).
  */
class FusedFoldsSpec extends GraftSuite {

  /** `df` plus two ways in the point-array layout: 901 with a null
    * element, 902 with a null lon_c. The union makes the array
    * containsNull=true and its fields nullable (the shape of a parquet
    * read), so every row goes through the kernels' null rule. */
  private def withNullRows(df: org.apache.spark.sql.DataFrame, arr: String,
                           lat: String = "lat_c"): org.apache.spark.sql.DataFrame = {
    def pt(pos: Int, lon: String, la: Long) =
      s"named_struct('pos', $pos, 'node_ref', ${pos}L, 'lon_c', $lon, '$lat', ${la}L)"
    df.unionByName(spark.range(1).selectExpr(
      s"901L AS way_id", s"array(${pt(1, "0L", 0L)}, NULL, ${pt(3, "4L", 3L)}) AS $arr"))
      .unionByName(spark.range(1).selectExpr(
        s"902L AS way_id", s"array(${pt(1, "CAST(NULL AS BIGINT)", 2L)}, ${pt(2, "6L", 8L)}) AS $arr"))
  }

  test("JlSignProject matches the transform+aggregate lambda bit-for-bit") {
    import spark.implicits._
    val masks: IndexedSeq[Long] = for (j <- 0 until 16; w <- 0 until 2) yield {
      var m = 0L
      for (b <- 0 until 64) {
        val i = (w * 64 + b + 1).toLong
        val z1 = ((i * 1000003L + j + 1L) * 2654435761L) % 4294967296L
        val z2 = ((z1 ^ (z1 / 65536L)) * 598266013L) % 4294967296L
        if ((z2 / 1048576L) % 2L == 0L) m |= (1L << b)
      }
      m
    }
    val maskLit = masks.mkString("array(", "L, ", "L)")
    // adversarial vectors: negatives, exact halves (floor(x*1e6+0.5)
    // midpoints), tiny magnitudes, a 128-dim (guard boundary) vector
    val rows = Seq(
      (1L, Array(0.5f, -0.5f, 0.0000005f, -0.0000005f, 1.25f, -3.75f)),
      (2L, Array.tabulate(128)(i => (math.sin(i + 1) * 2).toFloat)),
      (3L, Array.tabulate(7)(i => (-1.0 + i * 0.333).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val fused = df.select(col("vec_id"),
      posexplode(graft.functions.JlSignProject(col("embedding"), masks, 16))
        .as(Seq("j", "y")))
    val lambda = df
      .withColumn("q", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))"))
      .select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, 15), j ->
          |  aggregate(sequence(1, size(q)), 0L,
          |    (acc, i) ->
          |    acc + (CASE WHEN (shiftright(element_at($maskLit, CAST(j * 2 + (i - 1) DIV 64 + 1 AS INT)), CAST((i - 1) % 64 AS INT)) & 1L) = 1L
          |                THEN 1L ELSE -1L END)
          |          * element_at(q, i)))""".stripMargin)).as(Seq("j", "y")))
    assert(fused.orderBy("vec_id", "j").collect().toSeq ===
           lambda.orderBy("vec_id", "j").collect().toSeq)
  }

  test("JlSignProject fails loud past the mask width and poisons on null elements") {
    import spark.implicits._
    val masks = Seq.fill(32)(0x5555555555555555L)
    val wide = Seq((1L, Array.fill(129)(1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      wide.select(graft.functions.JlSignProject(col("embedding"), masks, 16)).collect()
    }
    assert(ex.getMessage.contains("wider than the 128-dim sign-mask table") ||
           Option(ex.getCause).exists(_.getMessage.contains("wider than the 128-dim sign-mask table")))
    val withNull = Seq((2L, Array[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = withNull
      .select(posexplode(graft.functions.JlSignProject(col("embedding"), masks, 16)))
      .collect()
    assert(out.length === 16 && out.forall(_.isNullAt(1)),
      "a null element must poison all 16 slots but keep the 16-row explode")
  }

  test("BearingBins matches the zip_with+aggregate lambda on adversarial segments") {
    import spark.implicits._
    // boundary slopes 5/12 and 12/5 exactly, zero-length repeats,
    // negative deltas, single-point way
    val pts = Seq(
      (1L, Seq((1, 10L, 0L, 0L), (2, 11L, 12L, 5L), (3, 12L, 24L, 10L),
               (4, 13L, 24L, 10L), (5, 14L, 19L, 22L), (6, 15L, 19L, 10L))),
      (2L, Seq((1, 20L, -5L, -5L), (2, 21L, -17L, -10L), (3, 22L, -17L, -22L))),
      (3L, Seq((1, 30L, 7L, 7L))))
      .toDF("way_id", "raw")
      .select(col("way_id"), expr(
        "transform(raw, r -> struct(r._1 AS pos, r._2 AS node_ref, r._3 AS lon_c, r._4 AS lat_c))")
        .as("pts"))
    val fused = pts.select(col("way_id"), graft.functions.BearingBins(col("pts")).as("c"))
      .selectExpr("way_id", "c.ew", "c.ns", "c.ne", "c.nw")
    val lambda = pts.select(col("way_id"), expr(
      """aggregate(
        |  zip_with(slice(pts, 1, size(pts) - 1), slice(pts, 2, size(pts) - 1),
        |           (a, b) -> struct(b.lon_c - a.lon_c AS dx, b.lat_c - a.lat_c AS dy)),
        |  struct(CAST(0 AS BIGINT) AS ew, CAST(0 AS BIGINT) AS ns,
        |         CAST(0 AS BIGINT) AS ne, CAST(0 AS BIGINT) AS nw),
        |  (acc, s) -> IF(s.dx = 0 AND s.dy = 0, acc,
        |    IF(12 * abs(s.dy) < 5 * abs(s.dx),
        |       struct(acc.ew + 1L AS ew, acc.ns AS ns, acc.ne AS ne, acc.nw AS nw),
        |    IF(5 * abs(s.dy) > 12 * abs(s.dx),
        |       struct(acc.ew AS ew, acc.ns + 1L AS ns, acc.ne AS ne, acc.nw AS nw),
        |    IF(s.dx * s.dy > 0,
        |       struct(acc.ew AS ew, acc.ns AS ns, acc.ne + 1L AS ne, acc.nw AS nw),
        |       struct(acc.ew AS ew, acc.ns AS ns, acc.ne AS ne, acc.nw + 1L AS nw))))))"""
        .stripMargin).as("c"))
      .selectExpr("way_id", "c.ew", "c.ns", "c.ne", "c.nw")
    assert(fused.orderBy("way_id").collect().toSeq ===
           lambda.orderBy("way_id").collect().toSeq)
    // null rule: the lambda sends a null segment to NW-SE (its IF chain
    // falls through), so the null rows are checked against NULL instead
    val nulls = withNullRows(pts, "pts")
      .select(col("way_id"), graft.functions.BearingBins(col("pts")).as("c"))
      .selectExpr("way_id", "c.ew", "c.ns", "c.ne", "c.nw")
    val byWay = nulls.collect().map(r => r.getLong(0) -> r).toMap
    assert(Seq(901L, 902L).forall(w => (1 to 4).forall(byWay(w).isNullAt)))
    assert(nulls.where(col("way_id") < 900).orderBy("way_id").collect().toSeq ===
           lambda.orderBy("way_id").collect().toSeq)
  }

  test("RingShoe matches the zip_with+aggregate shoelace fold exactly") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq((1, 1L, 0L, 0L), (2, 2L, 10L, 0L), (3, 3L, 10L, 7L),
               (4, 4L, 0L, 7L), (5, 1L, 0L, 0L))),          // CCW rectangle
      (2L, Seq((1, 1L, -5L, -5L), (2, 2L, -5L, 5L), (3, 3L, 5L, 5L),
               (4, 1L, -5L, -5L))),                          // CW triangle, negatives
      (3L, Seq((1, 9L, 3L, 4L))))                            // degenerate single point
      .toDF("way_id", "raw")
      .select(col("way_id"), expr(
        "transform(raw, r -> struct(r._1 AS pos, r._2 AS node_ref, r._3 AS lon_c, r._4 AS lat_c))")
        .as("ring"))
      .transform(withNullRows(_, "ring"))
    val fused = rows.select(col("way_id"), graft.functions.RingShoe(col("ring")).as("shoe"))
    val lambda = rows.select(col("way_id"), expr(
      """aggregate(
        |  zip_with(slice(ring, 1, size(ring) - 1), slice(ring, 2, size(ring) - 1),
        |           (a, b) -> a.lon_c * b.lat_c - b.lon_c * a.lat_c),
        |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin).as("shoe"))
    assert(fused.orderBy("way_id").collect().toSeq ===
           lambda.orderBy("way_id").collect().toSeq)
  }

  // r20: the remaining per-way geometry folds fused (PathManhattan,
  // PathEuclid, PathGeodesic, StructLongSum3, GeoAreaScale) — pinned
  // expression-equal (bit-level for doubles) to the lambda formulations
  // they replaced, on adversarial shapes: negative coords, zero-length
  // segments, single-point ways, band-edge latitudes (±9000).
  private def wayPts = {
    import spark.implicits._
    Seq(
      (1L, Seq((1, 10L, 0L, 0L), (2, 11L, 300L, -400L), (3, 12L, 300L, -400L),
               (4, 13L, -250L, 8999L), (5, 14L, 17L, -9000L))),
      (2L, Seq((1, 20L, -100000L, 9000L), (2, 21L, 100000L, -9000L))),
      (3L, Seq((1, 30L, 7L, 7L))))
      .toDF("way_id", "raw")
      .select(col("way_id"), expr(
        "transform(raw, r -> struct(r._1 AS pos, r._2 AS node_ref, r._3 AS lon_c, r._4 AS vlat_c))")
        .as("pts"))
      .transform(withNullRows(_, "pts", lat = "vlat_c"))
  }

  private def assertBitEqual(fused: org.apache.spark.sql.DataFrame,
                             lambda: org.apache.spark.sql.DataFrame): Unit = {
    // raw bits, or None for a NULL result (the null rows)
    def bits(df: org.apache.spark.sql.DataFrame) = df.orderBy("way_id").collect().map(r =>
      (r.getLong(0), Option(r.get(1)).map(v => java.lang.Double.doubleToRawLongBits(
        v.asInstanceOf[Double]))))
    val f = bits(fused)
    val l = bits(lambda)
    assert(f.length === l.length)
    f.zip(l).foreach { case ((wa, sa), (wb, sb)) =>
      assert(wa === wb)
      assert(sa === sb, s"way $wa: fused $sa != lambda $sb (bit-level)")
    }
  }

  test("PathManhattan matches the abs-delta aggregate lambda exactly") {
    val fused = wayPts.select(col("way_id"),
      graft.functions.PathFolds.manhattan(col("pts")).as("v"))
    val lambda = wayPts.select(col("way_id"), expr(
      """aggregate(
        |  zip_with(slice(pts, 1, size(pts) - 1), slice(pts, 2, size(pts) - 1),
        |           (a, b) -> abs(b.lon_c - a.lon_c) + abs(b.vlat_c - a.vlat_c)),
        |  0L, (acc, x) -> acc + x)""".stripMargin).as("v"))
    assert(fused.orderBy("way_id").collect().toSeq ===
           lambda.orderBy("way_id").collect().toSeq)
  }

  test("PathEuclid is bit-identical to the sqrt segment fold") {
    val fused = wayPts.select(col("way_id"),
      graft.functions.PathFolds.euclid(col("pts")).as("v"))
    val lambda = wayPts.select(col("way_id"), expr(
      """aggregate(
        |  zip_with(slice(pts, 1, size(pts) - 1), slice(pts, 2, size(pts) - 1),
        |           (a, b) -> sqrt(CAST((b.lon_c - a.lon_c) * (b.lon_c - a.lon_c)
        |                             + (b.vlat_c - a.vlat_c) * (b.vlat_c - a.vlat_c) AS DOUBLE))),
        |  CAST(0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("v"))
    assertBitEqual(fused, lambda)
  }

  test("PathGeodesic is bit-identical to the geoSeg aggregate lambda") {
    val seg = graft.operators.OsmKernels.geoSeg(
      "(b.lon_c - a.lon_c)", "(b.vlat_c - a.vlat_c)", "(a.vlat_c + b.vlat_c)")
    val fused = wayPts.select(col("way_id"),
      graft.functions.PathFolds.geodesic(col("pts")).as("v"))
    val lambda = wayPts.select(col("way_id"), expr(
      s"""aggregate(
         |  zip_with(slice(pts, 1, size(pts) - 1), slice(pts, 2, size(pts) - 1),
         |           (a, b) -> $seg),
         |  CAST(0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("v"))
    assertBitEqual(fused, lambda)
  }

  test("StructLongSum3 + GeoAreaScale match the spliced latBar polynomial bit-for-bit") {
    val latBar = "(CAST(aggregate(transform(pts, p -> p.vlat_c), CAST(0 AS BIGINT), " +
      "(acc, x) -> acc + x) AS DOUBLE) / CAST(size(pts) AS DOUBLE))"
    val fusedSum = wayPts.select(col("way_id"),
      graft.functions.PathFolds.fieldSum3(col("pts")).as("v"))
    val lambdaSum = wayPts.select(col("way_id"), expr(
      "aggregate(transform(pts, p -> p.vlat_c), CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("v"))
    assert(fusedSum.orderBy("way_id").collect().toSeq ===
           lambdaSum.orderBy("way_id").collect().toSeq)
    val fusedScale = wayPts.select(col("way_id"),
      graft.functions.PathFolds.geoAreaScale(
        graft.functions.PathFolds.fieldSum3(col("pts")), size(col("pts"))).as("v"))
    val lambdaScale = wayPts.select(col("way_id"), expr(
      graft.operators.OsmKernels.geoAreaScale(s"($latBar * 1.7453292519943295e-4)")).as("v"))
    assertBitEqual(fusedScale, lambdaScale)
  }

  test("GeomQaStats matches the transform/filter/array_distinct formulation") {
    import spark.implicits._
    // adversarial ways: clean ring (one legal closing repeat), zero-length
    // consecutive duplicates, an illegal mid-way repeat, a single point,
    // a degenerate 2-distinct-point ring, negative coords
    val ways = Seq(
      (1L, Seq((1, 10L, 0L, 0L), (2, 11L, 5L, 0L), (3, 12L, 5L, 5L), (4, 10L, 0L, 0L))),
      (2L, Seq((1, 20L, 1L, 1L), (2, 21L, 1L, 1L), (3, 20L, 2L, 2L), (4, 22L, 3L, 3L))),
      (3L, Seq((1, 30L, -7L, -7L))),
      (4L, Seq((1, 40L, 0L, 0L), (2, 41L, 0L, 0L), (3, 40L, 0L, 0L))))
      .toDF("way_id", "raw")
      .select(col("way_id"), expr(
        "transform(raw, r -> struct(r._1 AS pos, r._2 AS node_ref, r._3 AS lon_c, r._4 AS lat_c))")
        .as("a"))
    val fused = ways.select(col("way_id"), graft.functions.GeomQaStats(col("a")).as("q"))
      .selectExpr("way_id", "q.n_pts", "q.n_zero_len", "q.is_ring",
        "q.n_illegal_repeats", "q.n_distinct_pts")
    val lambda = ways
      .select(col("way_id"),
        expr("transform(a, p -> p.node_ref)").as("refs"),
        expr("transform(a, p -> p.lon_c * 100000000L + p.lat_c)").as("pk"))
      .select(col("way_id"),
        size(col("refs")).cast("long").as("n_pts"),
        expr("IF(size(pk) >= 2, size(filter(sequence(0, size(pk) - 2), i -> pk[i] = pk[i + 1])), 0)")
          .cast("long").as("n_zero_len"),
        expr("size(refs) >= 2 AND refs[0] = refs[size(refs) - 1]").as("is_ring"),
        expr("size(refs) - size(array_distinct(refs)) - IF(size(refs) >= 2 AND refs[0] = refs[size(refs) - 1], 1, 0)")
          .cast("long").as("n_illegal_repeats"),
        size(array_distinct(col("pk"))).cast("long").as("n_distinct_pts"))
    assert(fused.orderBy("way_id").collect().toSeq ===
           lambda.orderBy("way_id").collect().toSeq)
    // null rule: the lambdas count a null as a distinct value, so the
    // null rows are checked against a NULL struct instead
    val nulls = withNullRows(ways, "a")
      .select(col("way_id"), graft.functions.GeomQaStats(col("a")).as("q"))
    assert(nulls.where(col("way_id") > 900 && col("q").isNotNull).count() === 0)
    assert(nulls.where(col("way_id") < 900)
      .selectExpr("way_id", "q.n_pts", "q.n_zero_len", "q.is_ring",
        "q.n_illegal_repeats", "q.n_distinct_pts")
      .orderBy("way_id").collect().toSeq === lambda.orderBy("way_id").collect().toSeq)
  }

  test("StructLongCsv/LongsCsv render the exact CAST-AS-STRING join bytes") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq((1, 5L), (2, -17L), (3, 123456789012345L))),
      (2L, Seq((1, 0L))),
      (3L, Seq.empty[(Int, Long)]))
      .toDF("way_id", "raw")
      // nullable producers on purpose: -17 maps to a NULL element /
      // NULL field, pinning the array_join skip-null semantics too
      .select(col("way_id"),
        expr("transform(raw, r -> IF(r._2 = -17L, named_struct('pos', r._1, 'node_ref', CAST(NULL AS BIGINT)), struct(r._1 AS pos, r._2 AS node_ref)))").as("arr"),
        expr("transform(raw, r -> IF(r._2 = -17L, CAST(NULL AS BIGINT), r._2))").as("longs"))
    val fused = df.select(col("way_id"),
      graft.functions.CsvJoins.structCsv(col("arr")).as("s"),
      graft.functions.CsvJoins.longsCsv(col("longs")).as("l"))
    val lambda = df.select(col("way_id"),
      expr("array_join(transform(arr, p -> CAST(p.node_ref AS STRING)), ',')").as("s"),
      expr("array_join(transform(longs, w -> CAST(w AS STRING)), ',')").as("l"))
    assert(fused.orderBy("way_id").collect().toSeq ===
           lambda.orderBy("way_id").collect().toSeq)
  }

  test("ClipTrapFold is bit-identical to the clipTrapTerm lambda fold") {
    import spark.implicits._
    // edges crossing tile bounds every which way: vertical (x1=x2),
    // horizontal (y1=y2), steep/shallow slopes, fully-left/right edges,
    // negative coords, reversed direction
    val rows = Seq(
      (1L, Seq((0L, 0L, 100L, 50L), (100L, 50L, 100L, -20L), (100L, -20L, 0L, 0L))),
      (2L, Seq((-50L, 80L, 150L, 80L), (150L, 80L, 40L, -90L), (40L, -90L, -50L, 80L))),
      (3L, Seq((10L, 10L, 10L, 10L), (20L, 5L, 30L, 200L), (30L, 200L, 20L, 5L))))
      .toDF("way_id", "raw")
      .select(col("way_id"), expr(
        "transform(raw, r -> named_struct('x1', r._1, 'y1', r._2, 'x2', r._3, 'y2', r._4))")
        .as("edges"),
        lit(0L).as("rx0"), lit(60L).as("rx1"), lit(-10L).as("ry0"), lit(70L).as("ry1"))
    val fused = rows.select(col("way_id"), graft.functions.ClipTrapFold(
      col("edges"), col("rx0"), col("rx1"), col("ry0"), col("ry1")).as("s"))
    val lambda = rows.select(col("way_id"), expr(
      s"aggregate(edges, CAST(0 AS DOUBLE), (acc, e) -> acc + ${graft.operators.OsmKernels.clipTrapTerm("e")})").as("s"))
    val f = fused.orderBy("way_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val l = lambda.orderBy("way_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    f.zip(l).foreach { case ((wa, sa), (wb, sb)) =>
      assert(wa === wb)
      assert(java.lang.Double.doubleToRawLongBits(sa) ===
             java.lang.Double.doubleToRawLongBits(sb),
        s"way $wa: fused $sa != lambda $sb (bit-level)")
    }
  }
}
