package graft

import org.apache.spark.sql.functions._

/** End-to-end pipeline golden test (SURVEY.md §5.5): the Airflow-invokable
  * job unit writes a partitioned lake; re-reads must prune partitions and
  * reconcile with direct computation.
  */
class OsmEtlJobSpec extends GraftSuite {

  /** Two lakes hold the same rows, table by table (WKB bytes and doubles
    * included): sorted columns, `exceptAll` both ways. */
  private def assertSameLake(expected: String, actual: String, what: String): Unit =
    for (t <- Seq("ways", "relations", "areas", "layers")) {
      val e = spark.read.parquet(s"$expected/$t")
      val a = spark.read.parquet(s"$actual/$t")
      val cols = e.columns.sorted.map(col(_))
      assert(a.select(cols: _*).exceptAll(e.select(cols: _*)).count() === 0,
             s"$t: $what rows not in the expected lake")
      assert(e.select(cols: _*).exceptAll(a.select(cols: _*)).count() === 0,
             s"$t: expected rows not in the $what lake")
    }

  test("source guard: one way regroup and no shoelace lambda in src/main") {
    def hits(needle: String) = SourceLines.hits("src/main", needle)
    val regroup = "collect_list(struct(pos, " + "node_ref"
    val shoelace = "a.lon_c * " + "b.lat_c"
    assert(hits(regroup).size == 1, hits(regroup))
    assert(hits(shoelace).isEmpty, hits(shoelace))
  }

  test("OsmEtlJob writes a partition-pruned, reconcilable lake") {
    val out = Scratch.fresh("etl")
    // run the stages in-process (main would spawn its own session)
    val refs = T.lineitem(spark, sf).select(
      col("l_orderkey").as("way_id"), col("l_linenumber").as("pos"),
      col("l_partkey").as("node_ref"))
    val nodes = T.part(spark, sf).select(
      col("p_partkey").as("node_id"),
      (col("p_size").cast("long") * 100).as("lon_c"),
      round(col("p_retailprice") * 100).cast("long").as("lat_c"),
      col("p_brand"), col("p_type"))
    val ways = plans.OsmEtlJob.assembleWays(refs, nodes)
    // every order with lineitems becomes a way; point count reconciles
    assert(ways.count() == T.lineitem(spark, sf).select("l_orderkey").distinct().count())
    assert(ways.agg(sum(col("n_points"))).head.getLong(0) == T.lineitem(spark, sf).count())
    // bbox containment: every way bbox sits inside the global node bbox
    val g = nodes.agg(min("lon_c"), min("lat_c"), max("lon_c"), max("lat_c")).head
    val bad = ways.where(col("bbox.minx") < g.getLong(0) || col("bbox.miny") < g.getLong(1) ||
                         col("bbox.maxx") > g.getLong(2) || col("bbox.maxy") > g.getLong(3))
    assert(bad.count() == 0)
    // layer routing: multi-membership allowed, rule-consistent
    val layers = plans.OsmEtlJob.extractLayers(
      nodes, Seq("heavy" -> (col("lon_c") >= 2500), "premium" -> (col("lat_c") > 150000)))
    assert(layers.where(col("layer") === "heavy" && col("lon_c") < 2500).count() == 0)
    assert(layers.where(col("layer") === "premium" && col("lat_c") <= 150000).count() == 0)
    // area assembly: one polygon per way, closed CCW shell, area matches
    // the exact shoelace of the decoded bytes
    val areas = plans.OsmEtlJob.assembleAreas(ways)
    assert(areas.count() == ways.count())
    areas.orderBy("way_id").limit(100).collect().foreach { r =>
      val rings = graft.functions.WkbPolygon.decode(r.getAs[Array[Byte]]("polygon_wkb"))
      assert(rings.size == 1)
      val (lons, lats) = rings.head
      assert(lons.head == lons.last && lats.head == lats.last)
      val shoe = graft.functions.WkbPolygon.shoelace(
        lons.map(x => math.round(x * 100)), lats.map(x => math.round(x * 100)))
      assert(shoe >= 0, "shell must be CCW-normalized")
      assert(math.abs(r.getAs[Double]("area") - math.abs(shoe) / 20000.0) < 1e-9)
    }
    // partitioned write + pruned re-read
    ways.join(
        T.orders(spark, sf).select(col("o_orderkey").as("way_id"),
                                   (col("o_orderkey") % 3).cast("string").as("region")), "way_id")
      .write.mode("overwrite").partitionBy("region").parquet(s"$out/ways")
    val pruned = spark.read.parquet(s"$out/ways").where(col("region") === "0")
    val scan = pruned.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters") && scan.contains("region"),
           "re-read must prune on the partition column")
    assert(pruned.count() > 0)
  }

  test("assembleWays node-store broadcast is size-gated: degrades to a shuffle join") {
    // The node store is the corpus (a planet-scale node location store);
    // the resolve join must not hard-broadcast it. Mirror of PlanSpec's
    // gate-degradation test, aimed at the actual spark-submit job path.
    val refs = T.lineitem(spark, sf).select(
      col("l_orderkey").as("way_id"), col("l_linenumber").as("pos"),
      col("l_partkey").as("node_ref"))
    val nodes = T.part(spark, sf).select(
      col("p_partkey").as("node_id"),
      (col("p_size").cast("long") * 100).as("lon_c"),
      round(col("p_retailprice") * 100).cast("long").as("lat_c"))
    val under = plans.OsmEtlJob.assembleWays(refs, nodes)
    assert(under.queryExecution.executedPlan.toString().contains("BroadcastHashJoin"),
           "under the budget the node resolve must broadcast")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val over = plans.OsmEtlJob.assembleWays(refs, nodes)
      assert(!over.queryExecution.executedPlan.toString().contains("BroadcastHashJoin"),
             "above the budget the node resolve must shuffle, not broadcast")
      assert(over.count() === under.count(), "gate must never change results")
    }
  }

  test("regionOfWay customer broadcast is size-gated: degrades to a shuffle join") {
    // customer grows linearly with sf (unlike nation/region, constant at
    // 25/5 rows) — same hazard class as the node store, same gate.
    val (o, c, n, r) = (T.orders(spark, sf), T.customer(spark, sf),
                        T.nation(spark, sf), T.region(spark, sf))
    val under = plans.OsmEtlJob.regionOfWay(o, c, n, r)
    val underPlan = under.queryExecution.executedPlan.toString()
    assert(underPlan.contains("BroadcastHashJoin") &&
           !underPlan.contains("SortMergeJoin") && !underPlan.contains("ShuffledHashJoin"),
           "under the budget all three dim joins must broadcast")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val over = plans.OsmEtlJob.regionOfWay(o, c, n, r)
      val overPlan = over.queryExecution.executedPlan.toString()
      assert(overPlan.contains("SortMergeJoin") || overPlan.contains("ShuffledHashJoin"),
             "above the budget the customer join must shuffle, not broadcast")
      assert(over.count() === under.count(), "gate must never change results")
    }
  }

  test("full pipeline: OsmEtlJob lake -> PostgisLoadJob round-trips WKB byte-exact") {
    // The reference pipeline end-to-end (`osm_etl.py:57-91`): ETL assembles
    // the lake, the terminal load ships it to the serving database. Derby
    // stands in for PostGIS; the load path (relational flattening, DDL
    // pins, overwrite semantics) is identical.
    val out = Scratch.fresh("e2e")
    val counts = plans.OsmEtlJob.run(spark, sf, out, "2024-07-25").toMap
    assert(counts.keySet === Set("ways", "relations", "areas", "layers"))
    assert(counts.values.forall(_ > 0), s"empty lake table: $counts")
    val url = operators.JdbcIO.freshEmbeddedDerby("e2e_load")
    val loaded = plans.PostgisLoadJob.load(spark, out, url).toMap
    assert(loaded === counts, "load must report exactly the lake's row counts")
    // idempotency: a retried load (the DAG's retries=2) must not duplicate
    val again = plans.PostgisLoadJob.load(spark, out, url).toMap
    assert(again === counts)
    assert(operators.JdbcIO.readTable(spark, url, "osm_areas").count() === counts("areas"))
    // geometry survives the hand-off byte-exact: every polygon WKB read
    // back from the database equals the lake's bytes (ST_GeomFromWKB
    // server-side then sees the identical geometry)
    val lakeWkb = spark.read.parquet(s"$out/areas")
      .select(col("way_id"), col("polygon_wkb"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("polygon_wkb")).toMap
    val dbWkb = operators.JdbcIO.readTable(spark, url, "osm_areas")
      .select(col("way_id"), col("polygon_wkb"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("polygon_wkb")).toMap
    assert(dbWkb.keySet === lakeWkb.keySet)
    for ((id, bytes) <- lakeWkb)
      assert(java.util.Arrays.equals(bytes, dbWkb(id)), s"WKB differs for way $id")
  }

  test("incremental mode: delta-applied lake == full rebuild, table by table") {
    // VERDICT r12 item 6 done-bar. Synthesize last week's snapshot (prev)
    // from the current one by exercising every change class the diff must
    // handle: ways ADDED since prev (every 97th way absent from prev), a
    // way DELETED since prev (a prev-only clone 900000001), and node
    // attribute EDITS (every 53rd node's retailprice drifts, which moves
    // lat_c — geometry AND layer routing change). Then: full-rebuild the
    // current snapshot, full-rebuild prev, incrementally apply the delta
    // to prev's lake, and require the incremental lake to be row-for-row
    // identical to the full rebuild — including WKB bytes and doubles.
    val tmp = Scratch.fresh("inc")
    val prevDir = s"$tmp/prev"
    val li = T.lineitem(spark, sf)
    val orders = T.orders(spark, sf)
    val added = col("l_orderkey") % 97 === 0
    val firstKey = li.agg(min("l_orderkey")).head.getLong(0)
    val ghost = 900000001L // exists only in prev → deleted "this week"
    li.where(!added)
      .union(li.where(col("l_orderkey") === firstKey).withColumn("l_orderkey", lit(ghost)))
      .write.parquet(s"$prevDir/lineitem.parquet")
    orders.where(!(col("o_orderkey") % 97 === 0))
      .union(orders.where(col("o_orderkey") === firstKey).withColumn("o_orderkey", lit(ghost)))
      .write.parquet(s"$prevDir/orders.parquet")
    T.part(spark, sf)
      .withColumn("p_retailprice",
        when(col("p_partkey") % 53 === 0, col("p_retailprice") + lit(7.0))
          .otherwise(col("p_retailprice")))
      .write.parquet(s"$prevDir/part.parquet")
    for (t <- Seq("customer", "nation", "region"))
      T(spark, sf, t).write.parquet(s"$prevDir/$t.parquet")

    val (fullOut, prevOut, incOut) = (s"$tmp/full", s"$tmp/prevlake", s"$tmp/inc")
    val fullCounts = plans.OsmEtlJob.run(spark, sf, fullOut, "2024-08-01").toMap
    val prevCounts = plans.OsmEtlJob.run(spark, prevDir, prevOut, "2024-07-25").toMap
    // the fixture delta is non-trivial: prev and current lakes differ
    assert(prevCounts("ways") != fullCounts("ways"))
    val incCounts = plans.OsmEtlJob
      .runIncremental(spark, prevDir, sf, prevOut, incOut, "2024-08-01").toMap
    assert(incCounts === fullCounts)
    assertSameLake(fullOut, incOut, "incremental")
    // the deleted way is really gone, the added ways really arrived
    val incWays = spark.read.parquet(s"$incOut/ways")
    assert(incWays.where(col("way_id") === ghost).count() === 0)
    assert(incWays.where(col("way_id") % 97 === 0).count() > 0)
  }

  test("full reload == snapshot + .osc diff feed, through the real lake") {
    // r15 verdict item 1 done-bar: the weekly full reload
    // (`osm_etl.py:13,45`) is replaceable by the PUBLIC replication-diff
    // format — a real `.osc` file (gzipped, through the wire bytes, not
    // an in-memory DataFrame) applied to last week's node store must
    // reproduce this week's store, and the REAL job run over the
    // osc-reconstructed snapshot must produce a lake row-for-row equal
    // to the full rebuild (WKB bytes and doubles included).
    import spark.implicits._
    import graft.sources.OsmChange
    val tmp = Scratch.fresh("osc_etl")
    val part = T.part(spark, sf)
    val ghost = 900000001L // prev-only node → the feed deletes it
    val firstKey = part.agg(min("p_partkey")).head.getLong(0)
    val prevPart = part
      .where(!(col("p_partkey") % 97 === 0)) // added since prev
      .withColumn("p_retailprice", // attribute edits move lat_c
        when(col("p_partkey") % 53 === 0, col("p_retailprice") + lit(7.0))
          .otherwise(col("p_retailprice")))
      .union(part.where(col("p_partkey") === firstKey).withColumn("p_partkey", lit(ghost)))
    // element-store view of a part table: exactly the stores() mapping
    // (node_id, lon_c, lat_c) with the routed attributes riding as tags
    def store(p: org.apache.spark.sql.DataFrame) = p.select(
      lit("node").as("elem_type"), col("p_partkey").as("id"),
      lit(1L).as("version"), lit("").as("ts"),
      round(col("p_retailprice") * 100).cast("long").as("lat7"),
      (col("p_size").cast("long") * 100).as("lon7"),
      map(lit("brand"), col("p_brand"), lit("type"), col("p_type"),
          lit("name"), col("p_name")).as("tags"),
      expr("CAST(array() AS ARRAY<BIGINT>)").as("nd_refs"),
      expr("CAST(array() AS ARRAY<STRUCT<mtype:STRING,mref:BIGINT,mrole:STRING>>)").as("members"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/feed"))
    OsmChange.write(s"$tmp/feed/wk.osc.gz",
      OsmChange.diff(store(prevPart), store(part))
        .as[OsmChange.OscRow].collect().sortBy(e => (e.elem_type, e.id)).toSeq,
      gzip = true)
    val applied = OsmChange.applySnapshot(store(prevPart),
                                          OsmChange.read(spark, s"$tmp/feed"))
    // reconstruct the element snapshot the job reads (the store mapping
    // is invertible: lon_c/lat_c are exact integers) and run the REAL job
    val recon = s"$tmp/recon"
    applied.select(
      col("id").as("p_partkey"),
      element_at(col("tags"), "name").as("p_name"),
      element_at(col("tags"), "brand").as("p_brand"),
      element_at(col("tags"), "type").as("p_type"),
      (col("lon7") / 100).cast("int").as("p_size"),
      (col("lat7").cast("double") / 100.0).as("p_retailprice"))
      .write.parquet(s"$recon/part.parquet")
    for (t <- Seq("lineitem", "orders", "customer", "nation", "region"))
      T(spark, sf, t).write.parquet(s"$recon/$t.parquet")
    val (fullOut, oscOut) = (s"$tmp/full", s"$tmp/osc")
    val fullCounts = plans.OsmEtlJob.run(spark, sf, fullOut, "2024-08-01").toMap
    val oscCounts = plans.OsmEtlJob.run(spark, recon, oscOut, "2024-08-01").toMap
    assert(oscCounts === fullCounts)
    assertSameLake(fullOut, oscOut, "osc-fed")
  }

  test("runTimed lake == per-table assembly over the assembled ways; counts come from the writes") {
    // runTimed assembles ways once and derives relations and areas from
    // the written ways table. The reference composes the assemblies
    // directly over the in-memory ways, one write per table, and goes
    // through the same parquet round trip.
    val tmp = Scratch.fresh("etl_eq")
    val date = "2024-08-01"
    val (counts, stages) = plans.OsmEtlJob.runTimed(spark, sf, s"$tmp/lake", date)
    assert(stages.map(_._1).toSet === Set("ways", "relations", "areas", "layers"))
    val (refs, nodes, orders) = plans.OsmEtlJob.stores(spark, sf)
    val ways = plans.OsmEtlJob.assembleWays(refs, nodes)
    val members = orders.select(col("o_custkey").as("relation_id"), col("o_orderkey").as("member_way"))
    val regions = plans.OsmEtlJob.regionOfWay(
      orders, T.customer(spark, sf), T.nation(spark, sf), T.region(spark, sf))
    def ref(t: String, df: org.apache.spark.sql.DataFrame, partitionBy: String*): Unit =
      df.withColumn("pgosm_date", lit(date))
        .write.partitionBy(partitionBy: _*).parquet(s"$tmp/ref/$t")
    ref("ways", ways.join(regions, "way_id"), "region", "subregion", "pgosm_date")
    ref("relations", plans.OsmEtlJob.assembleRelations(members, ways), "pgosm_date")
    ref("areas", plans.OsmEtlJob.assembleAreas(ways), "pgosm_date")
    ref("layers", plans.OsmEtlJob.layerRows(nodes, None), "layer", "pgosm_date")
    assertSameLake(s"$tmp/ref", s"$tmp/lake", "runTimed")
    // the observed counts are the lake's row counts
    assert(counts.map(_._1) === Seq("ways", "relations", "areas", "layers"))
    for ((t, n) <- counts)
      assert(n === spark.read.parquet(s"$tmp/lake/$t").count(), s"$t: observed count")
  }

  test("incremental == full rebuild when a way routes to no region") {
    // One order's customer is missing from the current snapshot's
    // customer table, so its way routes to no region. Both modes must
    // then leave it out of ways, areas and every relation's stats alike.
    val tmp = Scratch.fresh("inc_unrouted")
    val curr = s"$tmp/curr"
    val lost = T.lineitem(spark, sf).agg(min("l_orderkey")).head.getLong(0)
    T.orders(spark, sf)
      .withColumn("o_custkey",
        when(col("o_orderkey") === lost, lit(-1L)).otherwise(col("o_custkey")))
      .write.parquet(s"$curr/orders.parquet")
    for (t <- Seq("lineitem", "part", "customer", "nation", "region"))
      T(spark, sf, t).write.parquet(s"$curr/$t.parquet")
    val (prevOut, fullOut, incOut) = (s"$tmp/prevlake", s"$tmp/full", s"$tmp/inc")
    plans.OsmEtlJob.run(spark, sf, prevOut, "2024-07-25")
    val fullCounts = plans.OsmEtlJob.run(spark, curr, fullOut, "2024-08-01").toMap
    val incCounts = plans.OsmEtlJob
      .runIncremental(spark, sf, curr, prevOut, incOut, "2024-08-01").toMap
    for (t <- Seq("ways", "areas"))
      assert(spark.read.parquet(s"$fullOut/$t").where(col("way_id") === lost).count() === 0,
             s"$t: the unrouted way must not be in the lake")
    assert(spark.read.parquet(s"$prevOut/ways").where(col("way_id") === lost).count() === 1)
    assert(incCounts === fullCounts)
    assertSameLake(fullOut, incOut, "incremental")
  }

  test("a failing ETL branch fails runTimed only after every other write has finished") {
    // A style whose rule casts the non-numeric brand tag to int fails at
    // run time (ANSI cast) inside the `layers` write, which runs beside
    // the ways -> relations/areas branch.
    val tmp = Scratch.fresh("etl_fail")
    val style = java.nio.file.Paths.get(s"$tmp/bad_style.json")
    java.nio.file.Files.write(style,
      """{"layers":[{"name":"bad","where":{"tag":"brand","type":"int","op":">=","value":"25"}}]}"""
        .getBytes("UTF-8"))
    val err = withConf("spark.sql.ansi.enabled" -> "true") {
      intercept[Exception] {
        plans.OsmEtlJob.runTimed(spark, sf, s"$tmp/lake", "2024-08-01", Some(style.toString))
      }
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(chain.contains("CAST_INVALID_INPUT"), chain)
    for (t <- Seq("ways", "relations", "areas"))
      assert(new java.io.File(s"$tmp/lake/$t/_SUCCESS").exists(), s"$t write did not finish")
    assert(!new java.io.File(s"$tmp/lake/layers/_SUCCESS").exists())
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }
}
