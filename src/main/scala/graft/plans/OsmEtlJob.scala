package graft.plans

import graft.T
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The Airflow-invokable pipeline unit (SURVEY.md §3.2, §7.2 slice 6) —
  * one `spark-submit` of this main replaces one per-region container run of
  * the reference (`docker exec … pgosm_flex.py --region=<r> --subregion=<s>
  * --pgosm-date=<d>`, `/root/reference/osm_etl.py:17-18,71-72`).
  *
  * Stages (each a stage of the reference's delegated ETL, §3.2):
  *   scan → way assembly → relation assembly → layer extraction →
  *   snapshot-partitioned lake write.
  *
  * Orchestration stance (SURVEY.md §1.2): Airflow keeps the job-level DAG
  * (`run >> etl_us >> etl_eu >> dump`, osm_etl.py:93) and passes
  * (region, date) as CLI args; INSIDE the job, Spark's scheduler owns the
  * stage graph. The reference's per-region TaskGroup fan-out becomes
  * partition parallelism over one region-partitioned dataset.
  *
  * Usage: OsmEtlJob <sfDir> <outDir> [pgosmDate] [--layer-spec=<style.json>]
  *                  [--incremental=<prevSfDir>,<prevLakeDir>]
  */
object OsmEtlJob {

  /** Ordered member resolve + regroup (the osm_way_geometry kernel,
    * producing the assembled-way table rather than the oracle summary).
    *
    * The node store is the corpus of this pipeline (osm2pgsql's node
    * location store is its central scaling problem), so the resolve join
    * goes through the size-gated [[graft.Gate.bcast]]: broadcast while the
    * node table fits the budget, shuffle join (same result, one exchange)
    * beyond it — a planet-scale node store must never be driver-collected.
    */
  def assembleWays(refs: DataFrame, nodes: DataFrame): DataFrame =
    refs
      .join(graft.Gate.bcast(nodes), refs("node_ref") === nodes("node_id"))
      .groupBy(col("way_id"))
      .agg(expr("array_sort(collect_list(struct(pos, node_ref, lon_c, lat_c)))").as("pts"))
      .select(col("way_id"), col("pts"),
              size(col("pts")).as("n_points"),
              // the PostGIS-equivalent geometry artifact (SURVEY §1.2:
              // "WKB as BinaryType + bbox struct", README.md:80-82)
              graft.functions.WkbLineString(
                expr("transform(pts, p -> CAST(p.lon_c AS DOUBLE) / 100.0D)"),
                expr("transform(pts, p -> CAST(p.lat_c AS DOUBLE) / 100.0D)")).as("wkb"),
              struct(
                expr("array_min(transform(pts, p -> p.lon_c))").as("minx"),
                expr("array_min(transform(pts, p -> p.lat_c))").as("miny"),
                expr("array_max(transform(pts, p -> p.lon_c))").as("maxx"),
                expr("array_max(transform(pts, p -> p.lat_c))").as("maxy")).as("bbox"))

  /** Area assembly over assembled ways (round-4 surface: the majority of
    * PgOSM Flex layers are area-shaped — buildings/water/landuse,
    * README.md:80-82): ring closure, exact integer shoelace area +
    * winding, CCW-normalized OGC WKB Polygon. Same semantics as the
    * `osm_way_polygon_wkb` operator, producing the lake table rather
    * than the oracle summary — all transforms stay inside the row over
    * the already-assembled `pts`, no additional shuffle.
    */
  def assembleAreas(ways: DataFrame): DataFrame =
    ways
      .withColumn("ring",
        expr("""IF(element_at(pts, 1).lon_c = element_at(pts, -1).lon_c
               |   AND element_at(pts, 1).lat_c = element_at(pts, -1).lat_c,
               |   pts, concat(pts, slice(pts, 1, 1)))""".stripMargin))
      .withColumn("shoe",
        expr("""aggregate(
               |  zip_with(slice(ring, 1, size(ring) - 1), slice(ring, 2, size(ring) - 1),
               |           (a, b) -> a.lon_c * b.lat_c - b.lon_c * a.lat_c),
               |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin))
      .withColumn("shell", expr("IF(shoe < 0, reverse(ring), ring)"))
      .select(col("way_id"),
        (abs(col("shoe")).cast("double") / 20000.0).as("area"),
        graft.functions.WkbPolygon(
          expr("array(transform(shell, p -> CAST(p.lon_c AS DOUBLE) / 100.0D))"),
          expr("array(transform(shell, p -> CAST(p.lat_c AS DOUBLE) / 100.0D))")).as("polygon_wkb"))

  /** Two-level relation resolve over assembled ways. */
  def assembleRelations(members: DataFrame, ways: DataFrame): DataFrame =
    members
      .join(ways, members("member_way") === ways("way_id"))
      .groupBy(col("relation_id"))
      .agg(count(lit(1)).as("n_member_ways"),
           sum(col("n_points")).as("n_points"),
           min(col("bbox.minx")).as("minx"), min(col("bbox.miny")).as("miny"),
           max(col("bbox.maxx")).as("maxx"), max(col("bbox.maxy")).as("maxy"))

  /** Tag-rule layer routing (flex-style, README.md:93): one scan, N layers. */
  def extractLayers(tagged: DataFrame, layerRules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val layerCol = filter(
      array(layerRules.map { case (name, rule) => when(rule, name) }: _*),
      _.isNotNull)
    tagged
      .withColumn("layers", layerCol)
      .where(size(col("layers")) > 0)
      .select(col("*"), explode(col("layers")).as("layer"))
      .drop("layers")
  }

  /** The way→region dimension chain (the reference's per-{region,subregion}
    * routing, `osm_etl.py:69-85`, as joins instead of container fan-out).
    * `customer` grows linearly with scale (GBs at planet sf) so its join
    * goes through the size-gated [[graft.Gate.bcast]] — same hazard class
    * as the node store in [[assembleWays]]; nation/region are
    * constant-cardinality dims (25/5 rows at any sf) and stay
    * hard-broadcast. */
  def regionOfWay(orders: DataFrame, customer: DataFrame,
                  nation: DataFrame, region: DataFrame): DataFrame =
    orders
      .join(graft.Gate.bcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey").as("way_id"), col("r_name").as("region"),
              col("n_name").as("subregion"))

  /** The whole ETL dataflow, session-agnostic (main provisions a session
    * and calls this; OsmEtlJobSpec drives the identical path in-process
    * and chains PostgisLoadJob behind it — the full reference pipeline
    * shape, `osm_etl.py:57-91`). Returns per-lake-table row counts. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          pgosmDate: String, layerSpecPath: Option[String] = None): Seq[(String, Long)] =
    runTimed(spark, sfDir, outDir, pgosmDate, layerSpecPath)._1

  /** The OSM element stores for one snapshot dir — star-schema stand-ins
    * (FIXTURES.md): refs(way_id,pos,node_ref), tagged nodes, raw orders
    * (the relation-membership + region-routing store). */
  private[graft] def stores(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val refs = T.lineitem(spark, sfDir).select(
      col("l_orderkey").as("way_id"), col("l_linenumber").as("pos"),
      col("l_partkey").as("node_ref"))
    val nodes = T.part(spark, sfDir).select(
      col("p_partkey").as("node_id"),
      (col("p_size").cast("long") * 100).as("lon_c"),
      round(col("p_retailprice") * 100).cast("long").as("lat_c"),
      col("p_brand"), col("p_type"))
    (refs, nodes, T.orders(spark, sfDir))
  }

  private def members(orders: DataFrame): DataFrame =
    orders.select(col("o_custkey").as("relation_id"), col("o_orderkey").as("member_way"))

  /** Layer extraction over the tagged node store. The rules come from the
    * declarative JSON style (graft.config.LayerSpecs — PgOSM Flex's layer
    * sets are configuration, README.md:93): the job maps its element
    * attributes into the spec's `tags` vocabulary once, then any style
    * file routes without a code change. The helper map is dropped before
    * the lake write, so the lake schema is unchanged whichever style ran.
    * Default style ⇔ the former hardcoded rules: size>=25 ⇔ lon_c>=2500,
    * price>1500 ⇔ lat_c>150000. */
  private[graft] def layerRows(nodes: DataFrame, layerSpecPath: Option[String]): DataFrame = {
    val layerSpec = layerSpecPath.map(graft.config.LayerSpecs.fromFile)
      .getOrElse(graft.config.LayerSpecs.default)
    extractLayers(
      nodes.withColumn("tags",
        map(lit("brand"), col("p_brand"),
            lit("size"), (col("lon_c") / 100).cast("long").cast("string"),
            lit("price"), (col("lat_c").cast("double") / 100.0).cast("string"))),
      layerSpec.rules).drop("tags")
  }

  /** Lake partitioning per table (the dump artifact, osm_etl.py:88-91),
    * shared by the full and the incremental writer so their lakes cannot
    * drift apart. */
  private val LakePartitioning: Map[String, Seq[String]] = Map(
    "ways" -> Seq("region", "subregion", "pgosm_date"),
    "relations" -> Seq("pgosm_date"),
    "areas" -> Seq("pgosm_date"),
    "layers" -> Seq("layer", "pgosm_date"))

  /** Stamps `pgosmDate`, writes one lake table under the job description
    * `osm_etl <table> <date>`, and returns (table, rows written, seconds).
    * The row count comes from an [[Observation]] on the write itself, not
    * from a second scan of the lake. It sits in the write's result stage,
    * so a retried task is counted once. `get` is reached only after the
    * write returned: for a failed write the observation never completes. */
  private def writeLake(spark: SparkSession, outDir: String, pgosmDate: String,
                        table: String, df: DataFrame): (String, Long, Double) =
    Concurrent.described(spark, s"osm_etl $table $pgosmDate") {
      val t0 = System.nanoTime()
      val rows = Observation()
      df.withColumn("pgosm_date", lit(pgosmDate))
        .observe(rows, count(lit(1)).as("rows"))
        .write.mode("overwrite").partitionBy(LakePartitioning(table): _*)
        .parquet(s"$outDir/$table")
      (table, rows.get("rows").asInstanceOf[Long], (System.nanoTime() - t0) / 1e9)
    }

  /** [[run]] plus wall-clock seconds per lake-table write (VERDICT r11
    * item 3: the chain artifact reported one ETL number, so a slide could
    * not be attributed to a stage).
    *
    * Ways are assembled once: the `ways` write is the only consumer of
    * [[assembleWays]], and `relations` (`way_id, n_points, bbox`) and
    * `areas` (`way_id, pts`) read the written ways table back. The lake
    * is the checkpoint, so a way that routes to no region is in none of
    * the three tables, exactly as in [[runIncremental]].
    *
    * Independent writes run side by side ([[Concurrent.all]]): `layers`
    * beside the `ways` write, then `relations` beside `areas`. Each stage
    * is the wall of its own write, so the stage seconds overlap and do
    * not sum to the ETL wall. Row counts come from the writes, so there
    * is no readback stage.
    */
  def runTimed(spark: SparkSession, sfDir: String, outDir: String,
               pgosmDate: String, layerSpecPath: Option[String] = None)
      : (Seq[(String, Long)], Seq[(String, Double)]) = {
    // --- scan: star-schema stand-ins for the OSM element stores (FIXTURES.md)
    val (refs, nodes, orders) = stores(spark, sfDir)
    val wayRegions = regionOfWay(orders, T.customer(spark, sfDir),
                                 T.nation(spark, sfDir), T.region(spark, sfDir))
    def write(table: String, df: DataFrame) = writeLake(spark, outDir, pgosmDate, table, df)

    val written = Concurrent.all(
      () => {
        val ways = write("ways", assembleWays(refs, nodes).join(wayRegions, "way_id"))
        val lakeWays = spark.read.parquet(s"$outDir/ways")
        ways +: Concurrent.all(
          () => write("relations", assembleRelations(
            members(orders), lakeWays.select("way_id", "n_points", "bbox"))),
          // area layer (polygon WKB): what osm2pgsql writes for building/
          // water/landuse-class layers; PostGIS load applies ST_GeomFromWKB
          () => write("areas", assembleAreas(lakeWays.select("way_id", "pts"))))
      },
      () => Seq(write("layers", layerRows(nodes, layerSpecPath)))).flatten
    (written.map { case (t, n, _) => t -> n }, written.map { case (t, _, s) => t -> s })
  }

  /** Incremental (replication-diff) mode — VERDICT r12 item 6: apply only
    * the delta between two element-store snapshots to the previous lake,
    * instead of the reference's weekly full reload (`osm_etl.py:13,45,
    * 88-91` always rebuilds; OSM's own minutely/weekly `.osc` feeds are
    * the real-world analog of the snapshot diff computed here).
    *
    * Dataflow:
    *   1. Element deltas via full-row `exceptAll` both ways (adds, drops,
    *      and attribute edits all surface; with a real `.osc` feed this
    *      stage is free — the feed IS the delta).
    *   2. Dirty-way closure: a way is dirty iff its ref composition
    *      changed, any node it references changed, or its membership/
    *      routing row changed. The dirty-id set is delta-sized, so every
    *      join against it goes through the size-gated broadcast
    *      ([[graft.Gate.bcast]]): the full corpus is never shuffled —
    *      carried rows move scan→filter→write with no exchange.
    *   3. Rebuild ONLY dirty ways/areas/layer-rows/relations from the
    *      current snapshot (the expensive assembly joins touch the delta,
    *      not the corpus); carry everything else forward from the prev
    *      lake by broadcast anti-join. Deletions fall out for free: a
    *      deleted element is dirty (its prev rows have no current match)
    *      and its rebuild-from-current is empty.
    *   4. Write the merged snapshot under the new `pgosm_date` with the
    *      full run's exact partitioning — downstream readers cannot tell
    *      which mode produced it (OsmEtlJobSpec pins incremental ≡ full
    *      rebuild, table by table). The returned row counts come from
    *      the writes, as in [[runTimed]].
    *
    * Scope: element-store deltas (nodes, way refs, membership/routing
    * rows). Dimension drift (customer/nation/region reshaping) changes
    * region routing globally — that is a full-rebuild event, documented
    * rather than diffed, matching how region extracts work in the
    * reference (a region re-cut is a new extract, not a diff).
    */
  def runIncremental(spark: SparkSession, prevSfDir: String, currSfDir: String,
                     prevLakeDir: String, outDir: String, pgosmDate: String,
                     layerSpecPath: Option[String] = None): Seq[(String, Long)] = {
    val (pRefs, pNodes, pOrders) = stores(spark, prevSfDir)
    val (cRefs, cNodes, cOrders) = stores(spark, currSfDir)
    // routing row: the slice of orders that decides region/date placement
    def routing(o: DataFrame) = o.select(col("o_orderkey"), col("o_custkey"))

    // --- 1. snapshot deltas (key sets; exceptAll = one hash-agg shuffle
    // over each store pair — the inherent cost of diffing snapshots)
    def changed(prev: DataFrame, curr: DataFrame, key: String): DataFrame =
      curr.exceptAll(prev).union(prev.exceptAll(curr)).select(col(key)).distinct()
    val changedNodes   = changed(pNodes, cNodes, "node_id")
    val changedRefWays = changed(pRefs, cRefs, "way_id")
    val changedRouting = changed(routing(pOrders), routing(cOrders), "o_orderkey")
      .select(col("o_orderkey").as("way_id"))

    // --- 2. dirty closure (delta-sized sets; broadcast from here on)
    val dirtyWays = changedRefWays
      .union(cRefs.union(pRefs)
        .join(graft.Gate.bcast(changedNodes), col("node_ref") === col("node_id"))
        .select("way_id"))
      .union(changedRouting)
      .distinct()
    val dirtyRelations = changed(members(pOrders), members(cOrders), "relation_id")
      .union(members(cOrders).union(members(pOrders))
        .join(graft.Gate.bcast(dirtyWays), col("member_way") === col("way_id"))
        .select("relation_id"))
      .distinct()

    // --- 3. rebuild dirty slices from the CURRENT snapshot only
    val rebuiltWays = assembleWays(
      cRefs.join(graft.Gate.bcast(dirtyWays), Seq("way_id"), "left_semi"), cNodes)
    val rebuiltRegions = regionOfWay(
      cOrders.join(graft.Gate.bcast(dirtyWays),
                   col("o_orderkey") === col("way_id"), "left_semi"),
      T.customer(spark, currSfDir), T.nation(spark, currSfDir), T.region(spark, currSfDir))
    // routed rows only: like the full run, a way that routes to no region
    // has no ways row, no area and no share in any relation
    val rebuiltWayRows = rebuiltWays.join(rebuiltRegions, "way_id")

    def carry(table: String, idCol: String, dirty: DataFrame): DataFrame =
      spark.read.parquet(s"$prevLakeDir/$table")
        .join(graft.Gate.bcast(dirty), Seq(idCol), "left_anti")
        .drop("pgosm_date")
    def write(table: String, df: DataFrame) = writeLake(spark, outDir, pgosmDate, table, df)

    val ways = write("ways", carry("ways", "way_id", dirtyWays).unionByName(rebuiltWayRows))

    // relations need n_points+bbox of ALL member ways of a dirty relation
    // — clean members come from the carried lake rows, not a re-assembly
    val mergedWayStats = spark.read.parquet(s"$outDir/ways")
      .select(col("way_id"), col("n_points"), col("bbox"))
    val rebuiltRelations = assembleRelations(
      members(cOrders).join(graft.Gate.bcast(dirtyRelations), Seq("relation_id"), "left_semi"),
      mergedWayStats)
    val relations = write("relations",
      carry("relations", "relation_id", dirtyRelations).unionByName(rebuiltRelations))

    val areas = write("areas",
      carry("areas", "way_id", dirtyWays).unionByName(assembleAreas(rebuiltWayRows)))

    val rebuiltLayers = layerRows(
      cNodes.join(graft.Gate.bcast(changedNodes), Seq("node_id"), "left_semi"), layerSpecPath)
    val layers = write("layers",
      carry("layers", "node_id", changedNodes).unionByName(rebuiltLayers))

    Seq(ways, relations, areas, layers).map { case (t, n, _) => t -> n }
  }

  def main(args: Array[String]): Unit = {
    // --layer-spec=<path>: override the checked-in default layer style
    // with an operator-supplied JSON file (flex-style configurability).
    // --incremental=<prevSfDir>,<prevLakeDir>: replication-diff mode —
    // apply only the snapshot delta against the previous lake.
    val (flags, positional) = args.partition(_.startsWith("--"))
    def flag(name: String) = flags.collectFirst {
      case f if f.startsWith(s"--$name=") => f.stripPrefix(s"--$name=")
    }
    val layerSpecPath = flag("layer-spec")
    val incremental = flag("incremental").map { v =>
      val Array(prevSf, prevLake) = v.split(",", 2); (prevSf, prevLake)
    }
    val sfDir = positional(0)
    val outDir = positional(1)
    val pgosmDate = if (positional.length > 2) positional(2) else "2024-07-25" // osm_etl.py:13
    val spark = graft.Sessions.get(s"osm-etl-$pgosmDate")
    val counts = incremental match {
      case Some((prevSf, prevLake)) =>
        runIncremental(spark, prevSf, sfDir, prevLake, outDir, pgosmDate, layerSpecPath).toMap
      case None =>
        run(spark, sfDir, outDir, pgosmDate, layerSpecPath).toMap
    }
    println(s"""{"job":"osm_etl","date":"$pgosmDate","ways":${counts("ways")},""" +
            s""""relations":${counts("relations")},""" +
            s""""areas":${counts("areas")},""" +
            s""""layer_rows":${counts("layers")}}""")
    spark.stop()
  }
}
