package graft

import graft.operators.JdbcIO
import org.apache.spark.sql.functions._

/** §2.A `source_jdbc` / `sink_jdbc` against embedded Derby — the
  * offline stand-in for the reference's PostGIS terminal store
  * (`/root/reference/osm_etl.py:88-91`). The registered queries cover
  * value-level correctness vs the DuckDB oracle; this spec additionally
  * asserts the PARALLELISM contract: a partitioned JDBC read must
  * actually stripe the table across numPartitions tasks.
  */
class JdbcSpec extends GraftSuite {

  test("jdbc round-trip preserves rows and types (Derby embedded)") {
    val url = JdbcIO.freshEmbeddedDerby("spec_derby")
    val src = T.nation(spark, sf)
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    JdbcIO.writeTable(src, url, "nation_rt", columnTypes = Some("n_name VARCHAR(64)"))
    val back = JdbcIO.readTable(spark, url, "nation_rt")
    assert(back.schema.fieldNames.toSet === Set("n_nationkey", "n_regionkey", "n_name"))
    val a = src.orderBy("n_nationkey").collect().map(_.toSeq)
    val b = back.orderBy("n_nationkey").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("postgres dialect emits the DDL a PostGIS layer load needs (no server required)") {
    // The reference's real serving edge is Postgres/PostGIS
    // (`/root/reference/osm_etl.py:88-91`): the dump-reload becomes, on
    // this engine, a direct JDBC write whose CREATE TABLE goes through
    // Spark's PostgresDialect. Assert the exact column DDL Spark would
    // emit for an assembled OSM layer row — geometry WKB as BYTEA, text
    // as TEXT, ids as BIGINT — plus a createTableColumnTypes override,
    // without needing a live server (the DDL string IS the contract).
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.types._
    val dialect = JdbcDialects.get("jdbc:postgresql://db.example/osm")
    val layer = StructType(Seq(
      StructField("osm_id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("layer", StringType),
      StructField("area", DoubleType),
      StructField("n_ring_points", IntegerType),
      StructField("visible", BooleanType),
      StructField("updated_at", TimestampType),
      StructField("geom", BinaryType))) // WKB Polygon/MultiPolygon bytes
    val ddl = JdbcUtils.schemaString(dialect, layer, caseSensitive = false, None)
    assert(ddl.contains("\"osm_id\" BIGINT NOT NULL"))
    assert(ddl.contains("\"name\" TEXT"))
    assert(ddl.contains("\"area\" FLOAT8")) // = double precision
    assert(ddl.contains("\"n_ring_points\" INTEGER"))
    assert(ddl.contains("\"visible\" BOOLEAN"))
    // Spark TimestampType is session-tz-relative → timestamptz; the
    // no-zone variant is TimestampNTZType
    assert(ddl.contains("\"updated_at\" TIMESTAMP WITH TIME ZONE"))
    // WKB geometry lands as BYTEA — the PostGIS load then applies
    // ST_GeomFromWKB(geom) server-side, exactly the osm2pgsql hand-off
    assert(ddl.contains("\"geom\" BYTEA"))
    // createTableColumnTypes pins a column type past the dialect default
    // (the same knob the Derby round-trips use for VARCHAR)
    val pinned = JdbcUtils.schemaString(
      dialect, layer, caseSensitive = false, Some("name VARCHAR(256)"))
    assert(pinned.contains("\"name\" VARCHAR(256)"))
  }

  test("PostgisLoadJob emits the PostGIS DDL and the ON CONFLICT upsert template") {
    // r15 item 3 done-bar: the Postgres-dialect load artifacts as
    // reviewable STRINGS, no live server required. The DDL comes through
    // Spark's own PostgresDialect (what df.write.jdbc executes), so this
    // pin catches a dialect-mapping drift across Spark upgrades too.
    import spark.implicits._
    val ways = Seq((1L, Array[Byte](1, 2), "eu", "spain", 4, 2.5, "2024-07-25"))
      .toDF("way_id", "wkb", "region", "subregion", "n_points", "area", "pgosm_date")
    val ddl = plans.PostgisLoadJob.postgresDdl("osm_ways", ways)
    assert(ddl.startsWith("CREATE TABLE osm_ways ("))
    // WKB geometry as BYTEA: the ST_GeomFromWKB(wkb) server-side input
    assert(ddl.contains("\"wkb\" BYTEA"), ddl)
    // unbounded TEXT for OSM strings, BIGINT ids, FLOAT8 measures
    assert(ddl.contains("\"region\" TEXT") && ddl.contains("\"pgosm_date\" TEXT"), ddl)
    assert(ddl.contains("\"way_id\" BIGINT"), ddl)
    assert(ddl.contains("\"n_points\" INTEGER") && ddl.contains("\"area\" FLOAT8"), ddl)
    // nested columns must be flattened before load — fail loudly if not
    val nested = Seq((1L, (2L, 3L))).toDF("id", "bbox")
    assertThrows[IllegalArgumentException] {
      plans.PostgisLoadJob.postgresDdl("t", nested)
    }
    assert(plans.PostgisLoadJob.postgresDdl(
      "t", plans.PostgisLoadJob.relational(nested)).contains("\"bbox_"))

    // the idempotent per-row load path for replication-diff consumers:
    // stage-then-merge, one set-based server-side statement
    val up = plans.PostgisLoadJob.upsertSql(
      "osm_ways", ways, Seq("way_id", "pgosm_date"), Some("osm_ways_stage"))
    assert(up ==
      "INSERT INTO osm_ways (way_id, wkb, region, subregion, n_points, area, pgosm_date) " +
      "SELECT way_id, wkb, region, subregion, n_points, area, pgosm_date FROM osm_ways_stage " +
      "ON CONFLICT (way_id, pgosm_date) DO UPDATE SET wkb = EXCLUDED.wkb, " +
      "region = EXCLUDED.region, subregion = EXCLUDED.subregion, " +
      "n_points = EXCLUDED.n_points, area = EXCLUDED.area", up)
    // prepared-statement form (per-row driver-side apply) when no stage
    val prep = plans.PostgisLoadJob.upsertSql("osm_ways", ways, Seq("way_id"))
    assert(prep.contains("VALUES (?, ?, ?, ?, ?, ?, ?)"), prep)
    assert(prep.contains("ON CONFLICT (way_id) DO UPDATE SET"), prep)
    // keys must exist
    assertThrows[IllegalArgumentException] {
      plans.PostgisLoadJob.upsertSql("t", ways, Seq("nope"))
    }
  }

  test("PostgisLoadJob loads a lake dir end-to-end (Derby stand-in)") {
    // The DAG's terminal task (dags/osm_spark_dag.py load_postgis) submits
    // this exact path with a Postgres URL; here the offline Derby URL
    // drives the identical code. Lake shape mirrors OsmEtlJob's output:
    // scalars + a struct (flattens to parent_child) + an array (assembly
    // intermediate, dropped) + WKB binary (passes through).
    import org.apache.spark.sql.functions.{array, lit, struct}
    val lake = Scratch.fresh("pg_lake")
    T.nation(spark, sf)
      .select(col("n_nationkey").as("way_id"), col("n_name").as("name"),
        struct(lit(1L).as("minx"), lit(2L).as("miny")).as("bbox"),
        array(lit(1L), lit(2L)).as("pts"),
        expr("CAST(NULL AS BINARY)").as("wkb"))
      .write.parquet(s"$lake/ways")
    T.region(spark, sf)
      .select(col("r_regionkey").as("way_id"), col("r_name").as("layer"))
      .write.parquet(s"$lake/layers")
    val url = JdbcIO.freshEmbeddedDerby("spec_pg_load")
    val loaded = graft.plans.PostgisLoadJob.load(spark, lake, url).toMap
    // relations/areas absent from this lake → skipped, not failed
    assert(loaded.keySet === Set("ways", "layers"))
    assert(loaded("ways") === 25L && loaded("layers") === 5L)
    val back = JdbcIO.readTable(spark, url, "osm_ways")
    assert(back.schema.fieldNames.toSet ===
      Set("way_id", "name", "bbox_minx", "bbox_miny", "wkb")) // pts dropped
    assert(back.where(col("bbox_minx") === 1L).count() === 25L)
  }

  test("PostgisLoadJob: a failing table fails the load only after every other table has loaded") {
    // The four tables load concurrently. A table that cannot be read, or
    // whose rows the database rejects mid-write (the observed count then
    // never completes), must fail the load with its own error, without
    // hanging and without leaving a sibling load still running.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    def lakeWith(relations: String => Unit): String = {
      val lake = Scratch.fresh("pg_fail")
      T.nation(spark, sf).select(col("n_nationkey").as("way_id"), col("n_name").as("name"))
        .write.parquet(s"$lake/ways")
      T.nation(spark, sf).select(col("n_nationkey").as("way_id"), lit(1.5).as("area"))
        .write.parquet(s"$lake/areas")
      T.region(spark, sf).select(col("r_regionkey").as("node_id"), col("r_name").as("layer"))
        .write.parquet(s"$lake/layers")
      relations(s"$lake/relations")
      lake
    }
    val unreadable = lakeWith { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part-00000.parquet"),
        "not a parquet file".getBytes("UTF-8"))
    }
    // longer than the VARCHAR(512) pin: Derby rejects the row inside the write
    val rejected = lakeWith { dir =>
      T.region(spark, sf).select(col("r_regionkey").as("relation_id"),
        concat(lit("relations-"), repeat(lit("x"), 600)).as("name"))
        .write.parquet(dir)
    }
    for ((lake, cause) <- Seq(unreadable -> "part-00000.parquet", rejected -> "truncation")) {
      val url = JdbcIO.freshEmbeddedDerby("spec_pg_fail")
      val load = Future(graft.plans.PostgisLoadJob.load(spark, lake, url))(
        scala.concurrent.ExecutionContext.global)
      val err = intercept[Exception](Await.result(load, 3.minutes))
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(_.toString).mkString("\n")
      assert(chain.contains(cause), chain)
      // every sibling branch ran to its end before the error surfaced
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
      assert(JdbcIO.readTable(spark, url, "osm_ways").count() === 25L)
      assert(JdbcIO.readTable(spark, url, "osm_areas").count() === 25L)
      assert(JdbcIO.readTable(spark, url, "osm_layers").count() === 5L)
    }
  }

  test("unified tables: two regions slice-replace-load into one table, idempotently") {
    // The reference loads every region into ONE PostGIS `osm` database
    // (`/root/reference/osm_etl.py:69-91`); here two per-region lake dirs
    // land in one `osm_ways`, each row stamped load_region, and re-running
    // one region's load replaces only its own slice. Creds ride connection
    // properties — the URL must never carry them.
    import org.apache.spark.sql.functions.lit
    val creds = Some(("app_loader", "s3cr3t"))
    val url = JdbcIO.freshEmbeddedDerby("spec_unified")
    assert(!url.contains("s3cr3t") && !url.contains("app_loader"))
    def lakeFor(tag: String, rows: Int): String = {
      val dir = Scratch.fresh(s"lake_$tag")
      T.nation(spark, sf).limit(rows)
        .select(col("n_nationkey").as("way_id"), col("n_name").as("name"),
                lit(tag).as("batch"))
        .write.parquet(s"$dir/ways")
      dir
    }
    // first-ever load: deleteSlice hits a missing table (no-op), append creates
    val l1 = graft.plans.PostgisLoadJob.load(
      spark, lakeFor("co-v1", 10), url, region = Some("colorado"), creds = creds).toMap
    val l2 = graft.plans.PostgisLoadJob.load(
      spark, lakeFor("es-v1", 7), url, region = Some("spain"), creds = creds).toMap
    assert(l1("ways") === 10L && l2("ways") === 7L)
    def slice(r: String) =
      JdbcIO.readTable(spark, url, "osm_ways", creds = creds)
        .where(col("load_region") === r)
    assert(slice("colorado").count() === 10L && slice("spain").count() === 7L)
    // retry of the same region: replaces its slice, never duplicates
    graft.plans.PostgisLoadJob.load(
      spark, lakeFor("co-v1", 10), url, region = Some("colorado"), creds = creds)
    assert(slice("colorado").count() === 10L && slice("spain").count() === 7L)
    // fresh snapshot for one region: only that slice changes
    graft.plans.PostgisLoadJob.load(
      spark, lakeFor("co-v2", 4), url, region = Some("colorado"), creds = creds)
    assert(slice("colorado").count() === 4L, "rerun must replace only its own slice")
    assert(slice("colorado").where(col("batch") === "co-v2").count() === 4L)
    assert(slice("spain").count() === 7L, "sibling region's slice must be untouched")
  }

  test("deleteSlice validates identifiers and parameterizes the value") {
    val url = JdbcIO.freshEmbeddedDerby("spec_delsafe")
    // missing table is a first-load no-op, not an error
    assert(JdbcIO.deleteSlice(url, "no_such_table", "load_region", "x") === 0)
    // injection-shaped identifiers are rejected before any SQL is built
    intercept[IllegalArgumentException] {
      JdbcIO.deleteSlice(url, "ways; DROP TABLE ways", "load_region", "x")
    }
    intercept[IllegalArgumentException] {
      JdbcIO.deleteSlice(url, "ways", "c OR 1=1", "x")
    }
    // a hostile VALUE is inert data via the PreparedStatement parameter
    val src = T.region(spark, sf).select(col("r_regionkey"), col("r_name"))
    JdbcIO.writeTable(src, url, "slices", columnTypes = Some("r_name VARCHAR(64)"))
    assert(JdbcIO.deleteSlice(url, "slices", "r_name", "' OR '1'='1") === 0)
    assert(JdbcIO.readTable(spark, url, "slices").count() === src.count())
  }

  test("writeTable rejects truncate without overwrite; truncate-overwrite keeps indexes") {
    val url = JdbcIO.freshEmbeddedDerby("spec_trunc")
    val src = T.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
    intercept[IllegalArgumentException] {
      JdbcIO.writeTable(src, url, "nation_t", truncate = true) // append+truncate no-ops in Spark
    }
    JdbcIO.writeTable(src, url, "nation_t", columnTypes = Some("n_name VARCHAR(64)"))
    // server-side index (stand-in for a GiST on geometry) must survive reloads
    val conn = java.sql.DriverManager.getConnection(url)
    // quoted column: Spark's writer creates columns through quoteIdentifier
    try conn.createStatement().executeUpdate("CREATE INDEX nation_t_ix ON nation_t(\"n_nationkey\")")
    finally conn.close()
    def indexExists: Boolean = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT COUNT(*) FROM SYS.SYSCONGLOMERATES WHERE CONGLOMERATENAME = 'NATION_T_IX'")
        rs.next(); rs.getInt(1) > 0
      } finally c.close()
    }
    assert(indexExists)
    JdbcIO.writeTable(src, url, "nation_t", overwrite = true, truncate = true)
    assert(JdbcIO.readTable(spark, url, "nation_t").count() === src.count())
    assert(indexExists, "TRUNCATE-mode overwrite must keep the table's indexes")
  }

  test("partitioned jdbc read stripes across numPartitions connections") {
    val url = JdbcIO.freshEmbeddedDerby("spec_derby_p")
    val src = T.customer(spark, sf).select(col("c_custkey"), col("c_acctbal"))
    JdbcIO.writeTable(src, url, "customer_rt")
    val back = JdbcIO.readTable(spark, url, "customer_rt",
      partitionColumn = Some(("c_custkey", 0L, 150L, 4)))
    // the scan itself must be 4-way (one key-range stripe per task)
    assert(back.rdd.getNumPartitions === 4)
    // stripes are a partition of the key space: nothing lost or duplicated
    assert(back.count() === src.count())
    // first/last stripes are unbounded, so out-of-range keys still arrive
    val urlEdge = JdbcIO.freshEmbeddedDerby("spec_derby_e")
    JdbcIO.writeTable(src, urlEdge, "customer_rt")
    val edge = JdbcIO.readTable(spark, urlEdge, "customer_rt",
      partitionColumn = Some(("c_custkey", 40L, 60L, 4)))
    assert(edge.count() === src.count())
  }
}
