package graft.plans

import org.apache.spark.sql.functions._

/** End-to-end check of the Spark→Postgres WIRE write leg against a real
  * server (driven by `tools/pg_real_check.py` scenario D, which
  * bootstraps a scratch PostgreSQL on 127.0.0.1 and invokes this main):
  *
  *   1. driver executes the SAME golden DDL chain the deployment runs
  *      (CREATE TABLE via [[PostgisLoadJob.postgresDdl]], the
  *      NULLS NOT DISTINCT arbiter, the UNLOGGED stage);
  *   2. a multi-partition ways DataFrame (including NULL-dated rows)
  *      loads through [[PostgisLoadJob.loadViaWire]] — one wire
  *      connection per Spark partition, batched multi-row INSERTs, the
  *      `df.write.jdbc` shape with no JDBC jar anywhere;
  *   3. the staged upsert executes TWICE (the Airflow-retry contract)
  *      and row counts are read back over the same protocol.
  *
  * Prints one JSON line; exits non-zero on any mismatch.
  *
  * Usage: PgWireLoadCheck <host> <port> <user> <db>
  */
object PgWireLoadCheck {
  def main(args: Array[String]): Unit = {
    val Array(host, portS, user, db) = args.take(4)
    val port = portS.toInt
    val spark = graft.Sessions.get()
    import spark.implicits._
    try {
      // 300 ways across 4 partitions; every 10th row NULL-dated so the
      // NULLS NOT DISTINCT arbiter is exercised by the wire leg too
      val ways = spark.range(300).repartition(4)
        .select(col("id").as("way_id"),
                expr("unhex(concat('0102', lpad(hex(id), 8, '0')))").as("wkb"),
                lit("eu").as("region"),
                concat(lit("sub"), col("id") % 7).as("subregion"),
                (col("id") % 100).cast("int").as("n_points"),
                (col("id") * lit(2.5)).as("area"),
                when(col("id") % 10 === 0, lit(null).cast("string"))
                  .otherwise(lit("2024-07-25")).as("pgosm_date"),
                lit("eu-spain").as("load_region"))
      val pg = new PgWire(host, port, user, db)
      try {
        pg.exec("DROP TABLE IF EXISTS osm_ways, osm_ways_stage")
        pg.exec(PostgisLoadJob.postgresDdl("osm_ways", ways))
        pg.exec(PostgisLoadJob.uniqueIndexSql("osm_ways", Seq("way_id", "pgosm_date")))
        pg.exec(PostgisLoadJob.stageDdl("osm_ways", ways))

        // the distributed write: executors speak the protocol directly
        val written = PostgisLoadJob.loadViaWire(
          ways, host, port, user, db, "osm_ways_stage", batchRows = 64)
        require(written == 300, s"wire leg wrote $written rows, expected 300")
        val staged = pg.query("SELECT count(*) FROM osm_ways_stage").head.head.toLong
        require(staged == 300, s"stage holds $staged rows, expected 300")

        // staged upsert twice — exactly-once incl. the NULL-dated rows
        val upsert = PostgisLoadJob.upsertSql(
          "osm_ways", ways, Seq("way_id", "pgosm_date"), Some("osm_ways_stage"))
        pg.exec(upsert)
        pg.exec(upsert)
        val target = pg.query("SELECT count(*) FROM osm_ways").head.head.toLong
        require(target == 300, s"target holds $target rows after double merge, expected 300")
        val nullDated = pg.query(
          "SELECT count(*) FROM osm_ways WHERE pgosm_date IS NULL").head.head.toLong
        require(nullDated == 30, s"$nullDated NULL-dated rows, expected 30 (retry duplicated?)")
        // byte fidelity: WKB hex of one row survives the round trip
        val wkb7 = pg.query(
          "SELECT encode(wkb, 'hex') FROM osm_ways WHERE way_id = 7").head.head
        require(wkb7 == "010200000007", s"wkb round-trip mismatch: $wkb7")
        println(s"""{"job":"pgwire_load_check","written":$written,"target_rows":$target,""" +
          s""""null_dated":$nullDated,"partitions":4,"mode":"wire"}""")
      } finally pg.close()
    } finally spark.stop()
  }
}
