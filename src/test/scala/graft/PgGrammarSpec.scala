package graft

import org.apache.spark.sql.functions._

/** Grammar/golden lane for the Postgres dialect artifacts (VERDICT r16
  * #3). Derby — the only JDBC engine executable offline — cannot run the
  * `ON CONFLICT` text or validate the BYTEA/TEXT dialect mapping, so the
  * serving-load SQL was string-pinned but never *grammar*-checked. Two
  * layered defenses, both offline:
  *
  *  1. GOLDEN DIFF — the rendered statements must byte-equal the
  *     checked-in files under `tools/pg_golden/`; any emitter change is
  *     loud and reviewable.
  *  2. GRAMMAR PASS — `tools/pg_grammar_check.py` parses the rendered
  *     text against a hand-implemented subset of the published
  *     PostgreSQL 15 grammar (CREATE TABLE / INSERT ... ON CONFLICT DO
  *     UPDATE / DELETE productions, PG15 reserved-word list, real type
  *     names) — so editing BOTH the emitter and the golden to match
  *     still fails if the SQL is not Postgres.
  *
  * The fixture schema mirrors the lake `ways` table PostgisLoadJob loads
  * (ids BIGINT, WKB BINARY, strings, measures, the `load_region` slice
  * stamp).
  */
class PgGrammarSpec extends GraftSuite {

  private val goldenDir = new java.io.File("tools/pg_golden")

  private def artifacts: Seq[(String, String)] = {
    import spark.implicits._
    val ways = Seq((1L, Array[Byte](1, 2), "eu", "spain", 4, 2.5, "2024-07-25"))
      .toDF("way_id", "wkb", "region", "subregion", "n_points", "area", "pgosm_date")
      .withColumn("load_region", lit("eu-spain"))
    Seq(
      "create_osm_ways.sql" ->
        plans.PostgisLoadJob.postgresDdl("osm_ways", ways),
      "create_osm_ways_stage.sql" ->
        plans.PostgisLoadJob.stageDdl("osm_ways", ways),
      "create_unique_way_id.sql" ->
        plans.PostgisLoadJob.uniqueIndexSql("osm_ways", Seq("way_id")),
      "create_unique_way_id_pgosm_date.sql" ->
        plans.PostgisLoadJob.uniqueIndexSql("osm_ways", Seq("way_id", "pgosm_date")),
      "upsert_staged.sql" ->
        plans.PostgisLoadJob.upsertSql("osm_ways", ways,
          Seq("way_id", "pgosm_date"), Some("osm_ways_stage")),
      "upsert_prepared.sql" ->
        plans.PostgisLoadJob.upsertSql("osm_ways", ways, Seq("way_id")),
      "delete_slice.sql" ->
        operators.JdbcIO.deleteSliceSql("osm_ways", plans.PostgisLoadJob.SliceColumn))
  }

  test("emitted Postgres artifacts byte-match the checked-in goldens") {
    // Regen lane (deliberate emitter changes): GRAFT_REGEN_GOLDEN=1 sbt
    // "testOnly graft.PgGrammarSpec" rewrites the goldens for review —
    // the grammar test below still gates the regenerated text.
    if (sys.env.get("GRAFT_REGEN_GOLDEN").contains("1")) {
      goldenDir.mkdirs()
      artifacts.foreach { case (name, sql) =>
        java.nio.file.Files.write(new java.io.File(goldenDir, name).toPath,
          (sql + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    artifacts.foreach { case (name, sql) =>
      val f = new java.io.File(goldenDir, name)
      assert(f.exists(), s"missing golden $f — if the emitter changed on " +
        "purpose, regenerate with GRAFT_REGEN_GOLDEN=1 and re-review the SQL")
      val want = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      assert(sql.trim == want,
        s"emitted SQL for $name drifted from the reviewed golden:\n--- emitted\n$sql\n--- golden\n$want")
    }
  }

  test("emitted Postgres artifacts parse under the PG15 grammar subset") {
    val have = try {
      new ProcessBuilder("python3", "--version").start().waitFor() == 0
    } catch { case _: java.io.IOException => false }
    assume(have, "python3 not on PATH — grammar lane skipped")
    val dir = java.nio.file.Paths.get(Scratch.fresh("pgsql"))
    val files = artifacts.map { case (name, sql) =>
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p.toString
    }
    val pb = new ProcessBuilder(
      (Seq("python3", "tools/pg_grammar_check.py") ++ files): _*)
      .directory(new java.io.File(sys.props.getOrElse("user.dir", ".")))
      .redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(proc.waitFor() == 0, s"pg_grammar_check failed:\n$out")
    assert(out.contains("grammar OK"), out)
  }

  test("goldens run the dual-lane check — REAL Postgres when available (VERDICT r17 #5)") {
    val have = try {
      new ProcessBuilder("python3", "--version").start().waitFor() == 0
    } catch { case _: java.io.IOException => false }
    assume(have, "python3 not on PATH — dual-lane skipped")
    val proc = new ProcessBuilder("python3", "tools/pg_real_check.py")
      .directory(new java.io.File(sys.props.getOrElse("user.dir", ".")))
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(proc.waitFor() == 0, s"pg_real_check failed:\n$out")
    // the tool must DECLARE which lane ran — a silent lane is the drift
    // dag_check.py's mode report exists to prevent
    assert(out.contains("mode=real") || out.contains("mode=grammar"), out)
    info(out.linesIterator.next())
    if (out.contains("mode=real")) {
      // the whole point of the lane: ON CONFLICT executed, not just parsed
      assert(out.contains("idempotent-update verified") &&
             out.contains("exactly-once verified"), out)
    }
  }

  test("the grammar checker itself rejects non-Postgres text (not a rubber stamp)") {
    val bad = Seq(
      // Derby/MySQL-isms and plain breakage the checker must catch
      "CREATE TABLE t (c CLOB)",                       // no such PG type
      "CREATE TABLE t (\"c\" VARCHAR)",                // varchar needs (n) here
      "CREATE TABLE t (select TEXT)",                  // reserved word unquoted
      "INSERT INTO t (a, b) VALUES (?) ON CONFLICT (a) DO UPDATE SET b = EXCLUDED.b", // arity
      "INSERT INTO t (a, b) VALUES (?, ?) ON DUPLICATE KEY UPDATE b = 1", // MySQL form
      "INSERT INTO t (a, b) VALUES (?, ?) ON CONFLICT (z) DO UPDATE SET b = EXCLUDED.b", // bad target
      "DELETE FROM t WHERE \"c\" = 'eu'")              // inlined value, not a bind
    val dir = java.nio.file.Paths.get(Scratch.fresh("pgbad"))
    bad.zipWithIndex.foreach { case (sql, i) =>
      val p = dir.resolve(s"bad_$i.sql")
      java.nio.file.Files.write(p, sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val proc = new ProcessBuilder("python3", "tools/pg_grammar_check.py", p.toString)
        .directory(new java.io.File(sys.props.getOrElse("user.dir", ".")))
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.waitFor() != 0, s"checker accepted invalid SQL: $sql\n$out")
    }
  }
}
