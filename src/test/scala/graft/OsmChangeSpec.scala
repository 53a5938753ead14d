package graft

import org.apache.spark.sql.functions._

import graft.sources.OsmChange
import graft.sources.OsmChange.{OscMember, OscRow}

/** The `.osc` (osmChange XML) lane — the last real-format gap the r15
  * verdict flagged. Pins: (1) write→parse round trip is identity, plain
  * and gzipped, including exact 1e-7-degree coordinate scaling; (2)
  * applySnapshot implements the stream_osm_upsert merge semantics
  * (upsert / delete / LWW-by-version / re-insert) — and the streaming
  * `stream_osc_apply` key lands on the SAME final state as the
  * MemoryStream-fed `stream_osm_upsert` (StreamingSpec's hand-computed
  * lake); (3) diff∘apply is identity: applying the generated diff to the
  * previous snapshot reproduces the current snapshot row-for-row — the
  * "full reload ≡ snapshot + diffs" property that makes the reference's
  * weekly rebuild (`osm_etl.py:13,45`) replaceable by the replication
  * feed (OsmEtlJobSpec's incremental≡full lane then carries that
  * equality through every lake table, since OsmEtlJob.run is
  * deterministic in its input stores).
  */
class OsmChangeSpec extends GraftSuite {

  private def node(op: String, id: Long, v: Long, lat7: Long, lon7: Long,
                   tags: Map[String, String] = Map.empty) =
    OscRow(op, "node", id, v, "2024-07-25T00:00:00Z", Some(lat7), Some(lon7),
           tags, Nil, Nil)
  private def way(op: String, id: Long, v: Long, refs: Seq[Long],
                  tags: Map[String, String] = Map.empty) =
    OscRow(op, "way", id, v, "", None, None, tags, refs, Nil)
  private def rel(op: String, id: Long, v: Long, members: Seq[OscMember]) =
    OscRow(op, "relation", id, v, "", None, None, Map.empty, Nil, members)

  private val fixture = Seq(
    node("create", 1L, 1L, 515074560L, -1278000L, Map("name" -> "a <&\"> b", "amenity" -> "cafe")),
    node("modify", 2L, 3L, -330000000L, 1515000000L),
    way("create", 10L, 1L, Seq(1L, 2L, 1L), Map("highway" -> "primary")),
    way("delete", 11L, 2L, Nil),
    rel("modify", 20L, 4L, Seq(OscMember("way", 10L, "outer"), OscMember("node", 1L, ""))),
    node("delete", 3L, 9L, 0L, 0L))

  test("render -> parse round trip is identity, plain and gzipped") {
    val tmp = Scratch.fresh("osc_spec")
    OsmChange.write(s"$tmp/a.osc", fixture)
    OsmChange.write(s"$tmp/b.osc.gz", fixture, gzip = true)
    val plain = OsmChange.parse(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/a.osc")))
    val gz = OsmChange.parse(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/b.osc.gz")))
    // blocks render create->modify->delete, order within a block preserved
    val expected = Seq("create", "modify", "delete")
      .flatMap(op => fixture.filter(_.op == op))
    assert(plain == expected, "plain-file round trip diverged")
    assert(gz == expected, "gzip round trip diverged")
    // the distributed read sees the union of both files
    val read = OsmChange.read(spark, tmp)
    assert(read.count() == 2L * fixture.size)
    assert(read.where(col("elem_type") === "node" && col("id") === 1L)
      .select(col("lat7")).head.getLong(0) == 515074560L)
  }

  test("dec7: exact decimal scaling, never through a double") {
    assert(OsmChange.dec7("51.5074560") == 515074560L)
    assert(OsmChange.dec7("-0.1278") == -1278000L)
    assert(OsmChange.dec7("180") == 1800000000L)
    // 7 decimals round-trip exactly even where a double cannot represent
    // the value (0.1 is the classic): BigDecimal scaling is exact
    assert(OsmChange.dec7("0.1000001") == 1000001L)
    // sub-resolution input (8 dp) rounds half-up at the wire resolution
    assert(OsmChange.dec7("0.00000015") == 2L)
  }

  test("applySnapshot: upsert / delete / LWW / re-insert reach the stream_osm_upsert state") {
    import spark.implicits._
    val prev = Seq(
      way("create", 1L, 1L, Nil, Map("length_m" -> "10.0")),
      way("create", 2L, 1L, Nil, Map("length_m" -> "20.0")))
      .toDS().drop("op").toDF()
    val batch0 = Seq(
      way("modify", 1L, 2L, Nil, Map("length_m" -> "11.0")),
      way("delete", 2L, 2L, Nil),
      way("create", 3L, 1L, Nil, Map("length_m" -> "30.0")),
      way("modify", 3L, 2L, Nil, Map("length_m" -> "31.0"))).toDS().toDF()
    val batch1 = Seq(way("create", 2L, 3L, Nil, Map("length_m" -> "22.0"))).toDS().toDF()
    val after = OsmChange.applySnapshot(OsmChange.applySnapshot(prev, batch0), batch1)
    val got = after.select(col("id"), col("version"),
        element_at(col("tags"), "length_m").cast("double")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 11.0), (2L, 3L, 22.0), (3L, 2L, 31.0)))
  }

  test("stream_osc_apply (real .osc files) == stream_osm_upsert (MemoryStream): same dataflow") {
    val viaOsc = SparkEntry.queries("stream_osc_apply")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaMem = SparkEntry.queries("stream_osm_upsert")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaOsc == viaMem,
      s"wire-format lane diverged from MemoryStream lane: $viaOsc vs $viaMem")
    assert(viaOsc == Set((1L, 2L, 11.0), (2L, 3L, 22.0), (3L, 2L, 31.0)))
  }

  test("full reload == snapshot + diffs: diff∘apply reproduces the current element store") {
    import spark.implicits._
    // prev/current node stores with every change class the feed carries:
    // adds (ids 100-104 absent from prev), deletes (id 7 prev-only),
    // attribute edits (every 3rd node moves), plus untouched carry-over.
    val curr = ((1L to 50L).filter(_ != 7L).map { i =>
      node("x", i, if (i % 3 == 0) 2L else 1L,
           i * 1000L + (if (i % 3 == 0) 7L else 0L), -i * 500L,
           Map("name" -> s"n$i"))
    } ++ (100L to 104L).map(i => node("x", i, 1L, i, i))).toDS().drop("op").toDF()
    val prev = (1L to 50L).map { i =>
      node("x", i, 1L, i * 1000L, -i * 500L, Map("name" -> s"n$i"))
    }.toDS().drop("op").toDF()

    val delta = OsmChange.diff(prev, curr)
    // change classes are all present and correctly labeled
    val ops = delta.groupBy(col("op")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops("create") == 5L, s"adds: $ops")
    assert(ops("delete") == 1L, s"deletes: $ops")
    assert(ops("modify") == (1L to 50L).count(i => i % 3 == 0 && i != 7L), s"edits: $ops")

    // the diff survives the WIRE FORMAT: render -> file -> parse -> apply
    val tmp = Scratch.fresh("osc_diff")
    OsmChange.write(s"$tmp/diff.osc.gz",
      delta.as[OscRow].collect().sortBy(e => (e.elem_type, e.id)).toSeq, gzip = true)
    val applied = OsmChange.applySnapshot(prev, OsmChange.read(spark, tmp))

    val cols = curr.columns.sorted.map(c =>
      if (c == "tags") array_sort(map_entries(col(c))).as(c) else col(c))
    assert(applied.select(cols: _*).exceptAll(curr.select(cols: _*)).isEmpty,
      "applied rows not in current store")
    assert(curr.select(cols: _*).exceptAll(applied.select(cols: _*)).isEmpty,
      "current-store rows missing after apply")
  }
}
