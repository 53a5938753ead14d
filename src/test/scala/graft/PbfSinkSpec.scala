package graft

import graft.sources.{OsmPbf, OsmPbfSource}
import org.apache.spark.sql.functions._

/** DSv2 `.osm.pbf` sink semantics the round-trip oracle can't state:
  * the physical FILE layout contract (single-kind id-ascending blobs
  * with tight indexdata — what makes read-back blob-skippable), the
  * planner-enforced ordered distribution across part files, and the
  * commit protocol (a failing task must leave nothing visible).
  */
class PbfSinkSpec extends GraftSuite {

  private def sinkDir: String = {
    SparkEntry.queries("sink_pbf")(spark, sf).collect() // materialize once
    spark.conf.get(s"spark.sql.graft.pbfsinkdir:$sf") + "/out"
  }

  test("every part file is a valid pbf of single-kind, id-ascending blobs with tight indexdata") {
    val files = OsmPbfSource.listPbfFiles(sinkDir)
    assert(files.nonEmpty, "the sink must have produced part files")
    assert(!new java.io.File(sinkDir).listFiles().exists(_.getName.endsWith(".inprogress")),
      "no in-progress temp file may survive a committed write")
    for (f <- files; m <- OsmPbf.index(f)) {
      if (m.blobType == "OSMData") {
        val elems = OsmPbf.readBlock(f, m.offset, m.dataSize, OsmPbf.WantAll)
        assert(elems.nonEmpty)
        assert(elems.map(_.kind).distinct.length == 1, s"$f: blob mixes kinds")
        assert(elems.map(_.id).toSeq == elems.map(_.id).toSeq.sorted, s"$f: ids not ascending")
        assert(m.minId == elems.map(_.id).min && m.maxId == elems.map(_.id).max,
          s"$f: indexdata [${m.minId},${m.maxId}] not tight")
      }
    }
  }

  test("ordered distribution honored: part files cover disjoint ascending (kind, id) ranges") {
    val files = OsmPbfSource.listPbfFiles(sinkDir)
    def bounds(f: String): ((String, Long), (String, Long)) = {
      val metas = OsmPbf.index(f).filter(_.blobType == "OSMData")
      val first = OsmPbf.readBlock(f, metas.head.offset, metas.head.dataSize, OsmPbf.WantAll).head
      val last = OsmPbf.readBlock(f, metas.last.offset, metas.last.dataSize, OsmPbf.WantAll).last
      ((first.kind, first.id), (last.kind, last.id))
    }
    val bs = files.map(bounds)
    for (Seq(a, b) <- bs.sliding(2) if bs.length > 1) {
      val ord = implicitly[Ordering[(String, Long)]]
      assert(ord.lteq(a._1, a._2) && ord.lt(a._2, b._1),
        s"part files overlap in (kind, id): ${a._2} then ${b._1} — " +
          "the declared RequiresDistributionAndOrdering was not honored")
    }
  }

  test("a failing task leaves no visible file; temps are aborted away") {
    val dir = Scratch.fresh("pbf_abort")
    val rows = T.part(spark, sf).limit(50).select(
      col("p_partkey").as("element_id"),
      // one poison row deep in the partition: the writer has already
      // opened its temp file and flushed nothing visible when it throws
      when(col("p_partkey") === 13L, lit("bogus")).otherwise(lit("node")).as("kind"),
      (col("p_size").cast("long") * 100).as("lon_c"),
      round(col("p_retailprice") * 100).cast("long").as("lat_c"),
      typedLit(Map.empty[String, String]).as("tags"),
      expr("CAST(array() AS ARRAY<BIGINT>)").as("refs"))
    intercept[Exception] {
      rows.write.format("graft.sources.OsmPbfSource")
        .option("path", s"$dir/out").mode("overwrite").save()
    }
    val left = Option(new java.io.File(s"$dir/out").listFiles()).getOrElse(Array.empty)
    assert(!left.exists(_.getName.endsWith(".osm.pbf")),
      s"aborted write must not surface part files: ${left.map(_.getName).toSeq}")
  }

  private def nodeRows(n: Int, poisonNullCoord: Boolean = false) = {
    val base = T.part(spark, sf).limit(n).select(
      col("p_partkey").as("element_id"), lit("node").as("kind"),
      (col("p_size").cast("long") * 100).as("lon_c"),
      round(col("p_retailprice") * 100).cast("long").as("lat_c"),
      typedLit(Map.empty[String, String]).as("tags"),
      expr("CAST(array() AS ARRAY<BIGINT>)").as("refs"))
    if (poisonNullCoord)
      base.withColumn("lon_c",
        when(col("element_id") === 13L, lit(null).cast("long")).otherwise(col("lon_c")))
    else base
  }

  test("a node with NULL lon/lat fails loudly instead of landing at (0,0)") {
    val dir = Scratch.fresh("pbf_nullcoord")
    val ex = intercept[Exception] {
      nodeRows(50, poisonNullCoord = true).write
        .format("graft.sources.OsmPbfSource")
        .option("path", s"$dir/out").mode("overwrite").save()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(chain(ex).exists(_.contains("NULL lon_c/lat_c")),
      s"expected the NULL-coordinate guard to fire, got: ${chain(ex)}")
    val left = Option(new java.io.File(s"$dir/out").listFiles()).getOrElse(Array.empty)
    assert(!left.exists(_.getName.endsWith(".osm.pbf")),
      "the poisoned write must abort cleanly, not surface partial parts")
  }

  test("a failed overwrite preserves the PREVIOUS generation intact") {
    val dir = Scratch.fresh("pbf_gen")
    // generation 1: a clean committed write
    nodeRows(40).write.format("graft.sources.OsmPbfSource")
      .option("path", s"$dir/out").mode("overwrite").save()
    val gen1 = spark.read.format("graft.sources.OsmPbfSource")
      .load(s"$dir/out").orderBy("element_id").collect().map(_.getLong(0)).toSeq
    assert(gen1.nonEmpty)
    // generation 2: poisoned mid-write — every task aborts before commit()
    intercept[Exception] {
      nodeRows(50, poisonNullCoord = true).write
        .format("graft.sources.OsmPbfSource")
        .option("path", s"$dir/out").mode("overwrite").save()
    }
    val after = spark.read.format("graft.sources.OsmPbfSource")
      .load(s"$dir/out").orderBy("element_id").collect().map(_.getLong(0)).toSeq
    assert(after == gen1,
      "overwrite must be commit-atomic: a failed second write may not lose or alter gen-1 rows")
    assert(!new java.io.File(s"$dir/out").listFiles()
             .exists(_.getName.endsWith(".inprogress")),
      "aborted temps must be swept")
  }
}
