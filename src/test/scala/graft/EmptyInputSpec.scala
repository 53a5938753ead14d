package graft

import org.apache.spark.sql.functions.{col, expr}

/** Empty-input robustness: at 100 TB a partition batch, a fresh region,
  * or a filtered snapshot is routinely EMPTY, and an operator that
  * crashes on zero rows takes the whole job with it. Every registered
  * batch query must execute (not necessarily return rows) against a
  * corpus of empty tables with the production schemas.
  */
class EmptyInputSpec extends GraftSuite {

  private lazy val emptyDir: String = {
    val dir = Scratch.fresh("empty")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings")) {
      T(spark, sf, t).limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events: micros-ts variant (T.events handles both encodings)
    T.events(spark, sf).limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // streaming/behavioral demos drive their own MemoryStream fixtures and
  // the DSv2 source generates rows independent of the corpus dir
  private val skip = Set(
    "stream_watermark_late", "stream_stateful_custom", "stream_stream_join",
    "stream_transform_with_state",
    "sink_stream_foreachbatch", "source_stream_file", "source_dsv2")

  test("every batch query executes on empty inputs", Heavy) {
    val failures = SparkEntry.registry
      .filterNot(q => skip(q.key))
      .flatMap { q =>
        try { q.run(spark, emptyDir).count(); None }
        catch { case e: Throwable => Some(q.key -> e.toString.linesIterator.next()) }
      }
    assert(failures.isEmpty, s"queries crashed on empty inputs: $failures")
  }

  test("pipeline mains survive empty inputs") {
    val out = Scratch.fresh("empty_job")
    val raw = plans.CorpusCurationJob.normalize(T.documents(spark, emptyDir))
    val kept = raw.where(plans.CorpusCurationJob.qualityGate)
    val exact = plans.CorpusCurationJob.dedupExact(kept)
    val comps = plans.CorpusCurationJob.nearDupComponents(exact)
    val unique = exact.join(
        comps.where(expr("doc_id != rep")).select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("split", plans.CorpusCurationJob.splitOf(col("doc_id")))
    val packed = plans.CorpusCurationJob.packSequences(unique)
    packed.write.mode("overwrite").parquet(s"$out/corpus")
    assert(spark.read.parquet(s"$out/corpus").count() == 0)
    assert(packed.where(expr("pack_id IS NOT NULL AND FALSE")).count() == 0)
  }
}
