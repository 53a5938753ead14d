package graft

import org.apache.spark.sql.functions.{col, expr}

/** Empty-input robustness: at 100 TB a partition batch, a fresh region,
  * or a filtered snapshot is routinely EMPTY, and an operator that
  * crashes on zero rows takes the whole job with it. Every registered
  * batch query must execute (not necessarily return rows) against a
  * corpus of empty tables with the production schemas.
  */
class EmptyInputSpec extends GraftSuite {

  test("every batch query executes on empty inputs", Heavy) {
    val failures = RegistrySweep.failures(RegistrySweep.empty)
    assert(failures.isEmpty, s"queries crashed on empty inputs: $failures")
  }

  test("pipeline mains survive empty inputs") {
    val out = Scratch.fresh("empty_job")
    val raw = plans.CorpusCurationJob.normalize(T.documents(spark, RegistrySweep.emptyDir))
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
