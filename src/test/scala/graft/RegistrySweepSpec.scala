package graft

/** The whole-registry fixture itself ([[RegistrySweep]], TestBase.scala),
  * on hand-made queries so no corpus is swept. */
class RegistrySweepSpec extends GraftSuite {

  test("sweep keeps each key's schema, plans and first failure, in order") {
    val qs = Seq(
      Q.smoke("ok") { (s, _) => s.range(3).toDF("id") },
      Q.smoke("build_throws") { (_, _) => throw new IllegalStateException("no build") },
      Q.smoke("write_throws") { (s, _) => s.range(3).selectExpr("assert_true(id < 0) AS x") })
    val swept = RegistrySweep.sweep(spark, sf, qs)
    assert(swept.map(_.key) == qs.map(_.key))
    val Seq(ok, build, write) = swept
    assert(ok.schema.map(_.fieldNames.toSeq).contains(Seq("id")))
    assert(ok.optimized.isDefined && ok.executed.isDefined && ok.error.isEmpty)
    assert(build.schema.isEmpty && build.optimized.isEmpty && build.executed.isEmpty)
    assert(build.error.exists(_.contains("no build")), build.error)
    assert(write.schema.map(_.fieldNames.toSeq).contains(Seq("x")))
    assert(write.optimized.isDefined && write.executed.isDefined && write.error.isDefined)
    assert(RegistrySweep.failures(swept).map(_._1) == Seq("build_throws", "write_throws"))
  }

  test("source guard: registry queries run only in RegistrySweep") {
    // a job main's `run` is not a registry query
    val runs = SourceLines.hits("src/test", ".run(" + "spark").toSet --
      SourceLines.hits("src/test", "Job.run(" + "spark")
    assert(runs.nonEmpty && runs.forall(_.startsWith("src/test/scala/graft/TestBase.scala:")),
      s"whole-registry loops belong in RegistrySweep, found: ${runs.toSeq.sorted}")
  }
}
