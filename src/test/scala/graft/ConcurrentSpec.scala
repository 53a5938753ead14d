package graft

import graft.plans.Concurrent

/** The branch runner behind the concurrent lake writes and table loads. */
class ConcurrentSpec extends GraftSuite {

  test("all: ordered results, inherited local properties, scoped job descriptions") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.tag", "caller")
    sc.setJobDescription("outer")
    try {
      val seen = Concurrent.all(
        () => sc.getLocalProperty("graft.test.tag"),
        () => Concurrent.described(spark, "inner") { sc.getLocalProperty("spark.job.description") },
        () => spark.range(100).count().toString)
      assert(seen === Seq("caller", "inner", "100"))
      assert(sc.getLocalProperty("spark.job.description") === "outer")
      assert(Concurrent.described(spark, "inner")(1) === 1)
      assert(sc.getLocalProperty("spark.job.description") === "outer")
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.setJobDescription(null)
    }
  }

  test("all: waits for every branch, rethrows the first failure with the rest suppressed") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val firstThrown = new java.util.concurrent.CountDownLatch(1)
    val err = intercept[RuntimeException] {
      Concurrent.all(
        () => { firstThrown.countDown(); throw first },
        () => { firstThrown.await(); Thread.sleep(300); throw second },
        () => { Thread.sleep(600); slowDone.set(true) })
    }
    assert(slowDone.get, "all returned before its slowest branch ended")
    assert(err eq first)
    assert(err.getSuppressed.toSeq === Seq(second))
  }
}
