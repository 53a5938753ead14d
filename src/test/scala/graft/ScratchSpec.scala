package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** [[Scratch.layout]] is the one build-once memo for operator layouts:
  * concurrent first calls build once and share the root, and the source
  * tree keeps no second spelling of the rule.
  */
class ScratchSpec extends GraftSuite {

  private def race[A](n: Int)(body: => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(n)
    try Await.result(Future.sequence((1 to n).map(_ => Future { barrier.await(); body })), 5.minutes)
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  private def orcDirs(): Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_orc")).map(_.getName).toSet

  test("source_orc: two concurrent first calls build the layout once and read one root") {
    // a dataset path no earlier test has memoized; source_orc reads only lineitem
    val d = Scratch.fresh("race_sf")
    Files.copy(Paths.get(sf, "lineitem.parquet"), Paths.get(d, "lineitem.parquet"))
    val q = SparkEntry.queries("source_orc")
    val before = orcDirs()
    try {
      val frames = race(2)(q(spark, d))
      val built = orcDirs() -- before
      assert(built.size == 1, s"layout dirs built: $built")
      val roots = frames.map(_.inputFiles.toSet)
      assert(roots.head.nonEmpty && roots.head == roots(1))
      assert(frames.head.collect().toSeq == frames(1).collect().toSeq)
    } finally spark.conf.unset(s"spark.sql.graft.orcdir:$d")
  }

  test("layout: memoized per (session, tag, dataset), built once under a race") {
    val builds = new AtomicInteger
    val d = s"scratch-spec-${System.nanoTime}"
    try {
      val roots = race(4)(Scratch.layout(spark, "spec", d) { dir =>
        builds.incrementAndGet()
        Files.write(Paths.get(dir, "marker"), Array[Byte](1))
      })
      assert(builds.get == 1)
      assert(roots.distinct.size == 1)
      assert(spark.conf.get(s"spark.sql.graft.specdir:$d") == roots.head)
      assert(Files.exists(Paths.get(roots.head, "marker")))
      assert(Scratch.layout(spark, "spec", d)(_ => builds.incrementAndGet()) == roots.head)
      assert(builds.get == 1)
    } finally spark.conf.unset(s"spark.sql.graft.specdir:$d")
  }

  test("fresh: a new empty graft_<tag>_ dir under java.io.tmpdir per call") {
    val a = Scratch.fresh("spec")
    val b = Scratch.fresh("spec")
    assert(a != b)
    Seq(a, b).foreach { p =>
      val f = new java.io.File(p)
      assert(f.isDirectory && f.list().isEmpty)
      assert(f.getParentFile.getCanonicalPath ==
        new java.io.File(sys.props("java.io.tmpdir")).getCanonicalPath)
      assert(f.getName.startsWith("graft_spec_"))
    }
  }

  test("source guard: scratch dirs and layout memos go through Scratch") {
    import SourceLines.hits
    // split literals, so this file does not match its own needles
    val confSet = ".conf" + ".set("
    val appEnd = "onApplication" + "End"
    val tempDir = "createTemp" + "Directory"
    val tmpProp = "java.io" + ".tmpdir"
    assert(hits("src/main/scala/graft/operators", confSet).isEmpty,
      hits("src/main/scala/graft/operators", confSet))
    assert(hits("src/main", appEnd).isEmpty, hits("src/main", appEnd))
    assert(hits("src/main", tmpProp).forall(_.contains("core.scala")), hits("src/main", tmpProp))
    val temp = Seq("src/main", "src/test").flatMap(hits(_, tempDir))
    assert(temp.map(h => Paths.get(h.split(':').head).getFileName.toString) == Seq("core.scala"), temp)
  }
}
