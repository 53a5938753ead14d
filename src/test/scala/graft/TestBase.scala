package graft

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests must not depend on session-level mutable state).
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.get("graft-test", n = 4)
  val sf: String = "/root/testdata/sf0.001"
}

/** Tag for the whole-registry sweeps, tri-scale probes, and streaming
  * soak tests. The tier-1 command (`testOnly *`) runs every test; the
  * per-commit lane `sbt quickTest` excludes these. Tag a test Heavy when
  * it reads a [[RegistrySweep]] corpus or runs a multi-batch streaming
  * query; every Heavy test must have a quick sibling covering the same
  * code's single-key path (TagDisciplineSpec; the registry sweeps are
  * breadth, not depth).
  */
object Heavy extends org.scalatest.Tag("graft.Heavy")

/** One registry key's pass over one corpus. A key whose build fails
  * keeps no schema and no plans; `error` is the first line of the first
  * failure, whether of the build, the planning or the `noop` write. */
final case class Swept(key: String, schema: Option[StructType],
                       optimized: Option[LogicalPlan], executed: Option[SparkPlan],
                       error: Option[String])

/** The one whole-registry sweep. Each corpus (pristine sf0.001, the same
  * with ~10% null payloads, and empty tables with the production schemas)
  * is swept at most once per JVM, by the first Heavy test that reads it:
  * every key is built once, its optimized and executed plans are forced,
  * and its result is materialized with a `noop` write. Under count()
  * Catalyst prunes final Sorts, Windows, joins and fused kernels; the
  * write runs the whole plan.
  *
  * Keys run on a fixed pool of driver threads, which overlap one key's
  * planning and job launch with another's tasks on the local[4] session.
  * Corpora are swept one after another (the lazy vals of one object
  * initialize under its lock), because the SQL keys register the base
  * tables as session temp views over their corpus dir; [[Caches]] is
  * drained between corpora.
  */
object RegistrySweep {
  private val threads = 3

  /** Keys the nulled and empty corpora leave out: the streaming demos
    * drive their own MemoryStream fixtures and the DSv2 source generates
    * rows independent of the corpus dir, so another corpus changes
    * nothing for them. The fail-loud keys (tokenizer lanes, multimodal
    * codecs) stay in: their isNotNull guards drop a null payload row
    * before the require() kernels see it. */
  val skip: Set[String] = Set(
    "stream_watermark_late", "stream_stateful_custom", "stream_stream_join",
    "stream_transform_with_state",
    "sink_stream_foreachbatch", "source_stream_file", "source_dsv2")

  /** Degraded clone of sf0.001 (DegradedCorpus, shared with the
    * oracle-parity lane). */
  lazy val nulledDir: String = {
    val dir = Scratch.fresh("nulls")
    DegradedCorpus.write(TestSpark.spark, TestSpark.sf, dir)
    dir
  }

  lazy val emptyDir: String = {
    val spark = TestSpark.spark
    val dir = Scratch.fresh("empty")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings")) {
      T(spark, TestSpark.sf, t).limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events: micros-ts variant (T.events handles both encodings)
    T.events(spark, TestSpark.sf).limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  lazy val pristine: Seq[Swept] = corpus("pristine", TestSpark.sf, SparkEntry.registry)
  lazy val nulled: Seq[Swept] = corpus("nulled", nulledDir, batch)
  lazy val empty: Seq[Swept] = corpus("empty", emptyDir, batch)

  private def batch: Seq[Q] = SparkEntry.registry.filterNot(q => skip(q.key))

  private val began = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Names of the corpora whose sweep has started in this JVM. */
  def started: Seq[String] = synchronized(began.toList)

  private def corpus(name: String, dir: String, qs: Seq[Q]): Seq[Swept] = {
    synchronized(began += name)
    try sweep(TestSpark.spark, dir, qs) finally Caches.drain()
  }

  /** Runs every `Q` in `qs` over `dir`, in `qs` order. */
  def sweep(spark: SparkSession, dir: String, qs: Seq[Q]): Seq[Swept] = {
    val pool = Executors.newFixedThreadPool(threads)
    try qs.toVector.map { q =>
        pool.submit(new Callable[Swept] { def call(): Swept = one(spark, dir, q) })
      }.map(_.get())
    finally pool.shutdown()
  }

  def failures(swept: Seq[Swept]): Seq[(String, String)] =
    swept.collect { case Swept(key, _, _, _, Some(e)) => key -> e }

  private def one(spark: SparkSession, dir: String, q: Q): Swept = {
    def msg(e: Throwable) = e.toString.linesIterator.nextOption().getOrElse("").take(200)
    try {
      val df = q.run(spark, dir)
      val qe = df.queryExecution
      val built = Swept(q.key, Some(df.schema), Some(qe.optimizedPlan), Some(qe.executedPlan), None)
      try { df.write.format("noop").mode("overwrite").save(); built }
      catch { case e: Throwable => built.copy(error = Some(msg(e))) }
    } catch { case e: Throwable => Swept(q.key, None, None, None, Some(msg(e))) }
  }
}

/** Source guards: the `file:line` of every line under `dir` (Scala
  * sources) that contains `needle`. Guards split their needle literals so
  * the guarding spec does not match itself. */
object SourceLines {
  def hits(dir: String, needle: String): Seq[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    files.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$p:${i + 1}"
      }
    }
  }
}

abstract class GraftSuite extends AnyFunSuite {
  protected lazy val spark: SparkSession = TestSpark.spark
  protected val sf: String = TestSpark.sf

  /** Runs `body` with the given session confs set, then puts each key
    * back to its previous value (unset only if it had none), so a test
    * never leaks a conf into, or strips a default from, later suites. */
  protected def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.reverse.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
