package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests must not depend on session-level mutable state).
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.get("graft-test", n = 4)
  val sf: String = "/root/testdata/sf0.001"
}

/** Tag for the whole-registry sweeps, tri-scale probes, and streaming
  * soak tests (VERDICT r17 #7: suite wall clock grows linearly with the
  * key inventory — 321 tests → ~13 min). The per-commit lane runs
  * `sbt quickTest` (excludes these); the full matrix (`sbt test`) runs
  * at round close and before any driver hand-off. Tag a test Heavy when
  * it iterates the whole registry or runs a multi-batch streaming query;
  * every Heavy test must have a quick sibling covering the same code's
  * single-key path (the registry sweeps are breadth, not depth).
  */
object Heavy extends org.scalatest.Tag("graft.Heavy")

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
