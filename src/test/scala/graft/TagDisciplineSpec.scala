package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanizes the Heavy-tagging rule that was previously only a comment
  * at the tag's definition (TestBase.scala; VERDICT r18 #7): every suite
  * that carries a `graft.Heavy` whole-registry sweep / soak test must
  * ALSO carry at least one quick (untagged) test, so the per-commit
  * `sbt quickTest` lane never silently loses a suite's entire coverage
  * when its breadth test gets tagged.
  *
  * The scan is reflective over the compiled test classes — a new suite
  * is audited the moment it exists, with no registration step to forget.
  */
class TagDisciplineSpec extends AnyFunSuite {

  private def suiteClasses: Seq[Class[_]] = {
    val dir = new java.io.File("target/scala-2.13/test-classes/graft")
    assert(dir.isDirectory, s"test-classes dir missing: $dir")
    dir.listFiles()
      .map(_.getName)
      .filter(n => n.endsWith("Spec.class") && !n.contains("$"))
      .map(n => Class.forName("graft." + n.stripSuffix(".class")))
      .filter(c => classOf[org.scalatest.Suite].isAssignableFrom(c) &&
                   !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .toSeq
  }

  test("every suite with a Heavy-tagged test keeps a quick (non-Heavy) sibling") {
    val suites = suiteClasses
    assert(suites.size >= 10, s"suspiciously few suites scanned: ${suites.map(_.getName)}")
    val startedBefore = RegistrySweep.started
    var heavySuites = 0
    val offenders = suites.flatMap { cls =>
      val s = cls.getDeclaredConstructor().newInstance().asInstanceOf[org.scalatest.Suite]
      val heavy = s.tags.collect { case (t, tags) if tags("graft.Heavy") => t }.toSet
      if (heavy.isEmpty) None
      else {
        heavySuites += 1
        if (s.testNames.exists(t => !heavy(t))) None else Some(cls.getName)
      }
    }
    assert(RegistrySweep.started == startedBefore,
      "constructing a suite must not start a registry sweep (read it inside a Heavy test)")
    assert(heavySuites >= 5,
      s"the Heavy lane shrank unexpectedly ($heavySuites suites) — did the tag move?")
    assert(offenders.isEmpty,
      s"suites whose ENTIRE coverage is Heavy-tagged (quickTest would skip them " +
        s"completely — add a quick single-key sibling): ${offenders.mkString(", ")}")
  }
}
