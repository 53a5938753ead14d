package graft

import org.apache.spark.sql.types._

/** Driver-contract invariants (SURVEY.md §7.1). */
class EntrySpec extends GraftSuite {

  test("registry keys are unique") {
    val keys = SparkEntry.registry.map(_.key)
    assert(keys.size == keys.distinct.size,
           s"duplicate keys: ${keys.diff(keys.distinct).distinct}")
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  // VERDICT r16 #8 — the three inventory surfaces (SURVEY §2 rows, the
  // registry, the driver's CORRECTNESS report) must never desync. The
  // driver derives CORRECTNESS keys from the registry, so pinning
  // SURVEY §2 ≡ registry (minus `flagship`, which is §7) closes the
  // triangle; the declared "Inventory size: N" line is pinned too so a
  // new key can't land without bumping the headline count.
  test("SURVEY §2 keys are exactly the registry keys") {
    val lines = scala.io.Source.fromFile("SURVEY.md", "UTF-8").getLines().toVector
    val start = lines.indexWhere(_.startsWith("## 2."))
    val end = lines.indexWhere(l => l.startsWith("## ") && !l.startsWith("## 2."), start + 1)
    assert(start >= 0 && end > start, "SURVEY.md §2 section not found")
    val cell = """^\| (`[^|]+`) \|""".r
    val tick = """`([a-z0-9_]+)`""".r
    val surveyKeys = lines.slice(start, end).flatMap { l =>
      cell.findFirstMatchIn(l).toSeq.flatMap(m =>
        tick.findAllMatchIn(m.group(1)).map(_.group(1)))
    }
    assert(surveyKeys.size == surveyKeys.distinct.size,
           s"duplicate §2 rows: ${surveyKeys.diff(surveyKeys.distinct).distinct}")
    val survey = surveyKeys.toSet
    val registry = SparkEntry.queries.keySet - "flagship"
    val missing = survey -- registry
    val extra = registry -- survey
    assert(missing.isEmpty && extra.isEmpty,
           s"SURVEY §2 vs registry drift — in §2 only: $missing; in registry only: $extra")
    val declared = lines.collectFirst {
      case l if l.contains("**Inventory size**") =>
        """(\d+) keyed operators""".r.findFirstMatchIn(l).map(_.group(1).toInt)
    }.flatten
    assert(declared.contains(survey.size),
           s"SURVEY 'Inventory size' line says $declared, §2 enumerates ${survey.size}")
  }

  test("flagship entry returns rows on the smoke tier") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query executes at sf0.001", Heavy) {
    val failures = RegistrySweep.failures(RegistrySweep.pristine)
    assert(failures.isEmpty, s"queries failed: $failures")
  }

  // VERDICT r17 #1 — the driver canonicalizes EVERY registered key's
  // output through a pandas sort before hashing; a raw float/double
  // array cell arrives as numpy.ndarray (unhashable) and crashes the
  // record (the r17 emb_whitening/emb_pca_project err records). Pin the
  // contract: no registered query may emit a float/double array column
  // at any nesting depth — posexplode to (id, pos, value) rows instead.
  test("no registered query emits a float/double array column", Heavy) {
    def hasFloatArray(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case ArrayType(e, _)                      => hasFloatArray(e)
      case StructType(fs)                       => fs.exists(f => hasFloatArray(f.dataType))
      case MapType(k, v, _)                     => hasFloatArray(k) || hasFloatArray(v)
      case _                                    => false
    }
    // a key whose build failed has no schema: the previous test reports it
    val offenders = RegistrySweep.pristine.flatMap { case Swept(key, schema, _, _, _) =>
      val bad = schema.toSeq.flatMap(_.fields.filter(f => hasFloatArray(f.dataType)))
      if (bad.isEmpty) None else Some(key -> bad.map(_.name))
    }
    assert(offenders.isEmpty,
           s"driver-uncanonicalizable float-array output columns: $offenders")
  }
}
