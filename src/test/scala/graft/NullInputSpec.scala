package graft

/** Null-payload robustness: at 100 TB the payload columns of a real
  * corpus carry NULLs — scraped text that failed extraction, embeddings
  * the encoder skipped, events with no value. An operator that NPEs on a
  * null payload (typically a custom expression whose eval assumes
  * non-null input) takes the whole job with it. This lane clones the
  * sf0.001 corpus with ~10% NULLs injected into every nullable PAYLOAD
  * column (never the join/identity keys — broken FKs are a different
  * failure class with fail-loud semantics) and asserts every batch key
  * still EXECUTES. Results may legitimately differ from the pristine
  * corpus; only crashes fail the lane.
  */
class NullInputSpec extends GraftSuite {

  test("representative null-sensitive keys stay green on the nulled corpus (quick lane)") {
    // single-key sibling of the Heavy sweep below (TagDisciplineSpec):
    // one key per null-divergence class fixed by the degraded-parity
    // lane (r19) — payload-hash sampler, null-quote asof, null-typed
    // event states, null-text doc fan-out
    val keys = Set("sample_split", "join_asof_tolerance", "event_markov", "text_chunk_overlap")
    val swept = RegistrySweep.sweep(spark, RegistrySweep.nulledDir,
      SparkEntry.registry.filter(q => keys(q.key)))
    assert(swept.map(_.key).toSet == keys)
    val failures = RegistrySweep.failures(swept)
    assert(failures.isEmpty, s"queries crashed on null payloads: $failures")
  }

  test("every batch query executes on a corpus with 10% null payloads", Heavy) {
    val failures = RegistrySweep.failures(RegistrySweep.nulled)
    assert(failures.isEmpty, s"queries crashed on null payloads: $failures")
  }
}
