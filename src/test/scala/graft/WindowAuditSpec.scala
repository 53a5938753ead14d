package graft

/** Global-window boundedness audit (VERDICT r19 item 6).
  *
  * An unpartitioned window (`Window.orderBy` with no partitionBy) moves
  * its entire input through ONE task — WindowExec warns "No Partition
  * Defined" at runtime. On a bounded intermediate (a vocab top-k, a
  * calendar spine, a |langs|-sized remainder table) that is a deliberate,
  * safe device; on a corpus-sized stream it is a 100 TB driver-killer.
  *
  * This audit walks every registered query's OPTIMIZED logical plan at
  * sf0.001 (the pristine [[RegistrySweep]]) and collects the keys that
  * carry at least one Window node with an empty partitionSpec. The
  * whitelist below is the audit: every entry is annotated with the
  * boundedness argument for its global window(s). A NEW key appearing
  * here fails the suite until its window is either partitioned or
  * argued bounded in this file.
  *
  * Limitation, stated: subtrees materialized during query BUILD
  * (localCheckpoint) are opaque to the final plan, so their windows are
  * audited at their own build sites (they are also swept here whenever
  * the checkpoint happens lazily). The runtime WindowExec warning count
  * in a verify log can exceed the key count because one key may plan
  * the same window several times (AQE re-planning, reused subtrees).
  */
class WindowAuditSpec extends GraftSuite {

  /** key -> boundedness argument for every global window in its plan.
    * "bounded by K" means the window input row count is ≤ K regardless
    * of corpus size, so the single-task window is safe at any scale.
    */
  private val boundedGlobalWindows: Map[String, String] = Map(
    "event_ab_mwu" -> ("cumulative tie-rank window over the metric-DOMAIN table " +
      "(one row per distinct per-user purchase count — bounded by the metric's " +
      "value domain, never |users|; the code comment documents the k-bounded " +
      "window exception)"),
    "event_cusum" -> ("prefix-sum + row_number over the DAILY volume table — " +
      "calendar-bounded (≤ a few hundred rows at any corpus size; facts collapse " +
      "to per-day rows first)"),
    "event_survival_km" -> ("at-risk / cumulative-hazard windows over the " +
      "duration-domain table: dur is clamped to {0..5} by the 5-day horizon, " +
      "so the window input is ≤ 6 rows regardless of |users|"),
    "osm_bbox_union_area" -> ("lead() over the DISTINCT strip x-boundaries — " +
      "axis-bounded: endpoints live on the clamped coordinate grid " +
      "([0, 100000] after the tile clamp), so the list size is bounded by the " +
      "coordinate domain, not the way count"),
    "sample_neyman" -> ("largest-remainder rank over the per-STRATUM allocation " +
      "table (one row per lang — |strata|-bounded)"),
    "sim_rrf_fusion" -> ("rank windows run AFTER limit(20) top-k cuts — each " +
      "window input is exactly ≤ 20 rows (the code comment: rank windows only " +
      "ever run over k-bounded tables)"),
    "text_zipf_fit" -> ("row_number over the limit(100) head of the frequency " +
      "table — 100 rows by construction; the corpus collapse happens in the " +
      "groupBy before the cut"),
    "tokenizer_coverage_curve" -> ("rank + running-sum windows after the " +
      "limit(30) cut — ≤ 30 rows (code comment: 'the cut IS the bound')")
  )

  // quick sibling (TagDiscipline): the audit map stays in sync with the
  // registry, and one known global-window site is spot-checked so the
  // collector logic itself has non-Heavy coverage.
  test("audit map keys are registered; event_cusum's calendar window is global") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(boundedGlobalWindows.keySet.subsetOf(SparkEntry.queries.keySet),
      s"audit entries for unregistered keys: " +
        s"${boundedGlobalWindows.keySet -- SparkEntry.queries.keySet}")
    val plan = SparkEntry.queries("event_cusum")(spark, sf)
      .queryExecution.optimizedPlan
    assert(plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty,
      "event_cusum's daily prefix-sum window should plan unpartitioned " +
        "(calendar-bounded input — see the audit map)")
  }

  test("every unpartitioned window rides a documented bounded source", Heavy) {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // a key whose plan fails to build hides its windows from the audit,
    // so each such key is collected and reported, never skipped
    val swept = RegistrySweep.pristine
    val unplanned = swept.collect { case Swept(key, _, None, _, e) => key -> e.getOrElse("") }
    val offenders = swept.collect {
      case Swept(key, _, Some(plan), _, _)
          if plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty => key
    }.toSet
    assert(unplanned.isEmpty, s"plans the window audit could not build: $unplanned")
    val undocumented = offenders -- boundedGlobalWindows.keySet
    val stale = boundedGlobalWindows.keySet -- offenders
    assert(undocumented.isEmpty && stale.isEmpty,
      s"window audit drift — NEW unpartitioned windows with no boundedness " +
        s"argument (add to the audit map with a proof, or partition them): " +
        s"${undocumented.toSeq.sorted}; stale audit entries whose global window " +
        s"no longer exists (remove): ${stale.toSeq.sorted}; full offender set: " +
        s"${offenders.toSeq.sorted}")
  }
}
