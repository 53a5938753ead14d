package graft

import org.apache.spark.sql.functions._

/** Property checks for the event-analytics and sampling keys added in
  * round 8 (`event_sessionize`, `event_funnel`, `sample_fixed_k`,
  * `multimodal_frame_sample`). All four are DuckDB-oracled — these specs
  * pin the SEMANTIC invariants the hash compare can't express (gap
  * contract, funnel monotonicity, exact stratum size, stride coverage).
  */
class EventOpsSpec extends GraftSuite {

  private def q(key: String) = SparkEntry.queries(key)(spark, sf)

  test("event_sessionize: sessions partition the log, gaps respect the 30-min contract") {
    val sessions = q("event_sessionize").collect()
    val nEvents = T.events(spark, sf).count()
    assert(sessions.map(_.getLong(2)).sum == nEvents,
      "every event must land in exactly one session")
    // within a user: sessions are disjoint, ordered, and split by > 30 min
    val byUser = sessions.groupBy(_.getLong(0))
    for ((u, ss) <- byUser) {
      val ordered = ss.sortBy(_.getLong(1))
      assert(ordered.map(_.getLong(1)).toSeq == (1L to ordered.length).toSeq,
        s"user $u session ids must be dense from 1")
      for (Array(prev, next) <- ordered.sliding(2).map(_.toArray)) {
        assert(prev.getLong(4) < next.getLong(3),
          s"user $u sessions must not overlap")
        assert(next.getLong(3) - prev.getLong(4) > 1800000L,
          s"user $u consecutive sessions must be split by > 30 min")
      }
      for (r <- ordered)
        assert(r.getLong(3) <= r.getLong(4), "session start <= end")
    }
  }

  test("event_sessionize: no intra-session gap exceeds 30 min (under-splitting guard)") {
    // The partition/ordering test above catches over-splitting; this one
    // catches UNDER-splitting (two sessions wrongly merged would leave a
    // > 30-min gap inside one session). The exact gap contract is an
    // equality: per user, #sessions == #(consecutive-event gaps > 30 min)
    // + 1, recomputed here independently from the raw event log.
    val gapMs = 1800000L
    val byUserEvents = T.events(spark, sf)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val nSessions = q("event_sessionize").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(nSessions.keySet == byUserEvents.keySet, "every active user sessionized")
    for ((u, times) <- byUserEvents) {
      val bigGaps = times.sliding(2).count(w => w.length == 2 && w(1) - w(0) > gapMs)
      assert(nSessions(u) == bigGaps + 1,
        s"user $u: ${nSessions(u)} sessions but ${bigGaps} >30-min gaps — " +
          "every big gap must split, nothing else may")
    }
  }

  test("event_funnel: stage populations are additive over a user partition") {
    // Funnel membership is decided per user independently, so splitting
    // the event log by user and summing per-stage counts must reproduce
    // the full-log counts EXACTLY. This guards the 24 h-hop boundary
    // logic (ms > ta, ms <= ta + 86400000): an off-by-one there shifts
    // stage membership identically in the split and full runs only if
    // the hop logic is a pure per-user function — any cross-user leak or
    // nondeterminism breaks the equality.
    val full = q("event_funnel").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ev = T.events(spark, sf)
    val halves = Seq(col("user_id") % 2 === 0, col("user_id") % 2 === 1).map { pred =>
      val dir = Scratch.fresh("funnel_half")
      ev.where(pred).write.mode("overwrite").parquet(s"$dir/events.parquet")
      SparkEntry.queries("event_funnel")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    for (stage <- 1L to 3L)
      assert(halves.map(_.getOrElse(stage, 0L)).sum == full(stage),
        s"stage $stage: halves ${halves.map(_.getOrElse(stage, 0L))} must sum to ${full(stage)}")
  }

  test("event_retention: cells are sound — disjoint, non-negative offsets, cohort-bounded") {
    val cells = q("event_retention").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cells.nonEmpty, "fixture has signup+purchase users at sf0.001")
    // one row per (cohort_day, day_offset); offsets never negative
    assert(cells.map(c => (c._1, c._2)).distinct.length == cells.length, "cells must be disjoint")
    assert(cells.forall(_._2 >= 0), "purchases before the cohort day are excluded")
    assert(cells.forall(_._3 > 0), "empty cells must not be emitted")
    // n_active in any cell is bounded by the cohort's signup population
    val cohortSize = T.events(spark, sf)
      .where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(floor(unix_millis(col("ts")) / 86400000L).cast("long")).as("cohort_day"))
      .groupBy(col("cohort_day")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((cohort, _, n) <- cells)
      assert(n <= cohortSize(cohort),
        s"cohort $cohort cell has $n actives > ${cohortSize(cohort)} signups")
  }

  test("event_funnel: stage populations are monotonically non-increasing") {
    val rows = q("event_funnel").collect().sortBy(_.getLong(0))
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "view"), (2L, "click"), (3L, "purchase")))
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"funnel must narrow: ${counts.mkString(",")}")
    assert(counts.head > 0, "stage 1 must be populated at sf0.001")
  }

  test("sample_fixed_k: exactly min(k, stratum size) rows per stratum, stable across runs") {
    val got = q("sample_fixed_k").collect().map(r => (r.getLong(0), r.getString(1)))
    val strata = T.documents(spark, sf).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    for ((lang, n) <- strata)
      assert(perLang.getOrElse(lang, 0) == math.min(20L, n),
        s"stratum $lang must yield exactly min(20, $n)")
    // reproducibility: the hash ranking admits no run-to-run variation
    val again = q("sample_fixed_k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == again.toSeq, "sample must be bit-stable across runs")
  }

  test("event_dau_rolling: per-day rolling distinct actives match an independent recompute") {
    val got = q("event_dau_rolling").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val userDays = T.events(spark, sf)
      .select(col("user_id"), floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val observedDays = userDays.map(_._2).distinct.sorted
    assert(got.keySet == observedDays.toSet, "one row per observed day, no phantom days")
    for (d <- observedDays) {
      val expected = userDays.filter(ud => ud._2 >= d - 6 && ud._2 <= d).map(_._1).distinct.length
      assert(got(d) == expected, s"day $d: rolling active_7d ${got(d)} != recomputed $expected")
    }
    // rolling window dominates the single day it ends on
    val daily = userDays.groupBy(_._2).view.mapValues(_.map(_._1).distinct.length).toMap
    for (d <- observedDays) assert(got(d) >= daily(d))
  }

  test("event_attribution: purchase counts are total and touches are genuine precedents") {
    val got = q("event_attribution").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = T.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val nPurchases = ev.count(_._3 == "purchase")
    assert(got.values.sum == nPurchases, "every purchase attributed exactly once")
    assert(!got.contains("purchase"), "a purchase never credits itself")
    // independent last-touch recompute per purchase
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._2))
      ordered.zipWithIndex.collect { case ((_, _, "purchase", _), i) =>
        ordered.take(i).reverse.find(_._3 != "purchase").map(_._3).getOrElse("none")
      }
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got == expected, s"attribution mismatch: $got vs $expected")
  }

  test("event_ohlc: bars are internally consistent and open/close match the sort order") {
    val bars = q("event_ohlc").collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    val ev = T.events(spark, sf)
      .select(col("event_type"), floor(unix_millis(col("ts")) / 3600000L).cast("long").as("hour"),
              col("value"), unix_millis(col("ts")).as("ms"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(bars.values.map(_._1).sum == ev.length, "bars partition the event log")
    for (((typ, hour), (n, low, high, open, close)) <- bars) {
      val cell = ev.filter(e => e._1 == typ && e._2 == hour).sortBy(e => (e._4, e._5))
      assert(cell.length == n)
      assert(low == cell.map(_._3).min && high == cell.map(_._3).max)
      assert(open == cell.head._3, s"($typ,$hour) open")
      assert(close == cell.last._3, s"($typ,$hour) close")
      assert(low <= math.min(open, close) && high >= math.max(open, close))
    }
  }

  test("event_path_topk: trigram paths match a per-user sliding recount") {
    val got = q("event_path_topk").collect().map(r => (r.getString(0), r.getLong(1)))
    val all = T.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r._3, r._4)).map(_._2).sliding(3).collect {
          case Array(a, b, c) => s"$a>$b>$c"
        }
      }.groupBy(p => p).view.mapValues(_.length.toLong).toMap
    assert(got.length == math.min(10, all.size))
    for ((path, f) <- got) assert(all(path) == f, s"path '$path' count")
    val expected = all.toSeq.sortBy { case (p, f) => (-f, p) }.take(10)
    assert(got.toSeq == expected, "top-10 cut must be deterministic")
  }

  test("multimodal_frame_sample: stride-10 frames bounded by the clip length") {
    val frames = q("multimodal_frame_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val clipLen = T.documents(spark, sf)
      .select(col("doc_id"), (col("n_chars") % 240).as("last"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frames.nonEmpty)
    for ((doc, idx, off) <- frames) {
      assert(idx % 10 == 0 && idx >= 0 && idx <= clipLen(doc),
        s"doc $doc frame $idx outside stride/bounds")
      assert(off == idx * 4096)
    }
    // coverage: every doc contributes exactly floor(last/10)+1 frames
    val perDoc = frames.groupBy(_._1).view.mapValues(_.length).toMap
    for ((doc, last) <- clipLen)
      assert(perDoc(doc) == (last / 10 + 1).toInt, s"doc $doc frame count")
  }

  test("event_rfm: the gated driver arm and the distributed arm are bit-interchangeable") {
    // The row-count gate picks the driver arm for a small user table and
    // the GlobalRank arm above it; the DuckDB oracle only ever sees one
    // arm (whichever the fixture size selects), so pin the equivalence
    // engine-side by running BOTH and diffing row-for-row.
    val u = operators.EventOps.rfmUsers(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val dist = rows(operators.EventOps.rfmDistributed(u))
    val drv = rows(operators.EventOps.rfmOnDriver(u))
    assert(dist.nonEmpty && dist == drv,
      "both event_rfm arms must produce identical rows, schema order included")
  }
}
