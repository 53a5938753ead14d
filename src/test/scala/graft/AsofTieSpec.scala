package graft

import org.apache.spark.sql.functions._

/** Planted duplicate-timestamp fixture for the as-of family (closes the
  * ADVICE r16 residual: the synthetic corpus has ZERO duplicate
  * (user_id, ts) quote pairs, so the tie-break pins were verified by
  * construction, never by data). Three quotes share one timestamp; each
  * key's documented winner is asserted from first principles:
  *
  *  - `join_asof` / `join_asof_tolerance`: arg_max(ms·10⁷ + qid) —
  *    latest ts, ties to the MAX qid;
  *  - `join_asof_forward`: arg_min(ms·10⁷ + qid) — earliest ts ≥,
  *    ties to the MIN qid;
  *  - `join_asof_native`: max ts, ties to the MAX VALUE (the exec's
  *    declared right-side ordering ends on the value column).
  */
class AsofTieSpec extends GraftSuite {

  private lazy val dir: String = {
    val d = Scratch.fresh("asof_tie")
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
    def at(minutes: Int) = new java.sql.Timestamp(t0.getTime + minutes * 60000L)
    val rows = Seq(
      // user 1 quotes: one early, three SHARING t0, two sharing t0+60
      (5L, at(-60), 1L, "view", 9.0, null.asInstanceOf[String]),
      (10L, at(0), 1L, "view", 1.0, null.asInstanceOf[String]),
      (11L, at(0), 1L, "click", 5.0, null.asInstanceOf[String]),
      (12L, at(0), 1L, "view", 3.0, null.asInstanceOf[String]),
      (20L, at(60), 1L, "click", 7.0, null.asInstanceOf[String]),
      (21L, at(60), 1L, "view", 2.0, null.asInstanceOf[String]),
      // trades: one ON the tie group, one between the groups
      (100L, at(0), 1L, "purchase", 0.0, null.asInstanceOf[String]),
      (101L, at(30), 1L, "purchase", 0.0, null.asInstanceOf[String]))
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private def values(key: String, valueCol: String): Map[Long, Double] =
    SparkEntry.queries(key)(spark, dir)
      .select(col("trade_id"), col(valueCol)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("join_asof: equal-timestamp quotes resolve to the MAX qid") {
    // trade 100 at t0: quotes {10→1.0, 11→5.0, 12→3.0} all at t0 — max qid 12 wins
    // trade 101 at t0+30: same t0 group is the latest ≤ — still qid 12
    assert(values("join_asof", "quote_value") == Map(100L -> 3.0, 101L -> 3.0))
  }

  test("join_asof_tolerance: same winner, exact ages") {
    val out = SparkEntry.queries("join_asof_tolerance")(spark, dir)
      .select(col("trade_id"), col("quote_value"), col("quote_age_ms")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out == Map(100L -> ((3.0, 0L)), 101L -> ((3.0, 1800000L))))
  }

  test("join_asof_forward: equal-timestamp quotes resolve to the MIN qid") {
    // trade 100 at t0: inclusive ≥ sees the t0 group — min qid 10 wins (1.0)
    // trade 101 at t0+30: next group is t0+60 — min qid 20 wins (7.0)
    assert(values("join_asof_forward", "next_quote") == Map(100L -> 1.0, 101L -> 7.0))
  }

  test("join_asof_native: equal-timestamp quotes resolve to the MAX value") {
    assert(values("join_asof_native", "quote_value") == Map(100L -> 5.0, 101L -> 5.0))
  }
}
