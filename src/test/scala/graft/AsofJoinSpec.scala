package graft

import org.apache.spark.sql.functions._

/** The custom AsofJoinExec's value-handling contract, beyond what the
  * shared DuckDB oracle (double-typed `value`) can exercise: the right
  * value carried across merge-scan state must be DEEP-COPIED on store
  * (AsofJoin.scala — InternalRow.copyValue). Sort/shuffle iterators
  * reuse their backing UnsafeRow, so a borrowed UTF8String would be
  * silently repointed at the NEXT right row's bytes; primitives never
  * exhibited the bug, which is why a STRING value column under a real
  * exchange+sort is the regression trap.
  */
class AsofJoinSpec extends GraftSuite {

  test("string value column survives UnsafeRow reuse under a real exchange+sort") {
    val ev = T.events(spark, sf)
    val trades = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("trade_id"), col("user_id"),
              unix_millis(col("ts")).as("ms"))
    // every quote's value is a row-unique string: a repointed buffer
    // cannot collide with the right answer by accident
    val quotes = ev.where(col("event_type").isin("view", "click"))
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
              concat(lit("q_"), col("event_id"), lit("_"),
                     col("event_type")).as("qtag"))
    val native = org.apache.spark.sql.graft.Asof
      .join(trades, quotes, "user_id", "ms", "qtag", "asof_tag")
      .collect().map(r => (r.getLong(0), Option(r.get(3)))).toMap

    // independent truth: per-trade latest quote at-or-before, computed
    // by a plain groupBy over the range-joined pairs (tie on ms broken
    // by max qtag, matching the exec's (key, time, value) sort order)
    val truth = trades.join(quotes.withColumnRenamed("ms", "qms"), Seq("user_id"))
      .where(col("qms") <= col("ms"))
      .groupBy(col("trade_id"))
      .agg(max_by(col("qtag"), struct(col("qms"), col("qtag"))).as("want"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    assert(native.nonEmpty && truth.nonEmpty)
    for ((tid, got) <- native) {
      assert(got == truth.get(tid),
        s"trade $tid: native as-of returned $got, independent truth ${truth.get(tid)} — " +
          "a mismatch here means the merge-scan's stored value was repointed by UnsafeRow reuse")
    }
    // and the unmatched-trade (NULL) population agrees too
    assert(native.count(_._2.isEmpty) == (native.size - truth.size),
      "left-outer NULL rows must be exactly the trades with no at-or-before quote")
  }

  test("non-bigint key/time still fails loudly (contract pin)") {
    val ev = T.events(spark, sf).limit(10)
    val bad = ev.select(col("event_id").cast("int").as("k"),
                        unix_millis(col("ts")).as("ms"), col("value"))
    val good = ev.select(col("event_id").as("k"),
                         unix_millis(col("ts")).as("ms"), col("value"))
    val ex = intercept[Exception] {
      org.apache.spark.sql.graft.Asof.join(bad, good, "k", "ms", "value", "v").collect()
    }
    assert(ex.toString.contains("BIGINT") || ex.getCause != null &&
             ex.getCause.toString.contains("BIGINT"),
      s"an int key must trip the BIGINT contract require, got: $ex")
  }

  test("Asof.join and Ranged.join racing on a fresh session install each strategy once") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graft.{Asof, AsofJoinStrategy, RangeJoinStrategy, Ranged}
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try {
      for (_ <- 1 to 100) {
        val fresh = spark.newSession()
        val start = new CyclicBarrier(threads)
        val joins = (0 until threads).map { i =>
          pool.submit(new Callable[DataFrame] {
            def call(): DataFrame = {
              val df = fresh.range(8).selectExpr("id % 2 AS k", "id AS t", "id AS v")
              start.await()
              if (i % 2 == 0) Asof.join(df, df, "k", "t", "v", "w")
              else Ranged.join(df, df, "k", "t", "v", "w", 1L)
            }
          })
        }
        joins.foreach(_.get())
        val installed = fresh.experimental.extraStrategies
        assert(installed.count(_ == AsofJoinStrategy) == 1 &&
               installed.count(_ == RangeJoinStrategy) == 1,
          s"each join strategy must be installed exactly once, got $installed")
      }
    } finally pool.shutdown()
  }
}
