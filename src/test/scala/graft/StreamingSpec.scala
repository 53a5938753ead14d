package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** Behavioral streaming semantics (SURVEY.md §5.4): what the DuckDB oracle
  * cannot express — watermark drops and custom state — asserted over real
  * MemoryStream micro-batches.
  */
class StreamingSpec extends GraftSuite {

  test("append-mode windowed agg drops events behind the watermark") {
    val rows = StreamingOps.runWatermarkLateDemo(spark)
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
      .toSet
    // user 1 sent one on-time event at 10:00 and one LATE event (batch 3,
    // behind the advanced watermark) into the same 10:00 window: the late
    // one must NOT be counted.
    val user1w10 = rows.filter(t => t._1.startsWith("2024-01-01 10:00") && t._2 == 1L)
    assert(user1w10.map(_._3) == Set(1L), s"late event leaked into closed window: $rows")
  }

  test("flatMapGroupsWithState accumulates per-user counters across micro-batches") {
    val rows = StreamingOps.runStatefulCounterDemo(spark)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows(1L) == ((2L, 7.0)), s"user 1 state wrong: ${rows(1L)}")
    assert(rows(2L) == ((1L, 3.0)), s"user 2 state wrong: ${rows(2L)}")
  }

  test("transformWithState (v2) matches the flatMapGroupsWithState counters on the shared fixture") {
    val rows = StreamingOps.runTransformWithStateDemo(spark)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows(1L) == ((2L, 7.0)), s"user 1 state wrong: ${rows(1L)}")
    assert(rows(2L) == ((1L, 3.0)), s"user 2 state wrong: ${rows(2L)}")
  }

  test("stream_ewma: recursive fold carries across micro-batches and is batch-split invariant") {
    import StreamingOps.Ev
    def mk(minute: Int, user: Long, v: Double) =
      Ev(java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), user, v)
    // interleaved by time so the take(3) split below cuts BOTH users'
    // sequences mid-stream (the cross-batch carry is what's under test)
    val events = Seq(mk(0, 1L, 2.0), mk(0, 2L, 10.0), mk(1, 1L, 6.0),
                     mk(1, 2L, 20.0), mk(2, 1L, 4.0), mk(2, 2L, 30.0))
    // driver-side sequential fold over the ts-ordered per-user sequence
    def fold(vs: Seq[Double]): Double =
      vs.tail.foldLeft(vs.head)((e, v) => 0.5 * v + 0.5 * e)
    val want = events.groupBy(_.user_id).map { case (u, es) =>
      u -> fold(es.sortBy(_.ts.getTime).map(_.value))
    }
    def run(batches: Seq[Seq[Ev]]): Map[Long, (Long, Double)] =
      StreamingOps.runEwmaDemo(spark, batches)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // split A: by time; split B: everything in one batch; split C: per user
    val a = run(Seq(events.take(3), events.drop(3)))
    val b = run(Seq(events))
    val c = run(Seq(events.filter(_.user_id == 1L), events.filter(_.user_id == 2L)))
    Seq(a, b, c).foreach { got =>
      want.foreach { case (u, w) =>
        assert(got(u)._1 == 3L, s"user $u: wrong event count ${got(u)._1}")
        assert(got(u)._2 == w, s"user $u: ewma ${got(u)._2} != sequential fold $w")
      }
    }
    // the recursion genuinely weights recency: user 1 saw 2,6,4 →
    // ewma 4.0, NOT the plain mean 4.0... pick user 2 (10,20,30 →
    // 0.25·10 + 0.25·20 + 0.5·30 = 22.5 > mean 20) to pin the tilt
    assert(b(2L)._2 > 20.0, "ewma must tilt toward recent values vs the plain mean")
  }

  test("two streaming keys on one session from two threads leave its confs untouched") {
    // Each demo sets its confs on a session of its own; the caller's
    // session must read the same values throughout and afterwards.
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    def confs() = keys.map(spark.conf.getOption)
    val before = confs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val runs = try {
      val fs = Seq("stream_transform_with_state", "stream_watermark_late").map { key =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = (1 to 2).map(_ => SparkEntry.queries(key)(spark, sf).count()).sum
        })
      }
      val seen = scala.collection.mutable.Set.empty[Seq[Option[String]]]
      while (!fs.forall(_.isDone)) { seen += confs(); Thread.sleep(5) }
      assert(seen.forall(_ == before), s"caller confs changed mid-run: $seen vs $before")
      fs.map(_.get())
    } finally pool.shutdown()
    assert(runs.forall(_ > 0))
    assert(confs() == before, s"caller confs changed: ${confs()} vs $before")
  }

  test("stream_count_min: micro-batch-merged sketch is bit-identical to the batch sketch") {
    val rows = streaming.StreamingOps.runCountMinMergeDemo(spark).collect()
    assert(rows.length == 60)
    // mergeability: cell-wise adds with a pinned seed make the staged
    // merge indistinguishable from one batch fold
    assert(rows.forall(r => r.getLong(1) == r.getLong(2)),
      "merged stream sketch must equal the batch sketch on every probe")
    // one-sided CMS bound: estimates never undercount
    assert(rows.forall(r => r.getLong(1) >= r.getLong(3)),
      "count-min estimates must dominate the exact counts")
  }

  test("stream-stream interval join matches in-window pairs and excludes out-of-window") {
    val rows = StreamingOps.runStreamStreamJoinDemo(spark)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    // view 100 (user 1, 10:00) + buy 900 (10:05) → in window, joins.
    // view 200 (user 2, 10:00) + buy 901 (10:30) → outside 10 min, NO join.
    // view 201 (user 2, 10:25) + buy 901 (10:30) → in window, joins.
    assert(rows == Set((1L, 100.0, 900.0), (2L, 201.0, 901.0)), s"got $rows")
  }

  test("batch twins run unchanged as streaming queries (tumbling over a file stream)") {
    // The very same StreamingOps.tumbling plan, driven incrementally from a
    // file source, must reach the batch answer once all data is consumed.
    val base = java.nio.file.Paths.get(Scratch.fresh("stream_twin"))
    val src = base.resolve("src"); java.nio.file.Files.createDirectories(src)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "events.parquet"), src.resolve("events.parquet"))
    // events.ts physical type varies by fixture generation (nanos-long /
    // NTZ micros) → same schema-driven normalization as the batch loader
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val rawSchema = spark.read.parquet(src.toString).schema
      val stream = T.normalizeEventTs(
        spark.readStream.schema(rawSchema).parquet(src.toString))
      val q = StreamingOps.tumbling(stream)
        .writeStream.format("memory").queryName("twin_tumbling")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table("twin_tumbling")
        .orderBy(col("window_start"), col("event_type")).collect().toSeq
      val batch = StreamingOps.tumbling(T.events(spark, sf))
        .orderBy(col("window_start"), col("event_type")).collect().toSeq
      assert(streamed == batch)
    }
  }

  test("stream_osm_upsert: continuous replication apply reaches the hand-computed lake state") {
    val got = SparkEntry.queries("stream_osm_upsert")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // v0 = {1:(v1,10), 2:(v1,20)}; batch 0 updates 1, deletes 2, inserts
    // 3 twice (max-version 31.0 must win); batch 1 re-inserts 2.
    assert(got.toSet == Set((1L, 2L, 11.0), (2L, 3L, 22.0), (3L, 2L, 31.0)),
      s"lake state after two replication batches: ${got.toSeq}")
  }
}
