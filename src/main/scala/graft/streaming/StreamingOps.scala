package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** SURVEY.md §2.I — Structured Streaming surface.
  *
  * The reference's "streaming" is a weekly batch cadence over dated
  * snapshots (`/root/reference/osm_etl.py:13,45`); these operators
  * generalize it to event-time processing over the `events` fixture.
  *
  * Design: each transform takes a DataFrame and returns a DataFrame —
  * IDENTICAL code serves `spark.readStream` (incremental, stateful) and
  * batch (the oracle-checked twin in `SparkEntry.queries`). That is the
  * Structured Streaming contract: a streaming query is the incremental
  * execution of the same logical plan.
  *
  * Scale: all stateful ops key on user_id (high cardinality → state spreads
  * across executors); watermarks bound state size — without one, a 100 TB
  * stream accumulates state forever.
  */
object StreamingOps {

  /** Tumbling 1-hour count/sum per event type; 10-min watermark bounds
    * late-data state. `stream_tumbling`.
    */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Sliding 1-hour window every 15 minutes. `stream_sliding`. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** Gap-based session windows (30 min) per user. `stream_session`. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"), col("sum_value"))

  /** Exactly-once per event_id within the watermark horizon.
    * `stream_dedup`.
    */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id", "ts")

  /** Enrich the stream with a static dimension (stream-static join —
    * no state, dim broadcast each micro-batch). The dim is caller-
    * supplied and could grow: past the broadcast threshold the planner
    * falls back to a shuffled join, same result.
    * `stream_static_join`. */
  def enrich(events: DataFrame, dim: DataFrame, key: String, dimKey: String): DataFrame =
    events.join(dim, col(key) === col(dimKey))

  // ---------------------------------------------------------------------
  // Behavioral (not batch-expressible): run real micro-batches in-process
  // via MemoryStream → memory sink. Used by the smoke queries and specs.
  // ---------------------------------------------------------------------

  final case class Ev(ts: java.sql.Timestamp, user_id: Long, value: Double)

  /** A new session for one in-process demo, with a single shuffle
    * partition. The demos feed a handful of rows through real
    * micro-batches; at the session default every batch instantiates one
    * HDFS-backed state store per partition, which is pure fixed cost
    * here (measured 12.8s → ~1s for the watermark demo at 32 → 1). A
    * real cluster job sizes this to its state volume instead. The confs
    * live on the demo's own session, so they never reach the caller's
    * session or a query another thread plans on it.
    *
    * `noIdleBatches` also disables no-data micro-batches. ONLY for demos
    * whose emitted set does not depend on watermark-driven window
    * closure: the inner stream-stream join emits on match, and the
    * stateful counters (NoTimeout, update mode) emit on data, so the
    * empty batch fired after each watermark advance is pure fixed cost
    * for them. The watermark-late demo must NOT use it — its append-mode
    * emission and the late-drop both require the no-data batch that
    * closes the window (verified: disabling it leaks the late event).
    */
  private def demoSession(spark: SparkSession, noIdleBatches: Boolean = false): SparkSession = {
    val own = spark.newSession()
    own.conf.set("spark.sql.shuffle.partitions", "1")
    if (noIdleBatches) own.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    own
  }

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  /** Watermark semantics demo (`stream_watermark_late`): two batches; the
    * second contains an event older than the advanced watermark, which
    * append mode must drop from the emitted windows.
    */
  def runWatermarkLateDemo(caller: SparkSession): DataFrame = {
    val spark = demoSession(caller)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n_events"))
    val q = agg.writeStream.format("memory").queryName("wm_late")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two users in the 10:00 window PLUS the 10:40 event that
      // advances the watermark to 10:30 — closing the 10:00–10:15 window
      // (append emits it in the trailing no-data batch). One drain fewer
      // than the original three-batch staging: the late-drop only needs
      // the watermark to be PAST the event before it arrives, not a
      // separate advancing batch.
      mem.addData(Ev(ts(0), 1L, 1.0), Ev(ts(5), 2L, 1.0), Ev(ts(40), 1L, 1.0))
      q.processAllAvailable()
      // batch 2: LATE event at 10:05 — behind the 10:30 watermark, dropped.
      // (No watermark-advancing companion: closure-on-advance is already
      // shown by batch 1's emission, and a stationary watermark skips the
      // trailing no-data batch — one less micro-batch of fixed cost.)
      mem.addData(Ev(ts(5), 1L, 99.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table("wm_late")
  }

  final case class UserCount(user_id: Long, n_events: Long, total: Double)

  /** Arbitrary stateful processing (`stream_stateful_custom`): running
    * per-user counters via flatMapGroupsWithState (the
    * mapGroupsWithState/flatMapGroupsWithState surface of §2.I).
    */
  def runStatefulCounterDemo(caller: SparkSession): DataFrame = {
    val spark = demoSession(caller, noIdleBatches = true)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]

    def update(user: Long, evs: Iterator[Ev], state: GroupState[UserCount]): Iterator[UserCount] = {
      val prev = state.getOption.getOrElse(UserCount(user, 0L, 0.0))
      val batch = evs.toSeq
      val next = UserCount(user, prev.n_events + batch.size,
                           prev.total + batch.map(_.value).sum)
      state.update(next)
      Iterator(next)
    }

    val counts = mem.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
    val q = counts.writeStream.format("memory").queryName("stateful_counts")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(Ev(ts(0), 1L, 2.0), Ev(ts(1), 2L, 3.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(2), 1L, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    // latest state per user
    spark.table("stateful_counts")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("total")).as("total"))
  }

  final case class UserEwma(user_id: Long, n: Long, ewma: Double)

  /** TRUE recursive EWMA per user (`stream_ewma`): ewmaₖ = α·vₖ +
    * (1−α)·ewmaₖ₋₁ with α = 1/2, carried across micro-batches in
    * `GroupState`. This is the operator the batch engine deliberately
    * does NOT express recursively — `win_ewma` documents that a window
    * aggregate cannot encode the recursion and substitutes a
    * truncated-horizon dyadic approximation; streaming state is where
    * the EXACT infinite-horizon recursion lives. Determinism: each
    * batch's rows fold in (ts, value) order inside the group, so the
    * result is a pure sequential fold over the per-user event sequence
    * regardless of how arrivals split into micro-batches —
    * StreamingSpec pins batch-split invariance and equality with a
    * driver-side fold.
    */
  def runEwmaDemo(caller: SparkSession,
                  batches: Seq[Seq[Ev]] = Seq(
                    Seq(Ev(ts(0), 1L, 2.0), Ev(ts(1), 1L, 6.0), Ev(ts(0), 2L, 10.0)),
                    Seq(Ev(ts(2), 1L, 4.0), Ev(ts(1), 2L, 20.0), Ev(ts(2), 2L, 30.0)))): DataFrame = {
      val spark = demoSession(caller, noIdleBatches = true)
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Ev]

      def update(user: Long, evs: Iterator[Ev], state: GroupState[UserEwma]): Iterator[UserEwma] = {
        val prev = state.getOption.getOrElse(UserEwma(user, 0L, 0.0))
        val ordered = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
        val next = ordered.foldLeft(prev) { (st, e) =>
          val ew = if (st.n == 0L) e.value else 0.5 * e.value + 0.5 * st.ewma
          UserEwma(user, st.n + 1, ew)
        }
        state.update(next)
        Iterator(next)
      }

      val ewmas = mem.toDS()
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
      val q = ewmas.writeStream.format("memory").queryName("stream_ewma")
        .outputMode(OutputMode.Update).start()
      try {
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()
      // latest state per user = the full-sequence fold
      spark.table("stream_ewma")
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), max_by(col("ewma"), col("n")).as("ewma"))
    }

  /** Spark 4 arbitrary state v2 (`stream_transform_with_state`): the same
    * running per-user counter as [[runStatefulCounterDemo]], re-expressed
    * on the `transformWithState` StatefulProcessor API — typed named state
    * handles (`ValueState` here; List/Map state and per-key timers on the
    * same handle), declarative TTL, and RocksDB-backed state (changelog-
    * checkpointed, so 100 TB state snapshots upload incrementally instead
    * of rewriting per batch — the operational reason this API exists).
    * Emitting the SAME counts as the v1 demo is the point: StreamingSpec
    * pins the two APIs to identical results on the shared fixture.
    */
  final class RunningCounter extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserCount] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[UserCount] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserCount]("counts",
        org.apache.spark.sql.Encoders.product[UserCount],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserCount] = {
      val prev = if (st.exists()) st.get() else UserCount(key, 0L, 0.0)
      val batch = rows.toSeq
      val next = UserCount(key, prev.n_events + batch.size,
                           prev.total + batch.map(_.value).sum)
      st.update(next)
      Iterator.single(next)
    }
  }

  def runTransformWithStateDemo(caller: SparkSession): DataFrame = {
    val spark = demoSession(caller, noIdleBatches = true)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val counts = mem.toDS()
      .groupByKey(_.user_id)
      .transformWithState(new RunningCounter,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
    val q = counts.writeStream.format("memory").queryName("tws_counts")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(Ev(ts(0), 1L, 2.0), Ev(ts(1), 2L, 3.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(2), 1L, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table("tws_counts")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("total")).as("total"))
  }

  /** Stream-stream interval join (`stream_stream_join`): views joined to
    * purchases by user within a 10-minute event-time window. BOTH sides
    * carry watermarks and the join condition bounds the time skew — that
    * pair of constraints is what lets Spark expire buffered state; an
    * unbounded stream-stream join buffers both streams forever at 100 TB.
    */
  def runStreamStreamJoinDemo(caller: SparkSession): org.apache.spark.sql.DataFrame = {
      val spark = demoSession(caller, noIdleBatches = true)
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val views = MemoryStream[Ev]
      val buys = MemoryStream[Ev]
      val v = views.toDF().select(col("ts").as("v_ts"), col("user_id"), col("value").as("view_id"))
        .withWatermark("v_ts", "10 minutes")
      val b = buys.toDF().select(col("ts").as("b_ts"), col("user_id").as("b_user"), col("value").as("buy_id"))
        .withWatermark("b_ts", "10 minutes")
      val joined = v.join(b,
        col("user_id") === col("b_user") &&
          col("b_ts") >= col("v_ts") && col("b_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("user_id"), col("view_id"), col("buy_id"))
      val q = joined.writeStream.format("memory").queryName("ss_join")
        .outputMode(OutputMode.Append).start()
      try {
        // One drain for both stages: the in/out-of-window split is decided
        // by the JOIN CONDITION, not by batch staging, so a second
        // processAllAvailable only re-paid stream-stream micro-batch fixed
        // cost (~2 s of the bench) without changing the emitted set —
        // cross-batch state buffering is separately pinned by
        // stream_stateful_custom.
        views.addData(Ev(ts(0), 1L, 100.0), Ev(ts(0), 2L, 200.0))
        buys.addData(Ev(ts(5), 1L, 900.0))   // within 10 min of view 100 → joins
        buys.addData(Ev(ts(30), 2L, 901.0))  // 30 min after view 200 → outside window
        views.addData(Ev(ts(25), 2L, 201.0)) // view at 10:25; buy at 10:30 joins it
        q.processAllAvailable()
      } finally q.stop()
      spark.table("ss_join")
    }

  /** Streaming count–min sketch (`stream_count_min`): each micro-batch
    * folds into its own CMS (partial+final aggregate on the executors)
    * and merges into the running driver-held sketch in `foreachBatch` —
    * the sketch-mergeability contract is exactly what makes one-pass
    * frequency screens possible over an unbounded stream (the d×w grid
    * is the ONLY state; it never grows with the data). Cell-wise merge
    * is associative+commutative and the seed is pinned, so after any
    * batch staging the merged sketch is BIT-IDENTICAL to the batch-mode
    * sketch over the union — returned side by side per probe so the
    * spec (and the smoke row count) pin est_stream == est_batch exactly,
    * plus the one-sided est ≥ true bound.
    */
  def runCountMinMergeDemo(caller: SparkSession): DataFrame = {
    val spark = demoSession(caller)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches: Seq[Seq[Long]] = Seq(
      (1L to 40L) ++ Seq.fill(10)(7L),
      (20L to 60L) ++ Seq.fill(5)(7L) ++ Seq.fill(8)(13L),
      (1L to 15L) ++ Seq.fill(3)(13L))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    var merged: org.apache.spark.util.sketch.CountMinSketch = null
    val chk = graft.Scratch.fresh("cms_chk")
    val q = mem.toDF().toDF("k").writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sk = batch.stat.countMinSketch("k", 0.001, 0.99, 42)
        // micro-batches execute serially; the driver-held grid is the
        // stream's entire state
        if (merged == null) merged = sk else merged.mergeInPlace(sk)
        ()
      }.start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    val all = batches.flatten
    val batchSk = all.toDF("k").stat.countMinSketch("k", 0.001, 0.99, 42)
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    (1L to 60L).map { k =>
      (k, merged.estimateCount(java.lang.Long.valueOf(k)),
          batchSk.estimateCount(java.lang.Long.valueOf(k)),
          exact.getOrElse(k, 0L))
    }.toDF("k", "est_stream", "est_batch", "exact_n").orderBy(col("k"))
  }

  /** Incremental file source → exactly-once batch hand-off
    * (`source_stream_file` + `sink_stream_foreachbatch`): the reference's
    * dump-then-load pattern (`osm_etl.py:88-91`) as a checkpointed
    * foreachBatch pipeline. Runs one real micro-batch over a staged dir.
    */
  def runFileStreamDemo(caller: SparkSession, srcDir: String, outDir: String,
                        checkpoint: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    val stream = demoSession(caller).readStream.schema(schema).parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent hand-off: overwrite the per-batch artifact dir
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
  }

  /** EXACTLY-ONCE batch delivery discipline for a foreachBatch sink
    * (`stream_idempotent_sink`): Structured Streaming guarantees a batch
    * id is REPLAYED after a failure, not that it is delivered once — the
    * sink must make re-delivery a no-op. Protocol (the Delta/Iceberg
    * txn-ledger shape, on a plain dir lake):
    *   1. a `_committed_<batchId>` MARKER is the commit record — if it
    *      exists, the batch already landed; return false, write nothing;
    *   2. otherwise write the payload to a hidden tmp dir (crash there
    *      leaves garbage, never a half-visible batch), atomically RENAME
    *      into place, then create the marker LAST — so a crash between
    *      rename and marker re-delivers into an overwrite, and a crash
    *      before rename leaves the target absent. Visibility follows
    *      the marker, never directory existence (`mode("ignore")` would
    *      wrongly trust a half-written dir).
    * Returns true iff this call performed the write.
    */
  def idempotentBatchWrite(batch: DataFrame, batchId: Long, root: String): Boolean = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(root, s"_committed_$batchId")
    if (fs.exists(marker)) false
    else {
      val tmp = new org.apache.hadoop.fs.Path(root, s".tmp_batch_$batchId")
      val target = new org.apache.hadoop.fs.Path(root, s"batch_$batchId")
      batch.write.mode("overwrite").parquet(tmp.toString)
      if (fs.exists(target)) fs.delete(target, true) // pre-marker crash leftovers
      require(fs.rename(tmp, target),
        s"idempotentBatchWrite: rename $tmp -> $target failed")
      fs.create(marker, false).close() // create-exclusive: double-commit races fail loud
      true
    }
  }
}
