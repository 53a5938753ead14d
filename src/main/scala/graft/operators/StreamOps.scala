package graft.operators

import graft.{Q, T}
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

/** SURVEY.md §2.I — streaming operators, registered through their batch
  * twins.
  *
  * Each oracled entry calls the SAME `StreamingOps` transform that a
  * `readStream` pipeline uses — in batch mode the watermark is analyzed
  * away and the plan executes once, which is exactly Structured Streaming's
  * batch/stream unification. Behavioral rows (watermark drops, custom
  * state) can't be expressed in batch; their smoke entries run real
  * in-process micro-batches via MemoryStream (plus assertions in
  * StreamingSpec).
  */
object StreamOps {

  val all: Seq[Q] = Seq(
    Q(
      "stream_tumbling",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type NULLS FIRST""".stripMargin
    ) { (s, d) =>
      StreamingOps.tumbling(T.events(s, d))
        .orderBy(col("window_start"), col("event_type"))
    },

    Q(
      "stream_sliding",
      """SELECT make_timestamp(((CAST(floor(epoch(ts) / 900) AS BIGINT) * 900) - i * 900) * 1000000) AS window_start,
        |       event_type, count(*) AS n_events
        |FROM events, unnest([0, 1, 2, 3]) AS t(i)
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // 1h window sliding every 15min → every event lands in exactly 4
      // windows; the oracle materializes that expansion arithmetically.
      StreamingOps.sliding(T.events(s, d))
        .orderBy(col("window_start"), col("event_type"))
    },

    Q(
      "stream_session",
      """WITH l AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM l)
        |SELECT min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       user_id, count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
    ) { (s, d) =>
      // session_window(gap=30m): the oracle is the classic lag+cumsum
      // sessionization — same semantics, which is precisely what the
      // emulation-is-oracle-able note in SURVEY §2.I means.
      StreamingOps.sessions(T.events(s, d))
        .orderBy(col("user_id"), col("session_start"))
    },

    Q(
      "stream_dedup",
      """SELECT event_type, count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Double the input, dedup on (event_id, ts) → original stream back.
      // In streaming this is exactly-once delivery within the watermark
      // horizon; duplicated identical rows make the batch check meaningful.
      val ev = T.events(s, d)
      StreamingOps.dedup(ev.unionByName(ev))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    Q(
      "stream_static_join",
      """SELECT c_mktsegment, count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Stream enriched with a static dim: dim broadcast per micro-batch,
      // no streaming state at all.
      StreamingOps.enrich(T.events(s, d), T.customer(s, d), "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    },

    // Behavioral: real micro-batches over MemoryStream. Driver checks
    // rows > 0; StreamingSpec asserts the semantics (late row dropped,
    // state accumulates across batches).
    Q.smoke("stream_watermark_late") { (s, _) =>
      StreamingOps.runWatermarkLateDemo(s).orderBy(col("window_start"), col("user_id"))
    },

    Q.smoke("stream_stateful_custom") { (s, _) =>
      StreamingOps.runStatefulCounterDemo(s).orderBy(col("user_id"))
    },

    Q.smoke("stream_ewma") { (s, _) =>
      StreamingOps.runEwmaDemo(s).orderBy(col("user_id"))
    },

    // Spark 4 arbitrary state v2 (transformWithState): typed named state
    // handles + TTL + timers on RocksDB-backed state. Same fixture and
    // same emitted counts as the v1 flatMapGroupsWithState demo above —
    // StreamingSpec pins the two APIs to identical results.
    Q.smoke("stream_transform_with_state") { (s, _) =>
      StreamingOps.runTransformWithStateDemo(s).orderBy(col("user_id"))
    },

    // Streaming CMS: per-micro-batch sketches merge into one running
    // grid — the unbounded-stream frequency screen whose state never
    // grows. StreamingSpec pins merged ≡ batch-mode bit-for-bit and the
    // one-sided bound.
    Q.smoke("stream_count_min") { (s, _) =>
      StreamingOps.runCountMinMergeDemo(s)
    },

    // Stream-stream interval join: both sides watermarked, join condition
    // time-bounded → state expires. StreamingSpec asserts the in/out-of-
    // window pairs.
    Q.smoke("stream_stream_join") { (s, _) =>
      StreamingOps.runStreamStreamJoinDemo(s)
        .orderBy(col("user_id"), col("view_id"), col("buy_id"))
    },

    // foreachBatch hand-off sink (§2.A sink_stream_foreachbatch): the
    // dump-then-load pattern as a checkpointed exactly-once batch write —
    // each micro-batch lands idempotently under its batch id, then is
    // atomically visible to the consumer. Exercised over a MemoryStream
    // fed in two batches; returns the union of handed-off artifacts.
    // Exactly-once delivery DISCIPLINE for foreachBatch (the guarantee
    // Structured Streaming does NOT give a sink for free: batch ids are
    // replayed after failures, and the sink must make re-delivery a
    // no-op). Runs two real micro-batches through
    // StreamingOps.idempotentBatchWrite, then RE-DELIVERS batch 0 with
    // the same payload — the marker protocol must refuse it — and
    // simulates the crash-between-rename-and-marker case (target dir
    // present, marker absent) — the protocol must overwrite cleanly.
    // Returns the final landed rows: duplicates would double them, a
    // wrongly-skipped recovery would halve them; Round17OpsSpec pins
    // both arms plus the returned write/skip flags.
    Q.smoke("stream_idempotent_sink") { (s, _) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val base = graft.Scratch.fresh("idem")
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val q = mem.toDF().toDF("id", "v").writeStream
        .option("checkpointLocation", s"$base/chk")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          StreamingOps.idempotentBatchWrite(batch, batchId, s"$base/out"); ()
        }.start()
      try {
        mem.addData((1L, 1.5), (2L, 2.5)); q.processAllAvailable()
        mem.addData((3L, 3.5)); q.processAllAvailable()
      } finally q.stop()
      // re-delivery of an already-committed batch must be a no-op
      val redelivered = StreamingOps.idempotentBatchWrite(
        Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v"), 0L, s"$base/out")
      require(!redelivered, "stream_idempotent_sink: re-delivered batch 0 must be skipped")
      // crash-recovery arm: target dir present but marker missing → rewrite
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out/_committed_1"), false)
      val recovered = StreamingOps.idempotentBatchWrite(
        Seq((3L, 3.5)).toDF("id", "v"), 1L, s"$base/out")
      require(recovered, "stream_idempotent_sink: unmarked batch must be (re)written")
      s.read.parquet(s"$base/out/batch_0", s"$base/out/batch_1").orderBy(col("id"))
    },

    Q.smoke("sink_stream_foreachbatch") { (s, _) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val base = graft.Scratch.fresh("feb")
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val q = mem.toDF().toDF("id", "v").writeStream
        .option("checkpointLocation", s"$base/chk")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$base/out/batch_$batchId"); ()
        }.start()
      try {
        mem.addData((1L, 1.5), (2L, 2.5)); q.processAllAvailable()
        mem.addData((3L, 3.5)); q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(s"$base/out/batch_0", s"$base/out/batch_1")
        .orderBy(col("id"))
    },

    // Incremental file source + checkpointed foreachBatch hand-off — the
    // reference's dump-then-load (`osm_etl.py:88-91`) with exactly-once
    // batch ids instead of a SQL-dump file.
    Q.smoke("source_stream_file") { (s, d) =>
      val base = graft.Scratch.fresh("stream_file")
      val src = java.nio.file.Paths.get(base, "src"); java.nio.file.Files.createDirectories(src)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "region.parquet"), src.resolve("region.parquet"))
      val schema = T.region(s, d).schema
      StreamingOps.runFileStreamDemo(s, src.toString, s"$base/out", s"$base/chk", schema)
      s.read.parquet(s"$base/out/batch_0").orderBy(col("r_regionkey"))
    },

    // Streaming replication apply — the `.osc` firehose shape the weekly
    // reload replaces: element upserts/deletes arrive as a stream, and
    // each micro-batch applies `merge_upsert` semantics to the layer
    // lake via foreachBatch, producing an immutable VERSIONED snapshot
    // per batch (lake/v0, v1, ... — no read-modify-write on a live dir,
    // which is both crash-safe and gives time travel for free; at scale
    // the versioned write degrades to a metadata swap over a
    // region-partitioned table, and this is exactly the
    // `OsmEtlJob --incremental` dataflow fed continuously instead of
    // weekly). The merge itself is the one full-outer join on the key;
    // last-writer-wins within a batch is pinned by max version.
    // Returns the final snapshot: StreamingSpec asserts upsert /
    // delete / re-insert semantics against the hand-computed state.
    // The same replication-apply loop fed by REAL `.osc` files
    // (graft.sources.OsmChange) instead of a MemoryStream of tuples: the
    // consumer polls sequence numbers (how OSM replication actually
    // works — fetch state, apply sequence file N), each micro-batch
    // parses its osmChange file and merges it into the versioned lake
    // via OsmChange.applySnapshot (LWW by version, winning delete
    // removes). Fixture mirrors stream_osm_upsert's logical ops exactly
    // — update/delete/two-versions-in-one-file/re-insert — and
    // StreamingSpec pins the two lanes to the identical final state, so
    // the wire format and the MemoryStream semantics are provably the
    // same dataflow. Sequence file 2 is gzipped: the magic-byte lane
    // rides the streaming path too.
    Q.smoke("stream_osc_apply") { (s, _) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      import graft.sources.OsmChange
      import graft.sources.OsmChange.{OscMember, OscRow}
      val base = graft.Scratch.fresh("osc_apply")
      def way(op: String, id: Long, v: Long, len: Double) =
        OscRow(op, "way", id, v, "", None, None,
               Map("length_m" -> len.toString), Nil, Nil)
      // v0: the existing element store (two ways), OscRow payload shape
      Seq(way("create", 1L, 1L, 10.0), way("create", 2L, 1L, 20.0))
        .toDS().drop("op").write.parquet(s"$base/lake/v0")
      // the replication sequence: file 1 updates way 1, deletes way 2,
      // creates way 3 twice (v1 then v2 in DOCUMENT order — max version
      // must win); file 2 re-inserts way 2 after its delete
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/feed/000001"))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/feed/000002"))
      OsmChange.write(s"$base/feed/000001/000001.osc", Seq(
        way("modify", 1L, 2L, 11.0), way("delete", 2L, 2L, 0.0),
        way("create", 3L, 1L, 30.0), way("modify", 3L, 2L, 31.0)))
      OsmChange.write(s"$base/feed/000002/000002.osc.gz", Seq(
        way("create", 2L, 3L, 22.0)), gzip = true)
      val latest = new java.util.concurrent.atomic.AtomicReference(s"$base/lake/v0")
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = mem.toDF().toDF("seqno").writeStream
        .option("checkpointLocation", s"$base/chk")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val ss = batch.sparkSession
          // sequence numbers are feed-pointer metadata (a handful per
          // poll), not data — collecting them is the consumer protocol
          val seqs = batch.collect().map(_.getLong(0)).sorted
          seqs.foreach { n =>
            val delta = OsmChange.read(ss, f"$base%s/feed/$n%06d")
            val next = OsmChange.applySnapshot(ss.read.parquet(latest.get()), delta)
            val out = f"$base%s/lake/seq$n%06d"
            next.write.mode("overwrite").parquet(out)
            latest.set(out)
          }
          ()
        }.start()
      try {
        mem.addData(1L); q.processAllAvailable()
        mem.addData(2L); q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(latest.get())
        .select(col("id").as("way_id"), col("version"),
                element_at(col("tags"), "length_m").cast("double").as("length_m"))
        .orderBy(col("way_id"))
    },

    Q.smoke("stream_osm_upsert") { (s, _) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val base = graft.Scratch.fresh("osm_up")
      // v0: the existing lake (two ways)
      Seq((1L, 1L, 10.0), (2L, 1L, 20.0))
        .toDF("way_id", "version", "length_m")
        .write.parquet(s"$base/lake/v0")
      val latest = new java.util.concurrent.atomic.AtomicReference(s"$base/lake/v0")
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Long, Double)]
      val q = mem.toDF().toDF("way_id", "op", "version", "length_m").writeStream
        .option("checkpointLocation", s"$base/chk")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          // last-writer-wins inside the batch (max version per key),
          // then one full-outer merge against the current snapshot
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("way_id")).orderBy(col("version").desc)
          val delta = batch.withColumn("rn", row_number().over(w))
            .where(col("rn") === 1).drop("rn")
            .select(col("way_id").as("d_way_id"), col("op"),
                    col("version").as("d_version"), col("length_m").as("d_length_m"))
          val cur = batch.sparkSession.read.parquet(latest.get())
          val next = cur.join(delta, col("way_id") === col("d_way_id"), "full_outer")
            .where(coalesce(col("op"), lit("keep")) =!= "delete")
            .select(
              coalesce(col("way_id"), col("d_way_id")).as("way_id"),
              when(col("op") === "upsert", col("d_version"))
                .otherwise(col("version")).as("version"),
              when(col("op") === "upsert", col("d_length_m"))
                .otherwise(col("length_m")).as("length_m"))
          val out = s"$base/lake/v${batchId + 1}"
          next.write.mode("overwrite").parquet(out)
          latest.set(out)
          ()
        }.start()
      try {
        // batch 0: update way 1, delete way 2, insert way 3 (two
        // versions of way 3 in ONE batch — the max-version row wins)
        mem.addData((1L, "upsert", 2L, 11.0), (2L, "delete", 2L, 0.0),
                    (3L, "upsert", 1L, 30.0), (3L, "upsert", 2L, 31.0))
        q.processAllAvailable()
        // batch 1: way 2 comes BACK (delete then re-insert across batches)
        mem.addData((2L, "upsert", 3L, 22.0))
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(latest.get()).orderBy(col("way_id"))
    }
  )
}
