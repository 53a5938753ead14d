package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One keyed operator query from SURVEY.md §2.
  *
  * `key` is the stable inventory key; `oracle` is the equivalent DuckDB
  * ANSI SQL (None for non-SQL-expressible ops — those get a rows-only
  * check from the driver plus a scalatest spec here).
  */
final case class Q(key: String, oracle: Option[String], run: (SparkSession, String) => DataFrame)

object Q {
  def apply(key: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(key, Some(oracle), run)
  def smoke(key: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(key, None, run)
}

/** Determinism helpers (SURVEY.md §7.3 oracle-determinism rules).
  *
  * Double summation order differs between Spark and DuckDB (and between
  * partitionings at scale), so any rounded double aggregate can flip a
  * rounding boundary. All money/quantity aggregates therefore run in
  * exact DECIMAL(18,2) arithmetic and convert back to double at the end
  * — order-independent, so also stable under repartitioning at 100 TB.
  */
object Det {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact sum of a 2-decimal-valued double column, as double. */
  def dsum(c: Column): Column = round(sum(dec2(c)).cast("double"), 2)

  /** Exact-sum-based average rounded to 4 decimals. */
  def davg(c: Column): Column = round(sum(dec2(c)).cast("double") / count(c), 4)

  /** DuckDB SQL fragments mirroring the above. */
  def sqlDsum(x: String): String = s"round(CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE), 2)"
  def sqlDavg(x: String): String = s"round(CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE) / count($x), 4)"
}

/** The one broadcast policy: Spark's planner decides every broadcast
  * under `spark.sql.autoBroadcastJoinThreshold` (`-1` = never). [[bcast]]
  * hints a side only while its estimate fits that threshold, so it never
  * forces a broadcast the planner would refuse; it stays only in joins
  * where it picks the build side. A raw `broadcast(` stays only on a side
  * bounded by construction that the planner sizes as its input, and
  * names the bound in a `// bound:` comment.
  */
object Gate {
  def bcast(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val threshold = qe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (qe.optimizedPlan.stats.sizeInBytes <= threshold)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }
}

/** The one exact global rank: no row passes through a single-task window.
  * [[apply]] adds `rank`, the running sum of `value` (1 per row by default)
  * under `order` within each group of `by`, and `total`, the sum of
  * `value` over the row's group, in three steps:
  *
  *  1. range-partition on (`by`, `order`) and persist, so the collect
  *     below and the final pass read one sampled layout;
  *  2. collect each partition's partial sum per group (one row per
  *     partition and group) and prefix-sum them on the driver;
  *  3. take the running sum inside each partition and add the partition's
  *     offset, which joins in as a tiny frame, so the plan holds no
  *     sampled value.
  *
  * The window keeps the default RANGE frame, so rows equal on all of
  * (`by`, `order`) share one sum: a tie group counts as one step. Equal
  * keys always land in the same range partition, so the sum is the
  * global one for any order; under a total order `rank` is the 1-based
  * row number. Cost: the range exchange, the partition-local window's
  * exchange and one collect of at most partitions × groups rows.
  */
object GlobalRank {
  import org.apache.spark.sql.{Column, Row}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

  def apply(df: DataFrame, order: Seq[Column], by: Seq[String] = Nil,
            value: Column = lit(1L)): DataFrame = {
    val s = df.sparkSession
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val v = value.cast("long")
    val grp = col("__pid") +: by.map(col)
    val ranged = Caches.register(df.repartitionByRange(parts, by.map(col) ++ order: _*)
      .withColumn("__pid", spark_partition_id()).persist())
    val partials = ranged.groupBy(grp: _*).agg(coalesce(sum(v), lit(0L))).collect()
    val offsets = partials.groupBy(r => by.indices.map(i => r.get(1 + i))).values.flatMap { rs =>
      val sorted = rs.sortBy(_.getInt(0))
      val sums = sorted.map(_.getLong(by.size + 1))
      val n = sums.sum
      sorted.zip(sums.scanLeft(0L)(_ + _))
        .map { case (r, off) => Row.fromSeq(r.toSeq.init :+ off :+ n) }
    }
    val other = by.indices.map(i => s"__by$i")
    val offs = s.createDataFrame(java.util.Arrays.asList(offsets.toSeq: _*), StructType(
      StructField("__opid", IntegerType) +:
        by.zip(other).map { case (b, o) => ranged.schema(b).copy(name = o) } :+
        StructField("__off", LongType) :+ StructField("total", LongType)))
    val on = (col("__pid") === col("__opid")) +:
      by.zip(other).map { case (b, o) => col(b) <=> col(o) }
    ranged
      .withColumn("__run", sum(v).over(Window.partitionBy(grp: _*).orderBy(order: _*)))
      .join(offs, on.reduce(_ && _))
      .withColumn("rank", col("__off") + col("__run"))
      .drop(Seq("__pid", "__run", "__opid", "__off") ++ other: _*)
  }

  /** SQL `NTILE(k)` of a 1-based `rank` among `n` rows: the first n % k
    * tiles hold one row more than the rest. */
  def ntile(rank: Column, n: Column, k: Int): Column = {
    def div(a: Column, b: Column) = call_function("div", a, b)
    val base = div(n, lit(k.toLong))
    val rem = n % k
    val thr = rem * (base + 1)
    when(rank <= thr, div(rank - 1, base + 1) + 1)
      .otherwise(rem + div(rank - 1 - thr, greatest(base, lit(1L))) + 1)
  }
}

/** Every scratch directory the engine writes lives under
  * java.io.tmpdir as `graft_<tag>_<run nonce>_…` and is deleted when
  * the JVM exits. The per-process nonce isolates runs that share a box.
  *
  *  - [[layout]]: the ONE rule for build-once operator layouts (indexes,
  *    the road graph, bucketed and z-ordered lakes, staged ORC/XML/PBF/
  *    WAV/PNG files): build once per (session, dataset), memoized in the
  *    session conf under `spark.sql.graft.<tag>dir:<dataset>`. A dataset
  *    dir is treated as immutable for the session (lake snapshots are);
  *    a caller that rewrites one in place must unset the key.
  *  - [[fresh]]: a new directory per call, for work that must not see an
  *    earlier call's files (streaming checkpoints, per-run lakes).
  *  - [[dir]]: a fixed per-(run, dataset) path that each call
  *    overwrites, so the operator and its spec agree on it.
  */
object Scratch {
  private val runNonce = java.lang.Long.toHexString(
    java.util.concurrent.ThreadLocalRandom.current().nextLong())
  private val tmp = new java.io.File(sys.props("java.io.tmpdir"))

  private def rmTree(root: java.io.File): Unit = {
    val kids = root.listFiles()
    if (kids != null) kids.foreach(rmTree)
    root.delete()
  }

  // Leak control (ADVICE r11): without cleanup every bench/verify/test
  // run leaves full fact-table copies under java.io.tmpdir. Own dirs go
  // at JVM exit; dirs from DEAD runs (crashed JVMs never reach their
  // hook) are swept once at startup — but only when stale by mtime, so
  // a concurrently running bench/test on the same box is never touched.
  private val staleMs = 6L * 3600 * 1000
  locally {
    val old = tmp.listFiles()
    if (old != null) old.filter(f => f.isDirectory && f.getName.startsWith("graft_")
        && System.currentTimeMillis() - f.lastModified() > staleMs)
      .foreach(rmTree)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val now = tmp.listFiles()
      if (now != null) now.filter(f => f.isDirectory
          && f.getName.contains(s"_${runNonce}_")).foreach(rmTree)
    }))
  }

  def dir(tag: String, d: String): String =
    s"$tmp/graft_${tag}_${runNonce}_${math.abs(d.hashCode).toHexString}"

  def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(tmp.toPath, s"graft_${tag}_${runNonce}_").toString

  /** The layout root for (`s`, `tag`, `d`): `build` runs on an empty
    * [[fresh]] directory the first time, and every later call returns
    * the memoized root. Builds are serialized JVM-wide (sessions share
    * the JVM in local mode), and a caller that lost the race adopts the
    * winner's root instead of building again.
    */
  def layout(s: org.apache.spark.sql.SparkSession, tag: String, d: String)
            (build: String => Unit): String = {
    val key = s"spark.sql.graft.${tag}dir:$d"
    s.conf.getOption(key).getOrElse(synchronized {
      s.conf.getOption(key).getOrElse {
        val root = fresh(tag)
        build(root)
        s.conf.set(key, root)
        root
      }
    })
  }
}

/** Registry for plans an operator persists as part of its own shape
  * (text_tfidf_topk's tf table): callers that sweep many queries
  * (Verify, Bench, specs) drain it after materializing each result so
  * executor storage memory doesn't accumulate across the sweep.
  */
object Caches {
  private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  // Bounded (ADVICE r11): a long-lived session that never calls drain()
  // must not grow the registry without limit — past the cap the OLDEST
  // entry is unpersisted and dropped (storage freed AND the plan object
  // released; sweeping callers still drain to zero between queries).
  private val cap = 32
  def register[A <: Dataset[_]](df: A): A = synchronized {
    while (live.length >= cap) live.remove(0).unpersist()
    live += df.toDF(); df
  }
  def drain(): Unit = synchronized { live.foreach(_.unpersist()); live.clear() }
}

/** Table loaders over the driver-generated corpus (TESTDATA.md). */
object T {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String)     = apply(s, d, "region")
  def nation(s: SparkSession, d: String)     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String)   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String)   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String)       = apply(s, d, "part")
  def orders(s: SparkSession, d: String)     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String)   = apply(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    * reader rejects outright — read as nanos-long and downcast) and as
    * TIMESTAMP(MICROS) without zone info (which Spark reads as
    * TIMESTAMP_NTZ — cast to the session-zone instant; sessions here pin
    * UTC, so the wall-clock values are unchanged and unix_millis/window
    * functions work). [[normalizeEventTs]] handles both plus the
    * already-normalized case, schema-driven, so the loader keeps working
    * whichever physical type a fixture generation used.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(apply(s, d, "events"))
  }

  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw // already session-zoned micros
    }
  }
  def documents(s: SparkSession, d: String)  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = apply(s, d, "embeddings")
}
