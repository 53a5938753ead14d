package perfbench

import java.io.File
import java.sql.{DriverManager, SQLException}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.JdbcIO
import graft.plans.{OsmEtlJob, PostgisLoadJob}

/** One closed-loop workload. [[run]] is the timed operation and returns its
  * record (at least `seconds`); everything else is untimed. */
trait Workload {
  def setup(): Unit
  def run(i: Int, tr: Tracer): java.util.Map[String, AnyRef]
  /** Hygiene after a run, and the outputs the checks need. */
  def afterRun(i: Int, rec: java.util.Map[String, AnyRef]): Unit = ()
  /** End-of-process checks: (name, passed, detail). */
  def finish(): Seq[(String, Boolean, String)] = Nil
  /** Bytes of the distinct input files the `etl` layer reads. */
  def etlInputBytes: Long = 0L
}

object Workload {
  val Date = "2024-08-01"
  val PrevDate = "2024-07-25"
  val LakeTables: Seq[String] = PostgisLoadJob.LakeTables

  def files(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(root))
  }

  def bytes(root: String): Long = files(root).map(_.length).sum

  def rm(root: String): Unit = {
    def go(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(go)); f.delete() }
    go(new File(root))
  }

  def tableBytes(dir: String, tables: Seq[String]): Long =
    tables.map(t => bytes(s"$dir/$t.parquet")).sum

  val EtlTables = Seq("region", "nation", "customer", "part", "orders", "lineitem")

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** What a lake op left on disk, then the lake itself is deleted. */
  def recordLake(rec: java.util.Map[String, AnyRef], lake: String, keep: Boolean = false): Unit = {
    val fs = files(lake)
    rec.put("lake_bytes", Long.box(fs.map(_.length).sum))
    rec.put("lake_files", Long.box(fs.count(_.getName.endsWith(".parquet")).toLong))
    if (!keep) rm(lake)
  }
}

import Workload._

/** ETL of one snapshot into a fresh lake, then its load into a fresh
  * embedded Derby — the production weekly path. */
final class OsmChain(spark: SparkSession, data: String, work: String) extends Workload {
  val Region = "bench_region"

  override def etlInputBytes: Long = tableBytes(data, EtlTables)

  def setup(): Unit = { val rec = run(-1, new Tracer(spark)); afterRun(-1, rec) }

  def run(i: Int, tr: Tracer): java.util.Map[String, AnyRef] = {
    val lake = s"$work/lake_$i"
    val url = JdbcIO.freshEmbeddedDerby("perfbench_derby")
    tr.span("op", i) {
      val t0 = System.nanoTime()
      val (counts, stages) = tr.span("etl", i) { OsmEtlJob.runTimed(spark, data, lake, Date) }
      val t1 = System.nanoTime()
      val loaded = tr.span("load", i) {
        PostgisLoadJob.load(spark, lake, url, region = Some(Region))
      }
      val t2 = System.nanoTime()
      Json.obj("seconds" -> secs(t0, t2), "etl_s" -> secs(t0, t1), "load_s" -> secs(t1, t2),
        "stages" -> stages.toMap, "counts" -> counts.toMap, "load_reported" -> loaded.toMap,
        "lake" -> lake, "derby" -> url)
    }
  }

  override def afterRun(i: Int, rec: java.util.Map[String, AnyRef]): Unit = {
    val url = rec.get("derby").toString
    try {
      val c = DriverManager.getConnection(url)
      try rec.put("loaded", Json.obj(LakeTables.map { t =>
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM osm_$t")
        rs.next()
        t -> rs.getLong(1)
      }: _*))
      finally c.close()
    } finally {
      // shut the embedded database down before deleting it
      try DriverManager.getConnection(url.stripSuffix(";create=true") + ";shutdown=true")
      catch { case e: SQLException if e.getSQLState == "08006" => () }
      rm(url.stripPrefix("jdbc:derby:").stripSuffix(";create=true").stripSuffix("/db"))
      recordLake(rec, rec.get("lake").toString)
    }
  }
}

/** Applies last week's delta to last week's lake: reads the previous lake,
  * carries most rows forward and re-assembles only the dirty ways. */
final class OsmIncremental(spark: SparkSession, data: String, prev: String, work: String)
    extends Workload {
  private val prevLake = s"$work/prev_lake"
  private var lastOut: Option[String] = None

  override def etlInputBytes: Long =
    tableBytes(data, EtlTables) + tableBytes(prev, EtlTables) + bytes(prevLake)

  def setup(): Unit = {
    OsmEtlJob.run(spark, prev, prevLake, PrevDate)
    val rec = run(-1, new Tracer(spark))
    afterRun(-1, rec)
  }

  def run(i: Int, tr: Tracer): java.util.Map[String, AnyRef] = {
    val out = s"$work/inc_$i"
    tr.span("op", i) {
      val t0 = System.nanoTime()
      val counts = tr.span("etl", i) {
        OsmEtlJob.runIncremental(spark, prev, data, prevLake, out, Date)
      }
      val t1 = System.nanoTime()
      Json.obj("seconds" -> secs(t0, t1), "counts" -> counts.toMap, "lake" -> out)
    }
  }

  override def afterRun(i: Int, rec: java.util.Map[String, AnyRef]): Unit = {
    lastOut.foreach(rm)
    val out = rec.get("lake").toString
    lastOut = Some(out)
    recordLake(rec, out, keep = true)
  }

  /** The last incremental lake must equal a full rebuild, table by table. */
  override def finish(): Seq[(String, Boolean, String)] = lastOut.toSeq.flatMap { inc =>
    val full = s"$work/full_rebuild"
    OsmEtlJob.run(spark, data, full, Date)
    val checks = LakeTables.map { t =>
      val f = spark.read.parquet(s"$full/$t")
      val n = spark.read.parquet(s"$inc/$t")
      val cols = f.columns.sorted.map(col)
      val extra = n.select(cols: _*).exceptAll(f.select(cols: _*)).count()
      val missing = f.select(cols: _*).exceptAll(n.select(cols: _*)).count()
      (s"incremental_equals_full.$t", extra == 0 && missing == 0,
        s"$extra rows only in incremental, $missing only in full rebuild")
    }
    rm(full)
    rm(inc)
    checks
  }
}

/** One pass over a frozen list of registry keys, each built with
  * `SparkEntry.queries(key)` and materialized with a `noop` write. */
final class QueryMix(spark: SparkSession, data: String, work: String, keysFile: String,
                     seed: Long) extends Workload {
  val keys: Seq[(String, String)] = Json.readKeys(keysFile)
  val moduleOf: Map[String, String] = keys.toMap
  /** The order this seed fixes, the same for every pass of the process. */
  val order: Seq[String] = new scala.util.Random(seed).shuffle(keys.map(_._1))
  private val queries = graft.SparkEntry.queries

  private def hygiene(): Unit = {
    graft.Caches.drain()
    spark.catalog.clearCache()
  }

  /** Untimed warm-up pass that also keeps every key's result (and the
    * oracle SQL of the oracled ones) for the output check. It runs two keys
    * at a time: it is the costliest part of set-up, and one key at a time
    * does not fit the benchmark's time budget (README, "Budget"). */
  def setup(): Unit = {
    val dir = s"$work/check"
    new File(dir).mkdirs()
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => moduleOf.contains(k) }
    Json.write(s"$dir/oracle_sql.json", Json.obj(oracle.toSeq.sortBy(_._1): _*))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val failed = try {
      order.map { key =>
        pool.submit(new java.util.concurrent.Callable[Option[(String, String)]] {
          def call(): Option[(String, String)] =
            try {
              queries(key)(spark, data).write.mode("overwrite").parquet(s"$dir/$key")
              None
            } catch { case t: Throwable => Some(key -> t.toString.take(300)) }
        })
      }.flatMap(_.get())
    } finally {
      pool.shutdown()
      hygiene()
    }
    Json.write(s"$dir/errors.json", Json.obj(failed: _*))
  }

  def run(i: Int, tr: Tracer): java.util.Map[String, AnyRef] = {
    val latency = new java.util.LinkedHashMap[String, AnyRef]()
    val errors = new java.util.LinkedHashMap[String, AnyRef]()
    val t0 = System.nanoTime()
    tr.span("op", i) {
      order.foreach { key =>
        val k0 = System.nanoTime()
        try {
          val df = tr.span("query.build", i, key) { queries(key)(spark, data) }
          tr.span("query.exec", i, key) { df.write.format("noop").mode("overwrite").save() }
          latency.put(key, Double.box(secs(k0, System.nanoTime())))
        } catch { case t: Throwable => errors.put(key, t.toString.take(300)) }
        finally hygiene()
      }
    }
    Json.obj("seconds" -> secs(t0, System.nanoTime()), "keys" -> latency, "errors" -> errors)
  }
}
