package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The timed side of the benchmark: one JVM, one session on local[4], one
  * closed-loop client running one workload's operation back to back.
  *
  * `run.py` generates the inputs, starts this main, and checks the outputs
  * it leaves behind; this main only times, traces and keeps the program's
  * outputs for checking. Nothing is checked inside a timed interval.
  *
  * Flags (all required unless noted):
  *   --workload osm_chain|osm_incremental|query_mix  --seed n  --seconds s
  *   --trace 0|1  --data dir  --work dir  --out file  --start-ms epoch-ms
  *   [--prev dir]        last week's snapshot (osm_incremental)
  *   [--keys file]       JSON list of registry keys (query_mix)
  *   [--trace-file file] where a traced run writes its spans
  *   [--min-runs n]      timed runs to make even past --seconds (default 3;
  *                       a traced process makes 2n + 1, untraced first and last)
  *   [--deadline-ms t]   epoch ms after which no new run starts
  */
object Main {
  val Cpus = 4

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def session(work: String, workload: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.default.parallelism", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded status-store retention, so heap after GC tracks program state
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Constant-shape CPU probe: its cost depends only on the CPU the box
    * gives this JVM, so drift in it is contention, not code. */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(40L * 1000 * 1000).selectExpr("sum(cast(id as double) * 2654435761.0)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .trim.split(" ").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** Heap in use once a full GC stops freeing memory. Between GCs, Spark's
    * ContextCleaner drops the cached blocks, broadcasts and shuffles whose
    * owners the previous GC collected, so a single GC reads a value that
    * depends on the cleaner's timing. */
  def liveHeapMb(): Double = {
    def usedAfterGc() = {
      val g0 = gcMs()
      System.gc()
      forcedGcMs += gcMs() - g0
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var before = usedAfterGc()
    var after = before
    var rounds = 0
    do {
      before = after
      Thread.sleep(200)
      after = usedAfterGc()
      rounds += 1
    } while (rounds < 6 && before - after > (1L << 20))
    after / 1048576.0
  }

  /** GC time spent in [[liveHeapMb]]'s own full GCs, kept out of `jvm.gc_s`. */
  private var forcedGcMs = 0L

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def loadedClasses(): Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap)
    val work = args("work")
    val mainMs = System.currentTimeMillis()
    val spark = session(work, args("workload"))
    val sessionMs = System.currentTimeMillis()
    val out = Json.obj()
    try {
      val seed = args("seed").toLong
      val workload: Workload = args("workload") match {
        case "osm_chain" => new OsmChain(spark, args("data"), work)
        case "osm_incremental" => new OsmIncremental(spark, args("data"), args("prev"), work)
        case "query_mix" => new QueryMix(spark, args("data"), work, args("keys"), seed)
        case other => sys.error(s"unknown workload $other")
      }
      val traced = args("trace") == "1"
      val tracer = new Tracer(spark)
      Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver") // Derby driver registration
      workload.setup()
      val setupMs = System.currentTimeMillis()
      sentinel(spark) // the probe's own first run pays codegen; keep it out of the record
      liveHeapMb()

      val runs = mutable.ArrayBuffer.empty[java.util.Map[String, AnyRef]]
      val seconds = args("seconds").toDouble
      // traced: untraced and traced runs alternate, U T U T … U, so each
      // traced run sits between two untraced ones (see Layers' overhead)
      val minRuns = args.get("min-runs").map(_.toInt).getOrElse(3) match {
        case n if traced => 2 * n + 1
        case n => n
      }
      val (gc0, jit0, cls0) = (gcMs() - forcedGcMs, jitMs(), loadedClasses())
      val setupS = (System.currentTimeMillis() - args("start-ms").toLong) / 1000.0
      val t0 = System.nanoTime()
      var i = 0
      val deadline = args.get("deadline-ms").map(_.toLong).getOrElse(Long.MaxValue)
      var lastMs = 0L
      def isTraced(run: Int) = traced && run % 2 == 1
      def more = i < minRuns || (System.nanoTime() - t0) / 1e9 < seconds || isTraced(i - 1)
      // a run that would end past the deadline is not started (the first always is)
      while (more && (i == 0 || System.currentTimeMillis() + lastMs * 3 / 2 < deadline)) {
        val runStart = System.currentTimeMillis()
        val tracedRun = isTraced(i)
        val (sent0, load0) = (sentinel(spark), loadavg1())
        if (tracedRun) tracer.attach()
        // a run that throws is a failed op and contributes no timing
        val rec = try workload.run(i, tracer)
          catch { case t: Throwable => Json.obj("error" -> t.toString.take(300)) }
        if (tracedRun) tracer.detach()
        if (!rec.containsKey("error")) workload.afterRun(i, rec)
        rec.put("traced", Boolean.box(tracedRun))
        rec.put("live_heap_mb", Double.box(liveHeapMb()))
        rec.put("sentinel_s", Json.list(Seq(sent0, sentinel(spark))))
        rec.put("loadavg1", Json.list(Seq(load0, loadavg1())))
        runs += rec
        System.err.println(s"[perfbench] run $i ${rec.getOrDefault("seconds", rec.get("error"))} s" +
          (if (tracedRun) " (traced)" else ""))
        i += 1
        lastMs = System.currentTimeMillis() - runStart
      }
      val measureS = (System.nanoTime() - t0) / 1e9
      val jvm = Json.obj("gc_s" -> (gcMs() - forcedGcMs - gc0) / 1000.0, "jit_s" -> (jitMs() - jit0) / 1000.0,
        "loaded_classes" -> (loadedClasses() - cls0), "measure_s" -> measureS)
      out.put("setup_s", Double.box(setupS))
      // where set-up time went: inputs and JVM start, session, workload set-up
      out.put("setup_phases", Json.obj(
        "until_main_s" -> (mainMs - args("start-ms").toLong) / 1000.0,
        "session_s" -> (sessionMs - mainMs) / 1000.0,
        "workload_setup_s" -> (setupMs - sessionMs) / 1000.0))
      out.put("runs", Json.list(runs))
      out.put("jvm", jvm)
      out.put("checks", Json.list(workload.finish().map { case (name, ok, detail) =>
        Json.obj("name" -> name, "ok" -> ok, "detail" -> detail) }))
      if (traced) {
        tracer.drain()
        val modules = Json.readKeys(args("keys")).map(_._2).distinct.sorted
        val layers = new Layers(tracer, workload, modules, runs.toSeq, jvm)
        out.put("per_layer", layers.metrics)
        out.put("not_applicable", layers.notApplicable)
        out.put("tracing_overhead_samples", Int.box(layers.overheadSamples))
        args.get("trace-file").foreach(Json.write(_, tracer.json))
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        out.put("error", s"${t.getClass.getName}: ${t.getMessage}")
    } finally {
      Json.write(args("out"), out)
      spark.stop()
    }
  }
}
