package perfbench

/** Per-layer metrics of a traced process, named by module. Every metric is
  * a mean per traced run unless it says otherwise; a metric that does not
  * apply to the workload reads 0 and is listed in [[notApplicable]] with
  * the reason. */
final class Layers(tr: Tracer, workload: Workload, modules: Seq[String],
                   runs: Seq[java.util.Map[String, AnyRef]], jvm: java.util.Map[String, AnyRef]) {
  import Layers._

  private val traced: Seq[Int] = runs.indices.filter(i => runs(i).get("traced") == java.lang.Boolean.TRUE)
  private val n = math.max(1, traced.size).toDouble
  private def tracedRuns = traced.map(runs)
  private val opOf: Map[Int, Int] = tr.spans.map(s => s.id -> s.op).toMap
  private def spansOf(layer: String) = tr.spans.filter(s => s.name == layer && traced.contains(s.op))

  val metrics = new java.util.LinkedHashMap[String, AnyRef]()
  val notApplicable = new java.util.LinkedHashMap[String, AnyRef]()

  private def put(name: String, v: Double): Unit = metrics.put(name, Double.box(v))
  private def na(names: Seq[String], why: String): Unit = names.foreach { m =>
    put(m, 0.0); notApplicable.put(m, why)
  }
  private def num(rec: java.util.Map[String, AnyRef], k: String): Double =
    Option(rec.get(k)).map(_.toString.toDouble).getOrElse(0.0)
  private def sub(rec: java.util.Map[String, AnyRef], k: String): Map[String, Double] =
    Option(rec.get(k)).map(_.asInstanceOf[java.util.Map[String, AnyRef]]).map { m =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (a, b) => a -> b.toString.toDouble }.toMap
    }.getOrElse(Map.empty)

  private val applies: Map[String, Boolean] = workload match {
    case _: OsmChain => Map("etl" -> true, "load" -> true, "query" -> false)
    case _: OsmIncremental => Map("etl" -> true, "load" -> false, "query" -> false)
    case _ => Map("etl" -> false, "load" -> false, "query" -> true)
  }
  private def layerName(l: String) = l.takeWhile(_ != '.')

  // Spark counters per layer
  for (layer <- SparkLayers) {
    val names = CounterNames.map(c => s"$layer.$c")
    if (!applies(layerName(layer))) na(names, s"the workload makes no $layer call")
    else {
      val spans = spansOf(layer)
      val cs = spans.map(s => tr.countersOf(s.id))
      def sum(f: Counters => Long) = cs.map(f).sum.toDouble / n
      put(s"$layer.jobs", sum(_.jobs))
      put(s"$layer.stages", sum(_.stages))
      put(s"$layer.tasks", sum(_.tasks))
      put(s"$layer.failed_tasks", sum(_.failedTasks))
      put(s"$layer.executor_run_s", sum(_.runMs) / 1e3)
      put(s"$layer.executor_cpu_s", sum(_.cpuNs) / 1e9)
      put(s"$layer.gc_s", sum(_.gcMs) / 1e3)
      put(s"$layer.shuffle_read_mb", sum(_.shuffleRead) / Mb)
      put(s"$layer.shuffle_write_mb", sum(_.shuffleWrite) / Mb)
      put(s"$layer.shuffle_fetch_wait_s", sum(_.fetchWaitMs) / 1e3)
      put(s"$layer.spill_mb", sum(_.spill) / Mb)
      put(s"$layer.input_mb", sum(_.input) / Mb)
      put(s"$layer.output_mb", sum(_.output) / Mb)
      put(s"$layer.self_s", spans.map(tr.selfSeconds).sum / n)
    }
  }

  private val planSpans = tr.planSpans.flatMap { case (p, s) =>
    s.flatMap(opOf.get).filter(traced.contains).map(_ => p -> s.get) }
  private def spanName(id: Int) = tr.spans(id).name

  // etl only
  workload match {
    case _: OsmChain =>
      for (st <- EtlStages) put(s"etl.${st}_s", tracedRuns.map(sub(_, "stages").getOrElse(st, 0.0)).sum / n)
    case _ => na(EtlStages.map(st => s"etl.${st}_s"),
      "stage seconds are what OsmEtlJob.runTimed returns; only osm_chain calls it")
  }
  if (applies("etl")) {
    val inputPerRun = spansOf("etl").map(s => tr.countersOf(s.id).input).sum / n
    put("etl.rescan_ratio", inputPerRun / math.max(1L, workload.etlInputBytes))
    put("etl.lake_files", tracedRuns.map(num(_, "lake_files")).sum / n)
  } else na(Seq("etl.rescan_ratio", "etl.lake_files"), "the workload makes no etl call")

  // load only
  if (applies("load")) {
    val rows = tracedRuns.map(r => sub(r, "loaded").values.sum).sum
    put("load.rows", rows / n)
    put("load.rows_per_s", rows / math.max(1e-9, spansOf("load").map(_.seconds).sum))
    val scans = planSpans.collect { case (p, s) if spanName(s) == "load" => p.counts("file_scans") }.sum
    put("load.lake_reads", scans / n / Workload.LakeTables.size)
  } else na(LoadNames, "the workload makes no PostgisLoadJob.load call")

  // query modules: summed key latency per operators module
  val moduleNames = modules.map(m => s"query.${m}_s")
  workload match {
    case q: QueryMix =>
      for (m <- modules) put(s"query.${m}_s", tracedRuns.map { r =>
        sub(r, "keys").collect { case (k, v) if q.moduleOf.get(k).contains(m) => v }.sum
      }.sum / n)
    case _ => na(moduleNames, "the workload runs no registry key")
  }

  // plan shapes over every executed plan attributed to a traced run
  put("plan.planning_s", planSpans.map(_._1.planningMs).sum / 1e3 / n)
  for (shape <- PlanShapes) put(s"plan.$shape", planSpans.map(_._1.counts(shape)).sum / n)

  // jvm: over every timed run, per run
  private val nRuns = math.max(1, runs.size).toDouble
  put("jvm.gc_s", jvm.get("gc_s").toString.toDouble / nRuns)
  put("jvm.jit_s", jvm.get("jit_s").toString.toDouble / nRuns)
  put("jvm.loaded_classes", jvm.get("loaded_classes").toString.toDouble / nRuns)

  // box context: medians of the before/after samples of every run
  private def samples(k: String) = runs.flatMap { r =>
    import scala.jdk.CollectionConverters._
    r.get(k).asInstanceOf[java.util.List[AnyRef]].asScala.map(_.toString.toDouble)
  }
  put("box.sentinel_s", Main.median(samples("sentinel_s")))
  put("box.loadavg1", Main.median(samples("loadavg1")))

  // tracing overhead: each traced run minus the mean of the untraced runs
  // on either side of it, so drift that is linear over the three cancels;
  // the median over these triples is reported, with their number. The first
  // run is often slower than the rest, so the triple that uses it counts
  // only when there is no other (a `query_mix` process has time for three
  // passes, so for one triple).
  private val allTriples = runs.indices.drop(1).dropRight(1).collect {
    case i if runs(i).get("traced") == java.lang.Boolean.TRUE && !runs(i).containsKey("error") &&
        Seq(i - 1, i + 1).forall(j => runs(j).get("traced") != java.lang.Boolean.TRUE &&
          !runs(j).containsKey("error")) =>
      val plain = (num(runs(i - 1), "seconds") + num(runs(i + 1), "seconds")) / 2
      (i, num(runs(i), "seconds") - plain, plain)
  }
  private val triples =
    if (allTriples.exists(_._1 > 1)) allTriples.filter(_._1 > 1) else allTriples
  val overheadSamples: Int = triples.size
  private val overhead = Main.median(triples.map(_._2))
  private val plainMed = Main.median(triples.map(_._3))
  put("trace.overhead_s", overhead)
  put("trace.overhead_ratio", if (plainMed > 0) overhead / plainMed else 0.0)
  if (triples.isEmpty) na(Seq("trace.overhead_s", "trace.overhead_ratio"),
    "no traced run had an untraced run on both sides before the deadline")
}

object Layers {
  val Mb = 1048576.0
  val SparkLayers = Seq("etl", "load", "query.build", "query.exec")
  val CounterNames = Seq("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "shuffle_fetch_wait_s",
    "spill_mb", "input_mb", "output_mb", "self_s")
  val EtlStages = Seq("ways", "relations", "areas", "layers", "count_readback")
  val LoadNames = Seq("load.rows", "load.rows_per_s", "load.lake_reads")
  val PlanShapes: Seq[String] = PlanShape.Names.filterNot(_ == "file_scans")
}
