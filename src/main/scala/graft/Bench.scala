package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark: runs every registered query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) in a [[Sessions]] session and
  * emits machine-readable timings.
  *
  * Output contract (driver tail-captures ~2000 chars of stdout, so the
  * record is made robust to that):
  *  - per-query progress goes to STDERR (never pollutes the stdout tail);
  *  - the full record is ALSO written to ./BENCH_FULL.json;
  *  - stdout gets the full `{"metric":"total",...}` line, then a compact
  *    total-only line LAST so a tail capture always contains one complete,
  *    parseable record (the full line's queries map alone exceeds 2 KB).
  *
  * Stability protocol (VERDICT r3 item 5: the same code recorded 59.5s /
  * 65.5s / 93.9s totals on the shared box — the gate must not hinge on
  * box weather): the suite now runs SPARK_GRAFT_RUNS (default 3) FULL
  * sweeps in one JVM. Per query, the reported time is the MIN across all
  * sweeps × intra-sweep repeats (steady-state plan cost — what predicts
  * cluster behavior). The headline `value` is the MEDIAN of complete
  * sweep totals (sweep 1 carries one-time codegen/JIT; the median sheds
  * both that and one-off noise spikes); all sweep totals are recorded so
  * consecutive artifacts can be compared run-over-run.
  *
  * JVM-lifecycle hygiene (round-2 lesson: identical trivial plans ran
  * 10–50× slower at the END of the 122-query single-JVM run — the
  * signature of code-cache/metaspace pressure from accumulated janino
  * classes and unreaped broadcasts, not plan regressions):
  *  - every query: Caches.drain + clearCache (bucket tables persist —
  *    join_bucketed's layout write is one-time by design);
  *  - every GC_EVERY queries: System.gc() — a full GC unloads dead
  *    generated classes (freeing JIT code cache + metaspace) and lets
  *    ContextCleaner reap broadcast blocks;
  *  - build.sbt gives the forked JVM -XX:ReservedCodeCacheSize headroom.
  *
  * Contention self-adjudication (VERDICT r8 item 1: the driver's round-8
  * record reported 539 s for code independently measured at ~75 s — box
  * weather a reader could not distinguish from a regression): every sweep
  * is now bracketed by (a) a fixed SENTINEL query — a constant-shape
  * range→sum whose steady-state cost depends only on available CPU, so
  * any drift across the run is the box, never the code under test — and
  * (b) a /proc/loadavg snapshot. The record carries both series plus a
  * derived `"contended"` flag (sentinel drift AND absolute slowdown, OR
  * steady-state sweep totals spreading >30% — first sweep excluded as it
  * pays one-time layout builds). A
  * contended record is self-labelling: compare `total_min`s across
  * rounds instead of trusting its median.
  */
object Bench {

  /** Constant-shape CPU sentinel: ~0.1–0.3 s of pure codegen'd arithmetic
    * on an unloaded local[n]; no IO, no shuffle, no caching — its only
    * variable is how much CPU the box is actually giving this JVM. */
  private[graft] def sentinelSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200L * 1000 * 1000)
      .selectExpr("sum(cast(id as double) * 2654435761.0)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** 1/5/15-min load averages, best-effort (empty off-Linux). */
  private[graft] def loadavg(): Seq[Double] =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split(" ").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.get()
    // local A/B profiling aid (optimization rounds): extra runtime SQL
    // confs as "k=v;k2=v2", set on the session after it starts (a static
    // key fails loudly). Unset, the bench runs the committed
    // configuration. A run with extras is self-labelling (ADVICE r19):
    // it lands in BENCH_FILTERED.json, never the canonical
    // BENCH_FULL.json, and the override string is stamped into the
    // emitted record.
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").filter(_.nonEmpty)
    extraConf.foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    // local profiling aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run;
    // the driver never sets it, so the recorded bench is always complete.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_RUNS full sweeps; SPARK_GRAFT_REPEAT executions per
    // query within a sweep (min taken over all runs × repeats).
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3)
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1)
    val GC_EVERY = 8
    // Start-contention gate (VERDICT r17 #2: the r17 record's first sweep
    // ran at loadavg 7.62 and polluted four keys' medians). If the box is
    // visibly busy BEFORE anything is measured, wait — bounded — for the
    // load to drain rather than recording a self-labelled-but-noisy
    // artifact. The wait and the observed load are recorded so a gated
    // run is auditable; refusing outright would lose the round artifact.
    val loadGate = sys.env.get("SPARK_GRAFT_LOAD_GATE").map(_.toDouble).getOrElse(6.0)
    var gateWait = 0
    while (loadavg().headOption.exists(_ > loadGate) && gateWait < 180) {
      System.err.println(s"[bench] loadavg ${loadavg().headOption.getOrElse(-1.0)} > $loadGate — waiting")
      Thread.sleep(10000); gateWait += 10
    }
    val startLoad = loadavg()
    // pipeline-chain round artifact FIRST (VERDICT r8 item 3: run after
    // three sweeps it inherited bench-JVM state — accumulated Derby
    // caches + codegen classes swung load_sec 5.5 s → 32.5 s between
    // runs; a fresh-JVM measurement is the reproducible one). Chain
    // state is dropped before the sweeps start (clearCache + full GC).
    // Best-effort: a chain failure is reported, never fails the bench.
    try {
      val chainSf = sys.env.getOrElse("SPARK_GRAFT_CHAIN_SF_DIR", "/root/testdata/sf0.01")
      System.err.println("[bench] " + graft.plans.PipelineChain.record(spark, chainSf))
    } catch {
      case t: Throwable => System.err.println(
        s"[bench] pipeline_chain FAILED: ${Option(t.getMessage).getOrElse(t.getClass.getName).take(200)}")
    }
    spark.catalog.clearCache()
    System.gc()
    val wall0 = System.nanoTime()
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    var done = 0
    // one untimed sentinel execution first: the very first run pays
    // one-off codegen/JIT (measured 1.0 s vs 0.3 s steady) — that is JVM
    // warm-up, not box weather, and must not trip the contended flag
    sentinelSec(spark)
    // per sweep: [sentinel-at-start, sentinel-at-end] and loadavg-at-start
    val sentinels = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val loads = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    val sweepWall = scala.collection.mutable.ArrayBuffer[Double]()
    // perRun(r): name -> seconds for queries that succeeded in sweep r
    val perRun: Seq[Map[String, Double]] = (1 to runs).map { r =>
      loads += loadavg()
      val s0 = sentinelSec(spark)
      val sw0 = System.nanoTime()
      val m = names.flatMap { case (name, fn) =>
        val times = (1 to repeat).flatMap { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch {
              case t: Throwable =>
                errors(name) = Option(t.getMessage).getOrElse(t.getClass.getName).take(200)
                false
            }
          val dt = (System.nanoTime() - t0) / 1e9
          // operators may cache small intermediates; drop them so queries
          // don't compete for executor memory across the run. Bucket
          // tables are NOT dropped: join_bucketed's layout write is a
          // one-time Scratch.layout, so the bench measures the
          // zero-Exchange steady-state read.
          graft.Caches.drain()
          spark.catalog.clearCache()
          if (ok) Some(dt) else None
        }
        done += 1
        if (done % GC_EVERY == 0) System.gc()
        // a failed query contributes NO timing (VERDICT r2: a fast
        // exception path must never masquerade as a fast query)
        val rec = times.minOption.map(name -> _)
        System.err.println(
          rec.fold(s"[bench] run $r/$runs $name FAILED: ${errors.getOrElse(name, "?")}") {
            case (_, t) => f"[bench] run $r/$runs $name ${t}%.3f s"
          })
        rec
      }.toMap
      sweepWall += (System.nanoTime() - sw0) / 1e9
      val s1 = sentinelSec(spark)
      sentinels += ((s0, s1))
      System.err.println(
        f"[bench] run $r/$runs sentinel $s0%.3f→$s1%.3f s load=${loads.last.mkString(",")}")
      m
    }
    val wall = (System.nanoTime() - wall0) / 1e9
    val sentAll = sentinels.flatMap(t => Seq(t._1, t._2))
    // ratio alone is too twitchy at this sentinel's ~0.1-0.3 s healthy
    // range (a 0.45 s scheduler blip over a 0.12 s min is 3.7× but means
    // nothing); real contention events measured 2-5 s sentinels, so the
    // flag requires BOTH drift and an absolute slowdown
    val sentContended = sentAll.nonEmpty &&
      sentAll.max > 3 * sentAll.min && sentAll.max > 0.5
    def jnum(v: Double): String = f"$v%.3f"
    // per-query steady-state cost: min over every successful execution
    val best: Seq[(String, Double)] = names.map(_._1)
      .flatMap(n => perRun.flatMap(_.get(n)).minOption.map(n -> _))
    // sweep totals, only over sweeps in which every query succeeded —
    // a partial sweep's total would undercount and skew the median down
    val complete = perRun.filter(_.size == names.size)
    val totals = complete.map(_.values.sum)
    val sortedTotals = totals.sorted
    val median =
      if (sortedTotals.isEmpty) best.map(_._2).sum // all sweeps partial: fall back
      else sortedTotals(sortedTotals.size / 2)
    val qs = best.map { case (k, v) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
    }.mkString("{", ",", "}")
    val totalsJson = totals.map(jnum).mkString("[", ",", "]")
    val minTotal = sortedTotals.headOption.getOrElse(best.map(_._2).sum)
    val sentJson = sentinels.map { case (a, b) => s"[${jnum(a)},${jnum(b)}]" }
      .mkString("[", ",", "]")
    val loadJson = loads.map(_.map(jnum).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val sweepWallJson = sweepWall.map(jnum).mkString("[", ",", "]")
    // Second canary (VERDICT r10: a 55% inter-sweep spread slipped past
    // the absolute sentinel gate): steady-state sweep totals — the FIRST
    // sweep is excluded because it legitimately pays the one-time layout
    // builds (IVF index, bucket tables) and JIT — must agree within 30%
    // on identical code, or the run self-labels contended.
    val steady = if (totals.size > 1) totals.drop(1) else totals
    val steadySpread =
      if (steady.size > 1 && steady.min > 0) steady.max / steady.min else 1.0
    val contended = sentContended || steadySpread > 1.3
    val canary =
      s""""sentinels":$sentJson,"loadavg":$loadJson,"sweep_wall":$sweepWallJson,""" +
        s""""start_loadavg":${startLoad.map(jnum).mkString("[", ",", "]")},""" +
        s""""gate_wait_sec":$gateWait,""" +
        extraConf.fold("")(c =>
          s""""extra_conf":"${c.replaceAll("[\"\\\\\\n\\r\\t]", " ")}",""") +
        s""""steady_spread":${jnum(steadySpread)},"contended":$contended"""
    val full =
      s"""{"metric":"total","value":${jnum(median)},"unit":"sec","queries":$qs,""" +
        s""""errors":$es,"n_queries":${best.size},"runs":$runs,"repeat":$repeat,""" +
        s""""run_totals":$totalsJson,"total_median":${jnum(median)},"total_min":${jnum(minTotal)},""" +
        s""""sum_of_query_mins":${jnum(best.map(_._2).sum)},$canary,""" +
        s""""wall_sec":${jnum(wall)},"sf":"$sfDir"}"""
    // A SPARK_GRAFT_ONLY-filtered profiling run must NEVER overwrite the
    // committed full-inventory artifact (ADVICE r11: an 11-query filtered
    // record shipped as BENCH_FULL.json while the docs described the full
    // sweep) — filtered runs land in BENCH_FILTERED.json instead.
    val artifact =
      if (only.isEmpty && extraConf.isEmpty) "BENCH_FULL.json"
      else "BENCH_FILTERED.json"
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // best-effort; stdout is the contract
    println(full)
    // compact duplicate LAST: complete within any >=2000-char stdout tail.
    // The full 381-key map alone exceeds that tail, which left the driver
    // per-query-blind (PERF_r19 per_query:{} — VERDICT r19 item 2): carry
    // the ~25 SLOWEST keys' mins here so round-over-round regression
    // detection covers everything that matters while the line stays well
    // under the capture window (~25 × ~30 chars + ~500 chars of canary).
    val topQs = best.sortBy(-_._2).take(25)
      .map { case (k, v) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${jnum(median)},"unit":"sec","queries":$topQs,""" +
        s""""n_queries":${best.size},"n_errors":${errors.size},"runs":$runs,""" +
        s""""run_totals":$totalsJson,"total_min":${jnum(minTotal)},$canary,""" +
        s""""wall_sec":${jnum(wall)},"sf":"$sfDir","full_record":"$artifact"}""")
    spark.stop()
  }
}
