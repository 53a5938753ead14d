package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev measurement tool (optimization rounds): runs ONE registered
  * query in a [[Sessions]] session, materialized in full by a `noop`
  * write as the benchmark does (a `count()` would let Catalyst prune
  * sorts, windows, joins and fused kernels, profiling a plan no user
  * runs), and prints a per-stage breakdown — wall duration, task count,
  * executor run time, input / shuffle-read / shuffle-write bytes, and the
  * first call-site line — so "where do the barrier jobs spend" claims in
  * OPTIMIZATION_*.md rest on stage numbers, not assertion.
  *
  * Usage: runMain graft.StageProfile <key> [sfDir] [runs]
  * Only the LAST run's stages are printed (first runs pay codegen/JIT).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Sessions.get()

    case class St(id: Int, name: String, wallMs: Long, tasks: Int,
                  execMs: Long, inMB: Double, srMB: Double, swMB: Double,
                  site: String)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages += St(si.stageId, si.name.takeWhile(_ != '\n'),
          (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L),
          si.numTasks, m.executorRunTime,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          si.details.linesIterator.toSeq.headOption.getOrElse(""))
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs += ((e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
    })

    val fn = SparkEntry.queries(key)
    for (r <- 1 to runs) {
      stages.clear(); jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.Caches.drain()
      spark.catalog.clearCache()
      // listener events are posted asynchronously; give the bus a moment
      Thread.sleep(300)
      System.err.println(f"[stageprofile] $key run $r/$runs total ${dt}%.3f s, ${stages.size} stages")
      if (r == runs) {
        println(f"== $key run $r (total ${dt}%.3f s) ==")
        println(f"${"stage"}%5s ${"wall_ms"}%8s ${"tasks"}%5s ${"exec_ms"}%8s " +
          f"${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s  name / site")
        stages.sortBy(_.id).foreach { s =>
          println(f"${s.id}%5d ${s.wallMs}%8d ${s.tasks}%5d ${s.execMs}%8d " +
            f"${s.inMB}%8.1f ${s.srMB}%8.1f ${s.swMB}%8.1f  ${s.name.take(60)} | ${s.site.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
