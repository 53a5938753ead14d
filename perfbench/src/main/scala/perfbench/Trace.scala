package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call from the benchmark into a layer's public function. `op` is the
  * timed operation the span belongs to; every span of one op shares it. */
final case class Span(id: Int, name: String, detail: String, op: Int, parent: Int,
                      startMs: Long, startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters summed over the jobs attributed to one span. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Shape of one executed plan, as the QueryExecutionListener saw it; `qe`
  * is the identity hash of its QueryExecution. */
final case class PlanShape(qe: Int, counts: Map[String, Long], planningMs: Long)

object PlanShape {
  val Names: Seq[String] = Seq("bhj", "smj", "shj", "bnlj", "exchanges", "broadcasts",
    "wscg", "sorts", "windows", "fused_exprs", "codegen_fallback", "file_scans")

  /** Every physical node, descending into adaptive plans, query stages and
    * subqueries. Reused exchanges are counted once, where they were built. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(qe: QueryExecution): PlanShape = {
    val all = nodes(qe.executedPlan)
    def n(f: PartialFunction[SparkPlan, Unit]) = all.count(f.isDefinedAt).toLong
    val exprs = all.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val counts = Map(
      "bhj" -> n { case _: BroadcastHashJoinExec => },
      "smj" -> n { case _: SortMergeJoinExec => },
      "shj" -> n { case _: ShuffledHashJoinExec => },
      "bnlj" -> n { case _: BroadcastNestedLoopJoinExec => },
      "exchanges" -> n { case _: ShuffleExchangeExec => },
      "broadcasts" -> n { case _: BroadcastExchangeExec => },
      "wscg" -> n { case _: WholeStageCodegenExec => },
      "sorts" -> n { case _: SortExec => },
      "windows" -> n { case _: WindowExec => },
      "fused_exprs" -> exprs.count(_.getClass.getName.startsWith("graft.functions.")).toLong,
      "codegen_fallback" -> exprs.count(_.isInstanceOf[CodegenFallback]).toLong,
      "file_scans" -> n { case _: FileSourceScanExec => })
    val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
    PlanShape(System.identityHashCode(qe), counts, planningMs)
  }
}

/** Records spans around the benchmark's calls into the program and, while
  * attached, attributes every Spark job, stage, task and executed plan to
  * the span that caused it.
  *
  * Attribution goes through a local property the benchmark sets on the
  * calling thread before each call ([[SpanProperty]]): Spark copies local
  * properties into every job it submits from that thread, so the
  * SparkListener reads the span id back from the job's properties. Executed
  * plans are tied to spans through the SQL execution id that the same jobs
  * carry (the SQL execution-end event names the QueryExecution it ran); an
  * execution that ran no job is placed by its start time.
  *
  * Everything is kept in memory; [[json]] renders it once at the end.
  */
final class Tracer(spark: SparkSession) {
  val SpanProperty = "perfbench.span"
  private val sc = spark.sparkContext

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var attached = false

  // listener state; written on the listener thread, read after drain()
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val execStartMs = mutable.Map.empty[Long, Long]
  private val qeExecution = mutable.Map.empty[Int, Long]
  val plans = mutable.ArrayBuffer.empty[PlanShape]

  private def spanOf(props: Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt)

  def countersOf(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { s =>
        jobSpan(e.jobId) = s
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = s)
        countersOf(s).jobs += 1
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.getOrElseUpdate(x.toLong, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      for (s <- jobSpan.get(e.jobId); t0 <- jobStartMs.get(e.jobId))
        countersOf(s).jobIntervals += ((t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(countersOf(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = countersOf(s)
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized { execStartMs(s.executionId) = s.time }
      case s: SparkListenerSQLExecutionEnd =>
        Option(PerfbenchSql.queryExecution(s)).foreach { qe =>
          Tracer.this.synchronized { qeExecution(System.identityHashCode(qe)) = s.executionId }
        }
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val shape = PlanShape.of(qe)
      Tracer.this.synchronized { plans += shape }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Attach the listeners: from here on, Spark work is attributed. */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    attached = true
  }

  /** Detach the listeners after delivering every event already posted. */
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Run `body` inside a span; nested calls become child spans. */
  def span[A](name: String, op: Int, detail: String = "")(body: => A): A = {
    val parent = stack.headOption
    val s = Span(spans.size, name, detail, op, parent.map(_.id).getOrElse(-1),
                 System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
    }
  }

  /** The innermost span whose interval holds `ms`. */
  private def spanAt(ms: Long): Option[Int] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(-_.startMs).headOption.map(_.id)

  /** Span each executed plan belongs to (after [[drain]]). */
  def planSpans: Seq[(PlanShape, Option[Int])] = synchronized {
    plans.toSeq.map(p => p -> qeExecution.get(p.qe).flatMap(x =>
      execSpan.get(x).orElse(execStartMs.get(x).flatMap(spanAt))))
  }

  /** Seconds of `span` not covered by any Spark job attributed to it. */
  def selfSeconds(span: Span): Double = synchronized {
    val ivs = counters.get(span.id).toSeq.flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, span.startMs), math.min(b, span.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    for ((a, b) <- ivs) {
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    math.max(0.0, span.seconds - covered / 1000.0)
  }

  /** Spans, per-span counters and plan shapes, for the trace file. */
  def json: java.util.Map[String, AnyRef] = synchronized {
    val out = Json.obj()
    val planOf = planSpans
    out.put("spans", Json.list(spans.toSeq.map { s =>
      val o = Json.obj("id" -> s.id, "name" -> s.name, "detail" -> s.detail, "op" -> s.op,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "self_s" -> selfSeconds(s))
      counters.get(s.id).foreach { c =>
        o.put("counters", Json.obj("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "failed_tasks" -> c.failedTasks, "executor_run_ms" -> c.runMs,
          "executor_cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs, "shuffle_read_bytes" -> c.shuffleRead,
          "shuffle_write_bytes" -> c.shuffleWrite, "fetch_wait_ms" -> c.fetchWaitMs,
          "spill_bytes" -> c.spill, "input_bytes" -> c.input, "output_bytes" -> c.output))
      }
      o
    }))
    out.put("plans", Json.list(planOf.map { case (p, s) =>
      val o = Json.obj("execution_id" -> qeExecution.getOrElse(p.qe, -1L), "span" -> s.getOrElse(-1),
                       "planning_ms" -> p.planningMs)
      p.counts.foreach { case (k, v) => o.put(k, Long.box(v)) }
      o
    }))
    out
  }
}
