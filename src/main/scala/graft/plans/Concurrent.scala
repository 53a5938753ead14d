package graft.plans

import org.apache.spark.sql.SparkSession

/** Runs a job's independent Spark actions side by side (the lake writes of
  * [[OsmEtlJob]], the table loads of [[PostgisLoadJob]]). A single write
  * often has fewer tasks than the executors have slots; a second write
  * submitted beside it fills the idle slots from Spark's own scheduler.
  *
  * The number of branches is fixed by each job's dataflow, so there is no
  * pool and no thread-count setting.
  */
private[graft] object Concurrent {

  /** Runs every branch on a thread started by this call and returns their
    * results in branch order.
    *
    *  - Fresh threads, never a pool: Spark copies the caller's local
    *    properties (job description, scheduler pool, any tracing tag) into
    *    a thread when it is created, so every job a branch submits is
    *    attributed exactly as if the caller had submitted it. A pooled
    *    thread would keep the properties of whichever call created it.
    *  - Always waits for every branch, also when one has failed, so no
    *    write is still running after this returns or throws.
    *  - Rethrows the first failure; later ones ride along as suppressed.
    */
  def all[A](branches: (() => A)*): Seq[A] = {
    val results = new Array[Any](branches.size)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      new Thread(() =>
        try results(i) = branch()
        catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start())
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(failures.poll()).foreach { first =>
      failures.forEach(first.addSuppressed(_))
      throw first
    }
    results.toSeq.asInstanceOf[Seq[A]]
  }

  /** Runs `body` with `description` as the Spark job description (what the
    * Spark UI and the job-start log show for its jobs), then restores the
    * calling thread's previous description. */
  def described[A](spark: SparkSession, description: String)(body: => A): A = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body
    finally sc.setJobDescription(previous)
  }
}
