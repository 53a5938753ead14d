package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and the test suite
  * go through [[get]].
  *
  * One rule: a value that is already configured always wins —
  * spark-submit's `--master`/`--conf`, `spark-defaults.conf` or a
  * `-Dspark.*` system property (all of which reach `new SparkConf()`).
  * Otherwise the committed `defaults` fill in, and when no master is
  * configured the session runs on `local[n]` with `n` shuffle partitions,
  * where `n` is `SPARK_GRAFT_CPUS` if set, else the JVM's available
  * processors. A cluster run therefore changes only the master URL.
  */
object Sessions {
  private val defaults: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.log.level" -> "WARN")

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A copy of `conf` with its unset keys filled in; starts nothing. */
  def resolve(conf: SparkConf, n: Int = cpus): SparkConf = {
    val c = conf.clone()
    if (!c.contains("spark.master"))
      c.setMaster(s"local[$n]").setIfMissing("spark.sql.shuffle.partitions", n.toString)
    defaults.foreach { case (k, v) => c.setIfMissing(k, v) }
    c
  }

  /** `appName` overrides spark-submit's `--name`, as a builder call does;
    * `n` replaces the CPU count for a session with no master configured. */
  def get(appName: String = "", n: Int = cpus): SparkSession = {
    val b = SparkSession.builder().config(resolve(new SparkConf(), n))
    if (appName.nonEmpty) b.appName(appName)
    b.getOrCreate()
  }
}
