package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.resolve]] fills in only what is not configured, so
  * spark-submit's `--master`/`--conf` reach every main. Pure: no case
  * here starts a context.
  */
class SessionsSpec extends AnyFunSuite {

  test("an empty conf resolves to local[n] with n shuffle partitions and the committed defaults") {
    val c = Sessions.resolve(new SparkConf(false), 3)
    assert(c.get("spark.master") == "local[3]")
    assert(c.get("spark.sql.shuffle.partitions") == "3")
    assert(c.get("spark.sql.autoBroadcastJoinThreshold") == "64m")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.ui.enabled") == "false")
  }

  test("a configured master and threshold win; shuffle partitions stay unset") {
    val c = Sessions.resolve(new SparkConf(false)
      .set("spark.master", "yarn")
      .set("spark.sql.autoBroadcastJoinThreshold", "10m"), 3)
    assert(c.get("spark.master") == "yarn")
    assert(c.get("spark.sql.autoBroadcastJoinThreshold") == "10m")
    assert(!c.contains("spark.sql.shuffle.partitions"))
  }

  test("with no master, configured shuffle partitions survive the local default") {
    val c = Sessions.resolve(new SparkConf(false).set("spark.sql.shuffle.partitions", "200"), 3)
    assert(c.get("spark.master") == "local[3]")
    assert(c.get("spark.sql.shuffle.partitions") == "200")
  }

  test("n defaults to SPARK_GRAFT_CPUS, else the available processors") {
    val want = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(Sessions.resolve(new SparkConf(false)).get("spark.master") == s"local[$want]")
  }

  test("source guard: one session builder in src/main, none in src/test, no master env knob") {
    import SourceLines.hits
    // split literals, so this file does not match its own needles
    val builder = "SparkSession" + ".builder"
    val masterEnv = "SPARK_" + "MASTER"
    assert(hits("src/main", builder).size == 1, hits("src/main", builder))
    assert(hits("src/test", builder).isEmpty, hits("src/test", builder))
    assert(hits("src", masterEnv).isEmpty, hits("src", masterEnv))
  }
}
