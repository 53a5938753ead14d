package graft

import org.apache.spark.sql.functions._

/** AQE runtime skew handling — the OTHER half of the skew story next to
  * `join_skew_salted`'s plan-level salting: no code change, the engine
  * detects the oversized partition at runtime and splits it. Pinned here
  * (not as a registry key) because proving it requires per-query skew
  * thresholds tuned to fixture scale, and conf flips are session-global.
  */
class AqeSkewSpec extends GraftSuite {

  test("AQE splits the hot partition of a skewed sort-merge join; result matches the reference") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    // 80% of the fact lands on ONE key — the straggler a static plan
    // would serialize onto a single reducer (sf0.01 so the hot
    // partition clears the tuned byte threshold)
    // skew splits happen at MAP-OUTPUT boundaries: a hot reduce
    // partition fed by a single mapper is one indivisible chunk, so
    // the fact must arrive through several map tasks (the fixture is
    // one small parquet file -> one scan task without this)
    val fact = T.lineitem(spark, "/root/testdata/sf0.01").repartition(8).select(
      when(col("l_orderkey") % 10 < 8, 0L)
        .otherwise(col("l_orderkey") % 97).as("k"),
      col("l_quantity"))
    import spark.implicits._
    val dim = (0L until 97L).map(i => (i, i * 3)).toDF("k", "w")
    val (row, plan) = withConf(confs: _*) {
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"),
             sum(Det.dec2(col("l_quantity")) * col("w")).as("s"))
      (joined.collect().head, joined.queryExecution.executedPlan.toString)
    }
    assert(plan.contains("SortMergeJoin"), s"skew demo must run as SMJ:\n$plan")
    assert(plan.contains("skew=true"),
      s"AQE must mark the hot partition as skewed and split it:\n$plan")
    // correctness is conf-independent: compare against the default-conf
    // broadcast evaluation of the identical query
    val ref = fact.join(broadcast(dim), "k")
      .agg(count(lit(1)).as("n"),
           sum(Det.dec2(col("l_quantity")) * col("w")).as("s")).collect().head
    assert(row.getLong(0) == ref.getLong(0) && row.getDecimal(1) == ref.getDecimal(1),
      s"skew-split result must equal the reference: $row vs $ref")
  }
}
