package graft.operators

import graft.{Det, Q, T}
import org.apache.spark.sql.functions._

/** Slice 0 walking skeleton (SURVEY.md §7.2): pricing summary per region.
  *
  * Exercises scan → filter (pushed to parquet) → broadcast join of the
  * small dims (region/nation/customer stay far under the broadcast
  * threshold even at 100 TB lineitem scale: dims grow ~linearly with
  * customers, not with fact rows) → shuffle join on the fact key →
  * partial+final hash aggregation → total-order sort, in one Catalyst plan.
  */
object Flagship {

  val all: Seq[Q] = Seq(
    Q(
      "flagship",
      s"""SELECT r_name, l_returnflag,
         |       ${Det.sqlDsum("l_quantity")} AS sum_qty,
         |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
         |       ${Det.sqlDavg("l_extendedprice")} AS avg_price,
         |       count(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey  = o_orderkey
         |JOIN customer ON o_custkey   = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate <  TIMESTAMP '1999-01-01'
         |GROUP BY r_name, l_returnflag
         |ORDER BY r_name, l_returnflag""".stripMargin
    ) { (s, d) =>
      val li = T.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1999-01-01").cast("timestamp"))
      // orders is fact-sized: shuffle join on the key. The planner
      // broadcasts nation/region (constant-size) and customer (grows with
      // sf) while it fits the threshold, so the big side never re-shuffles.
      li.join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(T.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(T.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("l_returnflag"))
        .agg(
          Det.dsum(col("l_quantity")).as("sum_qty"),
          round(sum(Det.dec2(col("l_extendedprice")) * (lit(1) - Det.dec2(col("l_discount")))).cast("double"), 2).as("revenue"),
          Det.davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("l_returnflag"))
    }
  )
}
