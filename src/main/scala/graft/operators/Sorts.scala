package graft.operators

import graft.{Q, T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.F — sorts, limits, top-k.
  *
  * Reference evidence: index build order / clustered layout post-load
  * (`/root/reference/README.md:93`). Global sort = range-partitioned
  * exchange; top-k = `TakeOrderedAndProject` (each partition keeps k, the
  * driver merges — never a full sort at scale).
  */
object Sorts {

  val all: Seq[Q] = Seq(
    Q(
      "sort_global",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin
    ) { (s, d) =>
      T.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    },

    Q(
      "limit",
      """SELECT o_orderkey, o_orderdate
        |FROM orders
        |ORDER BY o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin
    ) { (s, d) =>
      T.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },

    Q(
      "topk",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin
    ) { (s, d) =>
      // orderBy+limit fuses to TakeOrderedAndProjectExec: O(k) state per
      // partition, no global sort — the only sane top-k at 100 TB.
      T.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },

    Q(
      "topk_per_group",
      """SELECT n_nationkey, c_custkey, c_acctbal
        |FROM (SELECT n_nationkey, c_custkey, c_acctbal,
        |             row_number() OVER (PARTITION BY n_nationkey
        |                                ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rn <= 3
        |ORDER BY n_nationkey, c_acctbal DESC, c_custkey""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy(col("n_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      T.customer(s, d)
        .join(T.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("n_nationkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("n_nationkey"), col("c_acctbal").desc, col("c_custkey"))
    },

    // Per-partition clustered layout before write (PostGIS "improve the
    // table setup including indexes", README.md:93 → min/max row-group
    // stats make later range predicates skip whole files). Content is
    // verified by re-read; the within-file ordering by a scalatest spec.
    Q(
      "sort_partitioned",
      """SELECT o_orderkey, o_orderstatus, o_orderdate
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      // ORACLED since r19 (VERDICT r18 #4): the registered output is the
      // written-then-reread table globally re-sorted, so the oracle pins
      // the round trip EXACTLY — the repartition+sortWithinPartitions
      // write must neither drop, duplicate nor mutate a row (multiset
      // identity against the source table). The LAYOUT property this key
      // exists for — every output file internally sorted by the
      // (status, date, key) prefix — stays pinned by SmokeOpsSpec, which
      // reads each part file alone and asserts sortedness.
      val out = graft.Scratch.dir("sort_partitioned", d)
      T.orders(s, d)
        .repartition(4, col("o_orderstatus"))
        .sortWithinPartitions(col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }
  )
}
