package graft.operators

import graft.{Det, Gate, Q, T}
import graft.functions.WeightedAvg
import org.apache.spark.sql.functions._

/** SURVEY.md §2.D — aggregations.
  *
  * Reference evidence: per-layer stats and serving SQL over the loaded
  * PostGIS tables (`/root/reference/README.md:70,93`). Everything here is
  * a single `HashAggregateExec` pair (partial map-side combine + final) —
  * the shape that scales: pre-aggregation shrinks the shuffle to
  * #groups×#partitions rows regardless of input size.
  */
object Aggs {

  val all: Seq[Q] = Seq(
    Q(
      "agg_hash_group",
      s"""SELECT l_suppkey,
         |       ${Det.sqlDsum("l_quantity")} AS sum_qty,
         |       ${Det.sqlDavg("l_extendedprice")} AS avg_price,
         |       min(l_extendedprice) AS min_price,
         |       max(l_extendedprice) AS max_price,
         |       count(*) AS n_items
         |FROM lineitem
         |GROUP BY l_suppkey
         |ORDER BY l_suppkey""".stripMargin
    ) { (s, d) =>
      T.lineitem(s, d).groupBy(col("l_suppkey"))
        .agg(Det.dsum(col("l_quantity")).as("sum_qty"),
             Det.davg(col("l_extendedprice")).as("avg_price"),
             min(col("l_extendedprice")).as("min_price"),
             max(col("l_extendedprice")).as("max_price"),
             count(lit(1)).as("n_items"))
        .orderBy(col("l_suppkey"))
    },

    Q(
      "agg_global",
      s"""SELECT count(*) AS n_orders,
         |       ${Det.sqlDsum("o_totalprice")} AS total_value,
         |       min(o_orderdate) AS first_order,
         |       max(o_orderdate) AS last_order
         |FROM orders""".stripMargin
    ) { (s, d) =>
      T.orders(s, d).agg(
        count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("total_value"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"))
    },

    Q(
      "agg_count_distinct",
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey) AS n_customers,
        |       count(DISTINCT CAST(year(o_orderdate) AS INT)) AS n_years
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
    ) { (s, d) =>
      T.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
             countDistinct(year(col("o_orderdate"))).as("n_years"))
        .orderBy(col("o_orderpriority"))
    },

    // Approximate distinct (HLL): the 100 TB answer to count_distinct —
    // sketches merge map-side, no expand. No exact oracle (approximate);
    // the scalatest spec bounds the error against the exact count.
    // Uses the in-repo HllSketchAgg (p=12 → rsd ≈ 1.6%): measured at
    // sf0.1, the builtin approx_count_distinct paid 0.86s at rsd=0.02
    // and 0.68s at rsd=0.05 for this exact shape vs 0.41s for the
    // byte-register TypedImperativeAggregate — same sketch family,
    // tighter buffer (2^p bytes vs the builtin's word-packed longs),
    // cheaper serialize between partial and final.
    Q.smoke("agg_approx_distinct_hll") { (s, d) =>
      T.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(graft.functions.HllSketchAgg(col("l_partkey")).as("approx_parts"),
             graft.functions.HllSketchAgg(col("l_orderkey")).as("approx_orders"))
        .orderBy(col("l_returnflag"))
    },

    // Custom Catalyst TypedImperativeAggregate (§2.L udaf_imperative):
    // binary HLL register file, merged map-side. Approximate → no oracle;
    // SmokeOpsSpec bounds the error against exact counts.
    Q.smoke("udaf_imperative") { (s, d) =>
      T.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(graft.functions.HllSketchAgg(col("l_partkey")).as("hll_parts"),
             graft.functions.HllSketchAgg(col("l_suppkey")).as("hll_supps"))
        .orderBy(col("l_returnflag"))
    },

    Q(
      "agg_bitmap_distinct",
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      // EXACT bounded-domain count-distinct via a custom bitmap
      // TypedImperativeAggregate (graft.functions.BitmapDistinctAgg —
      // the ClickHouse/Doris groupBitmap trick on Spark): where
      // count(DISTINCT x) plans an Expand (one extra row copy per
      // distinct column per input row) and shuffles the expanded
      // stream, the bitmap is a ⌈capacity/64⌉-word buffer OR'd in place
      // per row and merged wordwise MAP-SIDE, so the shuffle carries
      // capacity/8 bytes per group regardless of input size — and
      // unlike the HLL keys it is EXACT, which is why this key can hold
      // the same oracle as count(DISTINCT). The domain bound is a loud
      // contract (out-of-range throws with the value); capacities here
      // cover the fixture universe at every scale with headroom.
      // Measured at sf0.1 on this exact query shape (same table, same
      // two distinct columns, steady-state mean of 3): Expand-based
      // countDistinct 0.62 s vs bitmap 0.29 s — 2.1×, because Expand
      // doubles the 600k-row stream BEFORE the exchange while the
      // bitmap shuffles 8 KB + 0.5 KB per group no matter the input.
      import graft.functions.BitmapDistinctAgg
      T.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(BitmapDistinctAgg(col("l_partkey"), 1 << 16).as("n_parts"),
             BitmapDistinctAgg(col("l_suppkey"), 1 << 12).as("n_supps"))
        .orderBy(col("l_returnflag"))
    },

    Q(
      "agg_grouping_sets",
      """SELECT r_name, n_name, count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin
    ) { (s, d) =>
      T.customer(s, d).createOrReplaceTempView("customer")
      T.nation(s, d).createOrReplaceTempView("nation")
      T.region(s, d).createOrReplaceTempView("region")
      s.sql(
        """SELECT r_name, n_name, count(*) AS n_customers
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },

    Q(
      "agg_rollup",
      s"""SELECT r_name, n_name, count(*) AS n_customers, ${Det.sqlDsum("c_acctbal")} AS sum_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // region→subregion hierarchy rollup (osm_etl.py:20-28 two-level fan-out).
      T.customer(s, d)
        .join(T.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(T.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), Det.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },

    Q(
      "agg_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin
    ) { (s, d) =>
      T.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    Q(
      "agg_collect_list",
      """SELECT l_orderkey,
        |       string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey) AS part_seq
        |FROM lineitem
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin
    ) { (s, d) =>
      // ORDERED list assembly — the way-geometry regroup (README.md:80-81).
      // collect_list alone has NO order guarantee after a shuffle; the
      // struct-sort idiom pins it (SURVEY.md §7.3).
      T.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(array_join(
          transform(
            sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey")))),
            x => x.getField("l_partkey").cast("string")),
          ",").as("part_seq"))
        .orderBy(col("l_orderkey"))
    },

    Q(
      "agg_collect_set",
      """SELECT o_orderpriority, string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
    ) { (s, d) =>
      T.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"))
        .orderBy(col("o_orderpriority"))
    },

    Q(
      "agg_percentile",
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      T.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
             round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
        .orderBy(col("l_returnflag"))
    },

    Q(
      "agg_weighted_median",
      """WITH w AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |         CAST(l_quantity AS BIGINT) AS wt
        |  FROM lineitem),
        |g AS (SELECT l_returnflag, v, sum(wt) AS wt FROM w GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v, wt,
        |         sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |         sum(wt) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM g)
        |SELECT l_returnflag,
        |       CAST(max(tot) AS BIGINT) AS w_total,
        |       CAST(min(v) AS DOUBLE) AS w_median
        |FROM c WHERE 2 * cum >= tot
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      // WEIGHTED (lower) median — the "token-weighted median quality
      // score" readout shape a curation pipeline reports (per-doc
      // metrics weighted by how many tokens the doc contributes):
      // here, quantity-weighted median unit price per return flag. EXACT
      // by construction, no interpolation anywhere. Scale notes
      // (VERDICT r16 #1, iterated twice in r17): the distinct-(flag,
      // price) table is QUASI-FACT-SIZED on this corpus (594k/600k
      // distinct at sf0.1), so the original running-weight window
      // `PARTITION BY l_returnflag` was three single-task sorts of the
      // fact — the banned low-cardinality-window shape (2.10 s, grows
      // unboundedly). A [[graft.GlobalRank]]-style range-repartition +
      // per-partition offset rewrite was exact but paid a range-sampling
      // pass, a full-fact shuffle + cache, and a collect-offset join
      // (measured 3.0 s with the no-op pre-agg, 1.69 s without). This
      // final shape is the classic TWO-PASS EXACT MEDIAN, and every
      // intermediate is bounded by the PRICE DOMAIN, not the corpus:
      //   pass 1 — per-(flag, $100-bucket) weight histogram
      //     (partial+final agg on a domain-bounded key; the collect is
      //     |flags|×|occupied buckets| metadata rows, ~3k here). The
      //     bucket derives from the RAW double (floor(price/100)) — no
      //     decimal math touches the fact — which is safe because the
      //     bucket is engine-INTERNAL: pass 1 and pass 2 share the one
      //     definition, so any boundary choice is self-consistent and
      //     the oracle never sees it;
      //   driver — per flag: total weight + the crossing bucket (first
      //     with 2·cum ≥ tot) + the cum BEFORE it; 3 rows broadcast
      //     back;
      //   pass 2 — rescan only rows in each flag's crossing bucket
      //     (broadcast equi-join on the cheap bucket key; the exact
      //     DECIMAL(18,2) value is cast only on the survivors), collapse
      //     to per-2-dp-value weights — AT MOST 10 000 distinct cents
      //     values per $100 bucket, so the per-flag running-weight
      //     window here runs over a DOMAIN-BOUNDED input at
      //     any corpus size (the event_cusum bounded-input exception,
      //     argued, not assumed) — and the answer is the smallest value
      //     whose doubled (prior + within-bucket) cum reaches the
      //     total.
      // No cache, no range sampling, two fact scans that both reduce to
      // bounded keys before any exchange. Every comparison stays
      // integer BIGINT; the final DECIMAL→DOUBLE cast is exact, so the
      // hash cannot drift.
      import org.apache.spark.sql.expressions.Window
      val base = T.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"),
                col("l_quantity").cast("long").as("wt"))
        .withColumn("bucket", expr("CAST(floor(l_extendedprice / 100) AS BIGINT)"))
      // pass 1: domain-bounded histogram (≤ |flags| × |price range|/100 rows)
      val hist = base.groupBy(col("l_returnflag"), col("bucket"))
        .agg(sum(col("wt")).as("w")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val crossing = hist.groupBy(_._1).toSeq.map { case (flag, bs) =>
        val sorted = bs.sortBy(_._2)
        val tot = sorted.map(_._3).sum
        var cum = 0L
        val (cb, prior) = sorted.iterator.map { case (_, b, w) =>
          val before = cum; cum += w; (b, before, cum)
        }.collectFirst { case (b, before, after) if 2 * after >= tot => (b, before) }.get
        (flag, cb, prior, tot)
      }
      import s.implicits._
      val sel = crossing.toDF("l_returnflag", "cb", "prior", "tot")
      // pass 2: only the crossing buckets survive the join; ≤ 10 000
      // distinct values per bucket bound the window input by DOMAIN
      base.join(sel, base("l_returnflag") === sel("l_returnflag")
                       && col("bucket") === col("cb"))
        .select(base("l_returnflag"),
                col("l_extendedprice").cast("decimal(18,2)").as("v"),
                col("wt"), col("prior"), col("tot"))
        .groupBy(col("l_returnflag"), col("v"), col("prior"), col("tot"))
        .agg(sum(col("wt")).as("w"))
        .withColumn("cum", sum(col("w")).over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("v"))))
        .where(expr("2 * (prior + cum) >= tot"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("tot")).as("w_total"),
             min(col("v")).cast("double").as("w_median"))
        .orderBy(col("l_returnflag"))
    },

    Q(
      "agg_udaf_typed",
      """SELECT p_brand,
        |       round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)) * p_size) AS DOUBLE) / sum(p_size), 4) AS wavg_price
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand NULLS FIRST""".stripMargin
    ) { (s, d) =>
      T.part(s, d).groupBy(col("p_brand"))
        .agg(WeightedAvg(col("p_retailprice"), col("p_size")).as("wavg_price"))
        .orderBy(col("p_brand"))
    },

    Q(
      "agg_string_concat",
      """SELECT n_regionkey,
        |       string_agg(n_name, '|' ORDER BY n_name) AS nations
        |FROM nation
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin
    ) { (s, d) =>
      // Ordered string aggregation. collect_list order is undefined
      // post-shuffle, so the sort lives INSIDE the aggregated value
      // (sort_array) — the same rule as the way-geometry regroup.
      T.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), "|").as("nations"))
        .orderBy(col("n_regionkey"))
    },

    Q(
      "agg_bool",
      """SELECT o_orderpriority,
        |       bool_and(o_totalprice > 1000) AS all_over_1k,
        |       bool_or(o_orderstatus = 'F')  AS any_finished,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
    ) { (s, d) =>
      // Boolean/conditional aggregates — data-quality assertions ("every
      // row in this partition passes") as a single partial+final pass.
      T.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
             bool_or(col("o_orderstatus") === "F").as("any_finished"),
             count_if(col("o_orderstatus") === "F").as("n_finished"))
        .orderBy(col("o_orderpriority"))
    },

    Q(
      "agg_pivot",
      """SELECT o_orderpriority,
        |       CAST(coalesce(count(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) AS n_f,
        |       CAST(coalesce(count(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT) AS n_o,
        |       CAST(coalesce(count(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS BIGINT) AS n_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
    ) { (s, d) =>
      // Pivot: long → wide on a BOUNDED, explicitly-listed pivot domain.
      // Passing the value list skips Spark's distinct-scan planning pass
      // AND is the only safe form at 100 TB (an unbounded pivot column is
      // an unbounded schema).
      T.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
                coalesce(col("F"), lit(0L)).as("n_f"),
                coalesce(col("O"), lit(0L)).as("n_o"),
                coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy(col("o_orderpriority"))
    },

    // Approximate percentile sketch (GK/KLL-family): the mergeable-sketch
    // answer to "median over 100 TB" — exact percentile needs a global
    // sort or full collect per group; the sketch is O(1/ε) state, merged
    // map-side like any partial aggregate. Approximate → no SQL oracle;
    // SmokeOpsSpec bounds the rank error against the exact percentile.
    Q.smoke("agg_approx_percentile") { (s, d) =>
      T.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median"),
             percentile_approx(col("l_extendedprice"), lit(0.9), lit(1000)).as("approx_p90"))
        .orderBy(col("l_returnflag"))
    },

    Q(
      "agg_arg_minmax",
      """SELECT c_nationkey,
        |       arg_max(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000000000 + c_custkey) AS richest_cust,
        |       arg_min(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000000000 + c_custkey) AS poorest_cust
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin
    ) { (s, d) =>
      // arg-min/arg-max ("which entity holds the extreme?") — a single
      // hash aggregate, no window/self-join detour. The ordering value is
      // composed (exact balance cents, custkey tie-break) so the picked
      // row is unique and engine-independent; bare max_by on a column with
      // duplicate extremes is nondeterministic. Packing bound: DuckDB 1.0
      // has no struct-valued arg_max, so the composite stays a BIGINT —
      // cents ∈ [−1e6, 1e6] (|acctbal| ≤ 9999.99) times 1e12 stays under
      // 2^63, and the tie-break digit space holds while c_custkey < 1e12,
      // i.e. up to TPC-H sf ≈ 6.6 million (custkey = 150k·sf) — far past
      // the 100 TB ≈ sf-100k design point.
      val ord = expr("CAST(round(c_acctbal * 100) AS BIGINT) * 1000000000000L + c_custkey")
      T.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(max_by(col("c_custkey"), ord).as("richest_cust"),
             min_by(col("c_custkey"), ord).as("poorest_cust"))
        .orderBy(col("c_nationkey"))
    },

    Q(
      "agg_mode",
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |           ORDER BY cnt DESC, c_mktsegment NULLS FIRST) AS rn
        |  FROM c)
        |SELECT c_nationkey, c_mktsegment AS mode_segment, cnt AS n
        |FROM r WHERE rn = 1
        |ORDER BY c_nationkey""".stripMargin
    ) { (s, d) =>
      // Mode (most frequent value per group) with a deterministic
      // lexicographic tie-break — bare mode() is engine- and
      // partitioning-dependent under ties. Two-level shape: count per
      // (group, value) collapses the input first (the shuffle carries
      // #distinct-pairs, not rows), then the rn=1 pick plans as
      // WindowGroupLimit — O(1) state per group map-side. A string
      // value can't ride the packed-BIGINT max_by trick
      // (`agg_arg_minmax`), so the window formulation IS the scale path.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("cnt").desc, col("c_mktsegment"))
      T.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"),
                col("cnt").as("n"))
        .orderBy(col("c_nationkey"))
    },

    Q(
      "agg_histogram",
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
        |       count(*) AS n, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin
    ) { (s, d) =>
      // Fixed-width histogram — the profiling/data-quality staple. The
      // bucket id is computed in the scan projection, so this is one
      // partial+final hash aggregate whose shuffle carries #buckets ×
      // #map-partitions rows regardless of input size; at 100 TB the
      // reduce side sees a few hundred rows. Integer floor bucketing is
      // exact cross-engine (no fp bin-boundary hazard: /5000 of a
      // 2-decimal value sits far from representability boundaries, and
      // min/max pass values through untouched).
      T.lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
             min(col("l_extendedprice")).as("lo"),
             max(col("l_extendedprice")).as("hi"))
        .orderBy(col("bucket"))
    },

    Q(
      "agg_log_histogram",
      """SELECT l_returnflag,
        |       CAST(length(printf('%b', CAST(round(l_extendedprice * 100) AS BIGINT))) AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS lo_cents,
        |       CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS hi_cents
        |FROM lineitem
        |GROUP BY 1, 2
        |ORDER BY l_returnflag, bucket""".stripMargin
    ) { (s, d) =>
      // Log₂-bucketed histogram (the HdrHistogram/latency-chart shape) —
      // agg_histogram's DYNAMIC-RANGE sibling: equi-width bins resolve
      // one scale and saturate outside it, exponential bins give
      // constant RELATIVE resolution over arbitrarily many decades —
      // the right shape for long-tailed monetary/latency/size columns,
      // and at 100 TB per-slice log-histograms are mergeable by plain
      // addition (bucket ids are absolute, not data-dependent like
      // quantiles). The bucket id is the BINARY LENGTH of the exact
      // cent value — ⌊log₂ x⌋+1 computed with zero floating point
      // (Spark `bin()`, DuckDB `printf('%b')` — string length of the
      // base-2 spelling, exact by construction where float log2 flips
      // at powers of two). One partial+final aggregate; the shuffle
      // carries flags × ~64 bucket rows per map partition.
      val cents = round(col("l_extendedprice") * 100).cast("long")
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"),
                 length(bin(cents)).cast("long").as("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
             min(cents).as("lo_cents"), max(cents).as("hi_cents"))
        .orderBy(col("l_returnflag"), col("bucket"))
    },

    Q(
      "agg_corr",
      """WITH m AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        |  FROM lineitem)
        |SELECT n,
        |       round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |       / (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |        * sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS corr
        |FROM m""".stripMargin
    ) { (s, d) =>
      // Pearson correlation via exact decimal moments. Spark's built-in
      // corr() streams doubles, so its result depends on partition
      // count and merge order — useless for a cross-engine hash and
      // unstable under repartitioning at 100 TB. Instead the five
      // moments (Σx, Σy, Σxy, Σx², Σy²) accumulate in exact DECIMAL
      // (2-decimal inputs → 4-decimal products, associative +
      // commutative), one map-side-partial global aggregate; only the
      // final 1-row formula drops to IEEE doubles, which both engines
      // evaluate identically on identical inputs.
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      def dbl(c: String) = col(c).cast("double")
      T.lineitem(s, d)
        .agg(count(lit(1)).as("n"),
             sum(x).as("sx"), sum(y).as("sy"),
             sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
        .select(col("n"),
          round((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
            / (sqrt(dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
             * sqrt(dbl("n") * dbl("syy") - dbl("sy") * dbl("sy"))), 6).as("corr"))
    },

    Q(
      "agg_multi_distinct",
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      // MULTIPLE distinct aggregates over DIFFERENT columns in one query
      // — the report shape that forces Catalyst's RewriteDistinctAggregates:
      // one Expand replicates each row once per distinct column (tagged
      // with a group id), a first aggregate dedups (key, tag, value), a
      // second computes the counts — so three distincts cost ONE
      // 3×-expanded shuffle, not three scans (plan-pinned: exactly one
      // Expand, no union of per-column subplans). count(*) piggybacks on
      // the same pass. At 100 TB the 3× expansion is the knob to watch:
      // map-side partial dedup keeps the exchange bounded by
      // distinct-values × partitions, not by expanded rows.
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"),
             countDistinct(col("l_orderkey")).as("n_orders"),
             count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    Q.smoke("agg_hll_union") { (s, d) =>
      // MERGEABLE HLL (Apache DataSketches, Spark ≥3.5): unlike
      // agg_approx_distinct_hll (one-shot estimate), the sketch itself
      // is a first-class value — build per slice, STORE next to the
      // slice, union any subset later without rescanning. That is the
      // 100 TB workflow: per-partition/per-day sketches live in the
      // lake (~10 KB each at lgK=14), and "distinct users last quarter"
      // is a union over 90 sketch rows, not a 100 TB rescan. Union is
      // associative+commutative ⇒ partition-order invariant; the
      // estimate is deterministic for a given sketch state.
      // Round12cOpsSpec pins per-slice and unioned estimates within
      // HLL's error envelope of the exact counts, and the union ≥ any
      // single slice. No SQL oracle — DuckDB has no sketch type.
      T.lineitem(s, d).createOrReplaceTempView("lineitem_hll")
      s.sql(
        """WITH per AS (
          |  SELECT l_returnflag AS scope, hll_sketch_agg(l_partkey, 14) AS sk
          |  FROM lineitem_hll GROUP BY l_returnflag)
          |SELECT scope, CAST(hll_sketch_estimate(sk) AS BIGINT) AS est FROM per
          |UNION ALL
          |SELECT 'ALL', CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT) FROM per
          |ORDER BY scope""".stripMargin)
    },

    Q.smoke("agg_theta_intersect") { (s, d) =>
      // MERGEABLE THETA-SKETCH SET ALGEBRA (Apache DataSketches theta
      // family; Dasgupta et al., "Theta-Sketch Framework") — the rung
      // agg_hll_union cannot express: HLL merges support UNION only,
      // while theta sketches close the set algebra — distinct-count
      // INTERSECTIONS and DIFFERENCES across slices with published
      // error bounds. 100 TB shape: per-partition UpdateSketches fold
      // each split (the Gram-fold mapPartitions exception — k-bounded
      // sketch state, never row state), per-partition compact blobs
      // (≤ ~8·2^lgK bytes each) collect as METADATA (≤ partitions ×
      // |slices| rows), and the set algebra runs on sketches, never on
      // data. A deployed lake persists the per-slice sketches next to
      // the slices (the agg_hll_union discipline), so "parts returned
      // under flag A but never under R this quarter" is sketch algebra
      // over stored ~32 KB blobs — zero rescan. No SQL oracle (DuckDB
      // has no theta type); Round18OpsSpec pins every estimate inside
      // the sketch's own 99%-confidence bounds AND within the published
      // relative-error envelope of the exact distinct counts.
      import s.implicits._
      import org.apache.datasketches.theta.{SetOperation, Sketch, UpdateSketch}
      import org.apache.datasketches.memory.Memory
      val lgK = 12
      val parts = T.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), col("l_partkey").as("k"))
        .where(col("flag").isin("A", "R"))
        .as[(String, Long)]
        .mapPartitions { it =>
          val sks = scala.collection.mutable.HashMap.empty[String, UpdateSketch]
          it.foreach { case (f, k) =>
            sks.getOrElseUpdate(f,
              UpdateSketch.builder().setLogNominalEntries(lgK).build()).update(k)
          }
          sks.iterator.map { case (f, sk) => (f, sk.compact().toByteArray) }
        }
        .collect()
      def slice(flag: String): Sketch = {
        val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
        parts.iterator.filter(_._1 == flag)
          .foreach(p => u.union(Sketch.wrap(Memory.wrap(p._2))))
        u.getResult
      }
      val a = slice("A")
      val r = slice("R")
      val inter = SetOperation.builder().buildIntersection()
      inter.intersect(a); inter.intersect(r)
      val aNotR = SetOperation.builder().buildANotB().aNotB(a, r)
      Seq(("A", a.getEstimate), ("R", r.getEstimate),
          ("A_INTERSECT_R", inter.getResult.getEstimate),
          ("A_NOT_R", aNotR.getEstimate))
        .toDF("scope", "est_raw")
        .select(col("scope"), round(col("est_raw")).cast("long").as("est"))
        .orderBy(col("scope"))
    },

    Q.smoke("agg_kll_quantiles") { (s, d) =>
      // MERGEABLE KLL QUANTILE SKETCH (Karnin-Lang-Liberty, FOCS 2016;
      // Apache DataSketches) — completes the sketch ladder: HLL answers
      // "how many distinct", CMS "how often is THIS one", theta "how do
      // slices intersect", KLL "what does the DISTRIBUTION look like" —
      // with a published NORMALIZED RANK error (±1.65% at k=200, 99%
      // conf), unlike agg_approx_percentile whose one-shot estimate
      // cannot be stored or merged. Same distributed shape as
      // agg_theta_intersect: per-partition sketches fold each split
      // (k-bounded state), ~3 KB compact blobs collect as metadata, one
      // driver merge — in a lake the per-slice/per-day sketches persist
      // and "p99 latency last quarter" is a merge over stored rows.
      // Estimates are RETAINED data values (KLL returns actual items):
      // prices enter as exact cents, so outputs are integer-exact cents.
      // No SQL oracle (approximate by construction); Round18OpsSpec pins
      // each estimate's true rank inside the sketch's own rank-error
      // envelope vs the exact distribution.
      import s.implicits._
      import org.apache.datasketches.kll.KllDoublesSketch
      import org.apache.datasketches.memory.Memory
      val blobs = T.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .as[Long]
        .mapPartitions { it =>
          val sk = KllDoublesSketch.newHeapInstance(200)
          it.foreach(c => sk.update(c.toDouble))
          if (sk.isEmpty) Iterator.empty else Iterator.single(sk.toByteArray)
        }
        .collect()
      val merged = KllDoublesSketch.newHeapInstance(200)
      blobs.foreach(b => merged.merge(KllDoublesSketch.wrap(Memory.wrap(b))))
      val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
      qs.map { q =>
        val v = if (merged.isEmpty) 0L else merged.getQuantile(q).toLong
        (q, v, merged.getNormalizedRankError(false))
      }.toDF("q", "est_cents", "rank_err")
        .select(col("q"), col("est_cents"), round(col("rank_err"), 6).as("rank_err"))
        .orderBy(col("q"))
    },

    Q.smoke("agg_req_quantiles") { (s, d) =>
      // MERGEABLE REQ QUANTILE SKETCH (Cormode-Karnin-Liberty-Thaler-
      // Vesely, "Relative Error Streaming Quantiles", PODS 2021; Apache
      // DataSketches) — the TAIL-ACCURACY companion of agg_kll_quantiles:
      // KLL's rank error is UNIFORM (±1.65% everywhere — useless at
      // p999, where ±1.65% of rank spans the whole tail), REQ's is
      // RELATIVE to the distance from the accurate end, so p999/p9999
      // latency-style readouts stay tight while the median costs more.
      // Same distributed shape as the KLL key: per-partition k-bounded
      // sketch folds, compact blobs collected as metadata (∝ partitions,
      // never rows), one driver merge — per-slice REQ sketches persist
      // in a lake and "p9999 over any date range" is sketch algebra.
      // Estimates are retained exact-cents values; no SQL oracle
      // (approximate by construction) — Round19OpsSpec pins each
      // estimate's TRUE rank inside the sketch's own 2-sigma
      // [getRankLowerBound, getRankUpperBound] envelope.
      import s.implicits._
      import org.apache.datasketches.req.ReqSketch
      import org.apache.datasketches.memory.Memory
      val blobs = T.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .as[Long]
        .mapPartitions { it =>
          val sk = ReqSketch.builder().setK(12).setHighRankAccuracy(true).build()
          it.foreach(c => sk.update(c.toFloat))
          if (sk.isEmpty) Iterator.empty else Iterator.single(sk.toByteArray)
        }
        .collect()
      val merged = ReqSketch.builder().setK(12).setHighRankAccuracy(true).build()
      blobs.foreach(b => merged.merge(ReqSketch.heapify(Memory.wrap(b))))
      val qs = Seq(0.5, 0.9, 0.99, 0.999, 0.9999)
      qs.map { q =>
        val v = if (merged.isEmpty) 0L else merged.getQuantile(q).toLong
        val lb = if (merged.isEmpty) 0.0 else merged.getRankLowerBound(q, 2)
        val ub = if (merged.isEmpty) 1.0 else merged.getRankUpperBound(q, 2)
        (q, v, lb, ub)
      }.toDF("q", "est_cents", "rank_lb", "rank_ub")
        .select(col("q"), col("est_cents"),
                round(col("rank_lb"), 6).as("rank_lb"),
                round(col("rank_ub"), 6).as("rank_ub"))
        .orderBy(col("q"))
    },

    Q.smoke("agg_count_min") { (s, d) =>
      // Count–min sketch point-frequency estimates — the mergeable
      // sublinear sibling of agg_approx_distinct_hll (HLL answers "how
      // many distinct", CMS answers "how often is THIS one"), and the
      // backbone of one-pass heavy-hitter screens at 100 TB (the exact
      // text_heavy_hitters pays a full shuffle; a CMS pre-pass doesn't).
      // Spark's CountMinSketchAggregate runs as a partial+final
      // aggregate: each task folds its split into a d×w counter grid
      // (Spark's stream-lib geometry: w = ⌈2/ε⌉ = 2000 columns ×
      // d = ⌈−log₂(1−confidence)⌉ = 7 rows here — ~112 KB FIXED, not
      // data-proportional), merges are cell-wise adds
      // (associative+commutative ⇒ partition-order invariant), and with
      // a pinned seed the estimates are bit-deterministic — the sketch's
      // one-sided error (est ≥ true, ≤ true + ε·N w.p. 1−δ) is pinned
      // by Round12bOpsSpec against the exact counts; no DuckDB
      // equivalent exists, so the key is spec-covered, not oracled.
      val probes = (1L to 20L)
      val sk = T.lineitem(s, d).select(col("l_partkey"))
        .stat.countMinSketch("l_partkey", 0.001, 0.99, 42)
      import s.implicits._
      probes.map(k => (k, sk.estimateCount(java.lang.Long.valueOf(k))))
        .toDF("l_partkey", "est_n").orderBy(col("l_partkey"))
    },

    Q(
      "agg_linear_regr",
      """WITH s AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(l_discount AS DECIMAL(18,2))
        |                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) AS slope,
        |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 8) AS intercept,
        |       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 8) AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      // Least-squares regression aggregate (regr_slope / regr_intercept /
      // regr_r2 — does discount scale with quantity, per return flag):
      // the moment-sum formulation runs as ONE partial+final hash
      // aggregate — five sums + a count, map-side combined, O(#groups)
      // on the wire at any corpus size — never a second centering pass.
      // Determinism: each moment accumulates in EXACT DECIMAL (the
      // summands are 2-dp × 2-dp products, so the ×10⁴-scaled integers
      // stay far under 2⁵³ and the final decimal→double casts are
      // value-exact on both engines), and slope/intercept/r² are the
      // IDENTICAL IEEE expression text both sides — Spark's own
      // regr_slope folds doubles in partition order, which is exactly
      // the nondeterminism this reformulation removes.
      import graft.Det.dec2
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("sx"),
          sum(dec2(col("l_discount"))).cast("double").as("sy"),
          sum(dec2(col("l_quantity")) * dec2(col("l_quantity"))).cast("double").as("sxx"),
          sum(dec2(col("l_quantity")) * dec2(col("l_discount"))).cast("double").as("sxy"),
          sum(dec2(col("l_discount")) * dec2(col("l_discount"))).cast("double").as("syy"))
        .selectExpr(
          "l_returnflag",
          "CAST(n AS BIGINT) AS n",
          "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) AS slope",
          "round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 8) AS intercept",
          """round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
            |      / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 8) AS r2""".stripMargin)
        .orderBy(col("l_returnflag"))
    },

    Q(
      "agg_skew_kurtosis",
      """WITH m AS (
        |  SELECT l_linestatus, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s2,
        |         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |                  * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s3,
        |         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |                  * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s4
        |  FROM lineitem GROUP BY l_linestatus)
        |SELECT l_linestatus, CAST(n AS BIGINT) AS n,
        |       round(s1 / n, 8) AS mean,
        |       round(s2 / n - (s1 / n) * (s1 / n), 8) AS variance,
        |       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
        |             / ((s2 / n - (s1 / n) * (s1 / n)) * sqrt(s2 / n - (s1 / n) * (s1 / n))), 8) AS skewness,
        |       round((s4 / n - 4 * (s1 / n) * (s3 / n)
        |              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
        |              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |             / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3, 8) AS kurtosis
        |FROM m ORDER BY l_linestatus""".stripMargin
    ) { (s, d) =>
      // Population skewness / excess kurtosis — the distribution-shape
      // aggregates a data-quality pass reports next to mean/variance
      // (is quantity symmetric? heavy-tailed?). Same scale shape as
      // agg_linear_regr: FOUR raw power sums + a count in ONE
      // partial+final hash aggregate (never a second centering pass —
      // that is the 100 TB difference between one scan and two). The
      // fixture's quantities are INTEGERS, so the moments accumulate in
      // exact BIGINT (max Σx⁴ ≈ 4·10¹¹ ≪ 2⁶³, casts to double exactly)
      // and the central-moment formula is the identical IEEE expression
      // text on both engines; sigma-cubed is spelled v·sqrt(v), never
      // pow(v, 1.5), because IEEE sqrt is correctly rounded where libm
      // pow is not — the whole chain is bit-identical cross-engine.
      // Built-in skewness()/kurtosis() fold doubles in partition order,
      // which is exactly the nondeterminism the integer-moment path
      // removes.
      val q = col("l_quantity").cast("long")
      T.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(q).cast("double").as("s1"),
          sum(q * q).cast("double").as("s2"),
          sum(q * q * q).cast("double").as("s3"),
          sum(q * q * q * q).cast("double").as("s4"))
        .selectExpr(
          "l_linestatus", "CAST(n AS BIGINT) AS n",
          "round(s1 / n, 8) AS mean",
          "round(s2 / n - (s1 / n) * (s1 / n), 8) AS variance",
          """round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
            |      / ((s2 / n - (s1 / n) * (s1 / n)) * sqrt(s2 / n - (s1 / n) * (s1 / n))), 8) AS skewness""".stripMargin,
          """round((s4 / n - 4 * (s1 / n) * (s3 / n)
            |       + 6 * (s1 / n) * (s1 / n) * (s2 / n)
            |       - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
            |      / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3, 8) AS kurtosis""".stripMargin)
        .orderBy(col("l_linestatus"))
    },

    Q(
      "agg_gini",
      """WITH c AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS total,
        |             CAST(sum(n * n) AS BIGINT) AS sq FROM c GROUP BY 1)
        |SELECT o_orderpriority, total,
        |       round(1.0 - CAST(sq AS DOUBLE)
        |             / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 8) AS gini
        |FROM t ORDER BY o_orderpriority""".stripMargin
    ) { (s, d) =>
      // Gini impurity of the status mix per priority — the class-balance
      // metric a data-quality pass reports (0 = one class, (k−1)/k =
      // uniform over k). Chosen over Shannon entropy DELIBERATELY:
      // 1 − Σpᵢ² needs only exact integer count sums and ONE IEEE
      // division (Σnᵢ²/N²), where entropy's Σp·ln p rides libm ln whose
      // last-ulp differs between engines. Two bounded-key aggregates —
      // the second sees |priorities|×|statuses| rows, never facts.
      val c = T.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      c.groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).cast("long").as("total"),
             sum(col("n") * col("n")).cast("long").as("sq"))
        .select(col("o_orderpriority"), col("total"),
                round(lit(1.0) - col("sq").cast("double")
                      / (col("total").cast("double") * col("total").cast("double")), 8)
                  .as("gini"))
        .orderBy(col("o_orderpriority"))
    },

    Q(
      "agg_entropy",
      s"""WITH c AS (
         |  SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1, 2),
         |t AS (SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1),
         |l AS (
         |  SELECT c.o_orderpriority, c.n, t.total,
         |         CAST(round(${TrainingOps.lnProbTpl("(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE))")} * 1000000.0) AS BIGINT) AS l
         |  FROM c JOIN t USING (o_orderpriority))
         |SELECT o_orderpriority, CAST(max(total) AS BIGINT) AS total,
         |       CAST((-sum(n * l)) // max(total) AS BIGINT) AS entropy_micronats
         |FROM l GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    ) { (s, d) =>
      // Shannon entropy of the status mix per priority — the metric
      // `agg_gini` deliberately avoided while Σp·ln p rode libm's ln
      // (cross-engine last-ulp hazard, stated in that row); the shared
      // bit-deterministic template [[TrainingOps.lnProbTpl]] removes the
      // hazard, so the deck now carries BOTH class-balance readouts
      // (gini saturates near uniform; entropy keeps resolving — in
      // micronats because the class space is tiny and millinats would
      // quantize coarsely). Same exact-integer discipline as
      // text_entropy: each class's ln(n/N) rounds BEFORE the
      // count-weighted sum, H = (−Σ n·l) DIV N. Two bounded-key
      // aggregates; the second sees |priorities|×|statuses| rows.
      val c = T.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val t = c.groupBy(col("o_orderpriority")).agg(sum(col("n")).as("total"))
      c.join(t, "o_orderpriority")
        .withColumn("l", expr(
          s"CAST(round(${TrainingOps.lnProbTpl("(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))")} * 1000000.0) AS BIGINT)"))
        .groupBy(col("o_orderpriority"))
        .agg(max(col("total")).cast("long").as("total"),
             expr("CAST((-sum(n * l)) DIV max(total) AS BIGINT)").as("entropy_micronats"))
        .orderBy(col("o_orderpriority"))
    },

    Q(
      "agg_mad",
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1)
        |SELECT e.event_type,
        |       round(m.med, 4) AS median_value,
        |       round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
        |FROM events e JOIN m ON e.event_type = m.event_type
        |GROUP BY e.event_type, m.med
        |ORDER BY e.event_type""".stripMargin
    ) { (s, d) =>
      // Median absolute deviation per event type — the robust dispersion
      // event_anomaly's mean/σ is not (one fat-tailed day inflates σ and
      // hides every smaller anomaly; MAD holds still). Two-pass by
      // construction (MAD is not a one-pass aggregate): the per-type
      // median — a |types|-row table — broadcasts back onto the scan,
      // then a second percentile collapses the deviations. Determinism:
      // per-type medians interpolate identically in both engines (the
      // agg_percentile-proven percentile ≡ quantile_cont recipe); the
      // deviation |x − med| is elementwise IEEE on identical inputs —
      // no reordering exists to drift; the outer median reuses the same
      // proven interpolation. At 100 TB both passes are one fact scan +
      // one bounded-key aggregate each; the broadcast is |event types|.
      val m = T.events(s, d).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      T.events(s, d)
        .join(m, "event_type")
        .groupBy(col("event_type"), col("med"))
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
        .select(col("event_type"), round(col("med"), 4).as("median_value"), col("mad"))
        .orderBy(col("event_type"))
    },

    Q(
      "agg_trimmed_mean",
      """WITH b AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.05) AS lo,
        |         quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type,
        |       count(*) FILTER (WHERE e.value >= b.lo AND e.value <= b.hi)
        |         AS n_kept,
        |       round(CAST(sum(CAST(e.value AS DECIMAL(18,2)))
        |                    FILTER (WHERE e.value >= b.lo AND e.value <= b.hi)
        |                  AS DOUBLE)
        |             / count(*) FILTER (WHERE e.value >= b.lo AND e.value <= b.hi), 4)
        |         AS trimmed_mean
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin
    ) { (s, d) =>
      // 5%-trimmed mean per event type — agg_mad's sibling: the robust
      // LOCATION estimate (a handful of fat-tail rows move a plain mean
      // arbitrarily far; trimming caps their leverage at zero). Same
      // two-pass shape as MAD: the per-type [p05, p95] band — a
      // |types|-row table — broadcasts back onto the scan, then one
      // conditional aggregate keeps in-band rows. Determinism:
      // the band edges interpolate identically in both engines (the
      // proven percentile ≡ quantile_cont recipe), so in-band
      // MEMBERSHIP is the same row set; the kept sum rides the exact
      // 2-dp decimal recipe; one IEEE division per group at output.
      val b = T.events(s, d).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.05)").as("lo"),
             expr("percentile(value, 0.95)").as("hi"))
      val in = col("value") >= col("lo") && col("value") <= col("hi")
      T.events(s, d)
        .join(graft.Gate.bcast(b), "event_type")
        .groupBy(col("event_type"))
        .agg(sum(when(in, 1L).otherwise(0L)).as("n_kept"),
             sum(when(in, col("value").cast("decimal(18,2)"))).as("kept_sum"))
        .select(col("event_type"), col("n_kept"),
                round(col("kept_sum").cast("double") / col("n_kept"), 4)
                  .as("trimmed_mean"))
        .orderBy(col("event_type"))
    }
  )
}
