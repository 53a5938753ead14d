package graft.operators

import graft.{Det, Q, T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.C — joins.
  *
  * Geometry assembly is the reference's core join workload: ways/relations
  * resolve member refs against the node store
  * (`/root/reference/README.md:80-81`). Scale stance per join:
  *   - small dim side (region/nation/bands; customer while it fits the
  *     threshold, it grows with sf) → broadcast, no fact-side shuffle;
  *   - fact⋈fact on a key → shuffle hash / sort-merge on that key, AQE
  *     picks skew-splits at runtime;
  *   - theta/range joins keep one side broadcast-small by construction.
  */
object Joins {

  val all: Seq[Q] = Seq(
    Q(
      "join_broadcast",
      """SELECT n_name, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin
    ) { (s, d) =>
      T.orders(s, d)
        // bound: none — join_broadcast names the strategy it exercises
        .join(broadcast(T.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey")) // bound: 25 rows
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    },

    Q(
      "join_shuffle_hash",
      s"""SELECT o_orderpriority, count(*) AS n_items, ${Det.sqlDsum("l_extendedprice")} AS total_price
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin
    ) { (s, d) =>
      // Fact⋈fact: both sides shuffle-partition on the join key; hash join
      // avoids the sort (cheaper when neither side is pre-sorted).
      T.lineitem(s, d).hint("shuffle_hash")
        .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), Det.dsum(col("l_extendedprice")).as("total_price"))
        .orderBy(col("o_orderpriority"))
    },

    Q(
      "join_sort_merge",
      s"""SELECT p_brand, count(*) AS n_items, ${Det.sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand
         |ORDER BY p_brand NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Sort-merge: robust at 100 TB when both sides are huge (spills
      // gracefully, no hash table to blow up).
      T.lineitem(s, d).hint("merge")
        .join(T.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("p_brand"))
    },

    Q(
      "join_left_outer",
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin
    ) { (s, d) =>
      T.customer(s, d)
        .join(T.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    },

    Q(
      "join_right_outer",
      """SELECT c_custkey, c_mktsegment, o_orderkey
        |FROM orders
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin
    ) { (s, d) =>
      T.orders(s, d)
        .join(T.customer(s, d), col("o_custkey") === col("c_custkey"), "right")
        .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    Q(
      "join_full_outer",
      """SELECT coalesce(cn.nk, sn.nk) AS nationkey,
        |       coalesce(n_customers, 0) AS n_customers,
        |       coalesce(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1) cn
        |FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1) sn
        |ON cn.nk = sn.nk
        |ORDER BY nationkey""".stripMargin
    ) { (s, d) =>
      val cn = T.customer(s, d).groupBy(col("c_nationkey").as("cnk")).agg(count(lit(1)).as("n_customers"))
      val sn = T.supplier(s, d).groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_suppliers"))
      cn.join(sn, col("cnk") === col("snk"), "full_outer")
        .select(coalesce(col("cnk"), col("snk")).as("nationkey"),
                coalesce(col("n_customers"), lit(0L)).as("n_customers"),
                coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy(col("nationkey"))
    },

    Q(
      "join_left_semi",
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin
    ) { (s, d) =>
      T.customer(s, d)
        .join(T.orders(s, d).where(col("o_totalprice") > 300000),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    Q(
      "join_left_anti",
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin
    ) { (s, d) =>
      // The reference's dangling-ref reality: ways referencing nodes missing
      // from the extract (README.md:80-81 assembly) == anti join.
      T.customer(s, d)
        .join(T.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    Q(
      "join_cross",
      """SELECT r_name, st.o_orderstatus AS status
        |FROM region
        |CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st
        |ORDER BY r_name, status""".stripMargin
    ) { (s, d) =>
      T.region(s, d)
        .crossJoin(T.orders(s, d).select(col("o_orderstatus")).distinct())
        .select(col("r_name"), col("o_orderstatus").as("status"))
        .orderBy(col("r_name"), col("status"))
    },

    Q(
      "join_theta",
      """WITH s AS (SELECT s_suppkey,
        |                  CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM supplier)
        |SELECT a.s_suppkey AS suppkey, count(*) AS n_overlap
        |FROM s a
        |JOIN s b ON a.cents - 20000 <= b.cents + 20000
        |        AND b.cents - 20000 <= a.cents + 20000
        |        AND a.s_suppkey <> b.s_suppkey
        |GROUP BY a.s_suppkey
        |ORDER BY suppkey""".stripMargin
    ) { (s, d) =>
      // Theta join as the PostGIS `&&` workload (README.md:80-82): pairs
      // whose ±$200 balance intervals overlap. Non-equi condition →
      // broadcast nested-loop; the predicate runs once per probe×build
      // PAIR, so it is the codegen'd [[graft.functions.IntervalOverlaps]]
      // (one fused branchless test, named in the plan — PlanSpec pins it)
      // over exact integer cents, not four anonymous column comparisons.
      // The build side grows with sf → broadcast only while it fits.
      val cents = (col("s_acctbal").cast("decimal(18,2)") * 100).cast("long")
      val a = T.supplier(s, d).select(col("s_suppkey").as("suppkey"),
        (cents - 20000).as("a_lo"), (cents + 20000).as("a_hi"))
      val b = T.supplier(s, d).select(col("s_suppkey").as("b_suppkey"),
        (cents - 20000).as("b_lo"), (cents + 20000).as("b_hi"))
      a.join(b, graft.functions.IntervalOverlaps(
                  col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi")) &&
                col("suppkey") =!= col("b_suppkey"))
        .groupBy(col("suppkey")).agg(count(lit(1)).as("n_overlap"))
        .orderBy(col("suppkey"))
    },

    Q(
      "join_lateral",
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) o
        |ORDER BY c_custkey, o_orderkey""".stripMargin
    ) { (s, d) =>
      // LATERAL subquery join — per-row parameterized subqueries (the
      // SQL-standard spelling of "top-2 orders FOR EACH customer"),
      // run as the SAME text on both engines. The naive reading is a
      // per-customer rescan of orders; Catalyst's lateral decorrelation
      // rewrites it into ONE join + per-key limit (the window/group-
      // limit shape topk_per_group states explicitly) — which is why
      // the construct survives 100 TB: cost is one shuffle on the
      // correlation key, never |customers| probes. Ties broken by
      // o_orderkey so the 2-row cut is deterministic cross-engine.
      T.customer(s, d).createOrReplaceTempView("customer")
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          |FROM customer c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey
          |  LIMIT 2) o
          |ORDER BY c_custkey, o_orderkey""".stripMargin)
    },

    Q(
      "join_null_safe",
      """WITH c AS (SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer),
        |s AS (SELECT s_suppkey, nullif(s_nationkey, 3) AS nk FROM supplier)
        |SELECT c.nk, count(*) AS n_pairs,
        |       min(c_custkey) AS min_cust, min(s_suppkey) AS min_supp
        |FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
        |GROUP BY c.nk
        |ORDER BY c.nk NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Null-safe equi-join (`<=>` ≡ SQL IS NOT DISTINCT FROM): the
      // "unknown bucket joins unknown bucket" semantics every entity-
      // resolution pipeline needs (a plain `=` silently DROPS all
      // null-keyed rows — the classic lost-partition bug). Catalyst
      // plans EqualNullSafe as a HASH join key (null hashes like any
      // value), NOT a nested-loop theta — so this stays a broadcast/
      // shuffle hash join, shuffle-partitionable at any scale, and the
      // null bucket is subject to the same skew remedies (salting)
      // as any hot key. nullif plants a real null cohort on both sides.
      val c = T.customer(s, d)
        .select(col("c_custkey"), nullif(col("c_nationkey"), lit(3)).as("nk"))
      val sup = T.supplier(s, d)
        .select(col("s_suppkey"), nullif(col("s_nationkey"), lit(3)).as("snk"))
      c.join(sup, col("nk") <=> col("snk"))
        .groupBy(col("nk"))
        .agg(count(lit(1)).as("n_pairs"),
             min(col("c_custkey")).as("min_cust"),
             min(col("s_suppkey")).as("min_supp"))
        .orderBy(col("nk").asc_nulls_first)
    },

    Q(
      "join_range",
      s"""SELECT b.band, count(*) AS n_items, ${Det.sqlDsum("l_extendedprice")} AS total_price
         |FROM lineitem
         |JOIN (VALUES ('small', 0.0, 15.0), ('medium', 15.0, 35.0), ('large', 35.0, 51.0)) b(band, lo, hi)
         |  ON l_quantity >= b.lo AND l_quantity < b.hi
         |GROUP BY b.band
         |ORDER BY b.band""".stripMargin
    ) { (s, d) =>
      import s.implicits._
      // Band dim is tiny by construction → broadcast nested loop; the fact
      // side streams through without shuffling.
      val bands = Seq(("small", 0.0, 15.0), ("medium", 15.0, 35.0), ("large", 35.0, 51.0))
        .toDF("band", "lo", "hi")
      T.lineitem(s, d)
        .join(bands, col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_items"), Det.dsum(col("l_extendedprice")).as("total_price"))
        .orderBy(col("band"))
    },

    Q(
      "join_asof",
      """WITH t AS (SELECT event_id AS trade_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |q AS (SELECT event_id AS qid, user_id, ts, value FROM events
        |      WHERE event_type IN ('view', 'click'))
        |SELECT t.trade_id, t.user_id, CAST(t.ts AS TIMESTAMP) AS trade_ts,
        |       arg_max(q.value,
        |               CAST(epoch_ms(q.ts) AS HUGEINT) * 10000000 + q.qid)
        |         AS quote_value
        |FROM t JOIN q ON t.user_id = q.user_id AND q.ts <= t.ts
        |GROUP BY t.trade_id, t.user_id, t.ts
        |ORDER BY t.trade_id""".stripMargin
    ) { (s, d) =>
      // As-of join (latest quote ≤ trade time) via the union+window trick
      // (SURVEY.md §2.C join_asof): one shuffle on (user_id), one sort —
      // the same cost profile a native asof merge would have. Ties among
      // quotes sharing (user_id, ts) break by ASCENDING qid so the
      // running value lands on the MAX qid (ADVICE r16: DuckDB ASOF's
      // pick among equal timestamps is unspecified, so the oracle spells
      // the same deterministic choice as a composite arg_max(ms, qid) —
      // the forward sibling's device, mirrored).
      val ev = T.events(s, d)
      val quotes = ev.where(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts"),
                col("value").as("qvalue"),
                col("event_id").as("qid"),
                lit(null).cast("long").as("trade_id"))
      val trades = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
                lit(null).cast("double").as("qvalue"),
                lit(null).cast("long").as("qid"),
                col("event_id").as("trade_id"))
      // At equal ts the quote sorts before the trade (nulls first) so the
      // trade sees it — matches the oracle's inclusive `<=`.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("trade_id").asc_nulls_first, col("qid").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      quotes.unionByName(trades)
        .withColumn("quote_value", last(col("qvalue"), ignoreNulls = true).over(w))
        .where(col("trade_id").isNotNull && col("quote_value").isNotNull)
        .select(col("trade_id"), col("user_id"),
                col("ts").as("trade_ts"), col("quote_value"))
        .orderBy(col("trade_id"))
    },

    Q(
      "join_asof_tolerance",
      """WITH t AS (SELECT event_id AS trade_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |q AS (SELECT event_id AS qid, user_id, ts, value FROM events
        |      WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
        |m AS (
        |  SELECT t.trade_id, t.user_id, t.ts,
        |         arg_max(q.value,
        |                 CAST(epoch_ms(q.ts) AS HUGEINT) * 10000000 + q.qid) AS qv,
        |         epoch_ms(t.ts) - max(epoch_ms(q.ts)) AS age
        |  FROM t JOIN q ON t.user_id = q.user_id AND q.ts <= t.ts
        |  GROUP BY t.trade_id, t.user_id, t.ts)
        |SELECT trade_id, user_id, CAST(ts AS TIMESTAMP) AS trade_ts,
        |       CASE WHEN age <= 172800000 THEN qv END AS quote_value,
        |       CASE WHEN age <= 172800000 THEN age END AS quote_age_ms
        |FROM m ORDER BY trade_id""".stripMargin
    ) { (s, d) =>
      // As-of with a STALENESS TOLERANCE (pandas merge_asof(tolerance=…),
      // kdb wj's window bound) — the as-of family's missing safety rail:
      // "the latest quote, but never one older than 48 h". A quote past
      // the bound is a NULL match, not a silently ancient price — the
      // failure mode plain as-of hides is a half-dead feed that keeps
      // serving week-old values. Same single (user_id) exchange + sort
      // as join_asof; the window carries a (quote_ts, value) STRUCT so
      // the age is known at the match row, and the tolerance test is
      // exact integer milliseconds applied AFTER the running-state match
      // (the match itself is unchanged — tolerance filters, it never
      // re-matches an older in-bound quote, exactly merge_asof's
      // contract). Matched-trade row set identical to join_asof's;
      // fresh vs stale ≈ 80/20 on the fixture so both arms are
      // exercised. Equal-timestamp quotes tie-break by ASCENDING qid
      // (→ max qid wins), the same deterministic composite-arg_max
      // choice join_asof pins (ADVICE r16).
      val ev = T.events(s, d)
      // null-valued quotes are not quotes: the struct carrier would keep
      // them visible to last(ignoreNulls) (struct(ts, NULL) is non-null),
      // so the filter restores the join_asof ignoreNulls semantics
      val quotes = ev.where(col("event_type").isin("view", "click")
                            && col("value").isNotNull)
        .select(col("user_id"), col("ts"),
                expr("struct(ts AS qts, value AS qvalue)").as("q"),
                col("event_id").as("qid"),
                lit(null).cast("long").as("trade_id"))
      val trades = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
                lit(null).cast("struct<qts:timestamp,qvalue:double>").as("q"),
                lit(null).cast("long").as("qid"),
                col("event_id").as("trade_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("trade_id").asc_nulls_first, col("qid").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      quotes.unionByName(trades)
        .withColumn("m", last(col("q"), ignoreNulls = true).over(w))
        .where(col("trade_id").isNotNull && col("m").isNotNull)
        .select(col("trade_id"), col("user_id"), col("ts").as("trade_ts"),
          expr("""CASE WHEN unix_millis(ts) - unix_millis(m.qts) <= 172800000
                 |     THEN m.qvalue END""".stripMargin).as("quote_value"),
          expr("""CASE WHEN unix_millis(ts) - unix_millis(m.qts) <= 172800000
                 |     THEN unix_millis(ts) - unix_millis(m.qts) END""".stripMargin)
            .as("quote_age_ms"))
        .orderBy(col("trade_id"))
    },

    Q(
      "join_asof_native",
      """WITH t AS (SELECT event_id AS trade_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |q AS (SELECT user_id, ts AS qts, value FROM events
        |      WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
        |j AS (SELECT t.trade_id, t.user_id, t.ts, q.qts, q.value
        |      FROM t JOIN q ON t.user_id = q.user_id AND q.qts <= t.ts),
        |r AS (SELECT *, max(qts) OVER (PARTITION BY trade_id) AS mts FROM j)
        |SELECT trade_id, user_id, CAST(ts AS TIMESTAMP) AS trade_ts,
        |       max(value) AS quote_value
        |FROM r WHERE qts = mts
        |GROUP BY trade_id, user_id, ts
        |ORDER BY trade_id""".stripMargin
    ) { (s, d) =>
      // The SAME as-of semantics as `join_asof`, through the engine's
      // custom WHOLE-OPERATOR extension (org.apache.spark.sql.graft
      // .AsofJoin: logical node + planner strategy + merge-scan
      // physical exec — SURVEY §7.1 stance (c), the extension rung the
      // composed operators never needed until now). The exec DECLARES
      // clustered distribution + (key, time) ordering, so
      // EnsureRequirements plans one exchange + one sort per side —
      // the union+window emulation's cost — but execution is a
      // single forward merge-scan per partition pair holding ONE
      // (key, value) of state: no window buffer, no union row
      // widening, right pointer never rewinds. Ties on (key, time)
      // resolve to the MAX value (the exec's declared right-side
      // ordering ends on the value column), and the oracle spells the
      // SAME deterministic choice — max(value) among the max-ts
      // in-bound quotes — so the hash can't flap if the fixture ever
      // gains duplicate quote timestamps (ADVICE r16 class, closed
      // for the native key too). PlanSpec pins AsofJoinExec in the
      // plan with no Window node.
      val ev = T.events(s, d)
      val trades = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("trade_id"), col("user_id"),
                col("ts"), unix_millis(col("ts")).as("ms"))
      // null-valued quotes are not quotes (the join_asof ignoreNulls
      // semantics, spelled identically in the oracle's q CTE)
      val quotes = ev.where(col("event_type").isin("view", "click")
                            && col("value").isNotNull)
        .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
      org.apache.spark.sql.graft.Asof
        .join(trades, quotes, "user_id", "ms", "value", "quote_value")
        .where(col("quote_value").isNotNull)
        .select(col("trade_id"), col("user_id"),
                col("ts").cast("timestamp").as("trade_ts"), col("quote_value"))
        .orderBy(col("trade_id"))
    },

    Q(
      "join_asof_forward",
      """WITH t AS (SELECT event_id AS trade_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |q AS (SELECT event_id AS qid, user_id, ts, value FROM events
        |      WHERE event_type IN ('view', 'click'))
        |SELECT t.trade_id, t.user_id, CAST(t.ts AS TIMESTAMP) AS trade_ts,
        |       arg_min(q.value,
        |               CAST(epoch_ms(q.ts) AS HUGEINT) * 10000000 + q.qid)
        |         AS next_quote
        |FROM t JOIN q ON t.user_id = q.user_id AND q.ts >= t.ts
        |GROUP BY t.trade_id, t.user_id, t.ts
        |ORDER BY t.trade_id""".stripMargin
    ) { (s, d) =>
      // FORWARD as-of: the EARLIEST quote at-or-after each trade — the
      // direction `join_asof`/`join_asof_native` (latest ≤) cannot
      // express, needed for "what happened next" joins (next price
      // after an order, next sensor reading after an alarm). The plan
      // is the mirrored union+window trick: one (user_id) exchange, one
      // DESCENDING time sort, running last(qvalue ignoreNulls) — at
      // equal ts the quote sorts BEFORE the trade (inclusive >=) and
      // ties among quotes break by DESCENDING qid so the running value
      // lands on the MIN qid, exactly the oracle's composite
      // arg_min(ms, qid) key. Trades with no future quote drop (the
      // backward key does the same). The oracle spells the semantics as
      // a range join + arg_min — fine for DuckDB at fixture scale; the
      // engine side stays the linear single-pass shape that survives
      // 100 TB (no range-join blowup, no per-trade probe).
      val ev = T.events(s, d)
      val quotes = ev.where(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts"), col("value").as("qvalue"),
                col("event_id").as("qid"),
                lit(null).cast("long").as("trade_id"))
      val trades = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
                lit(null).cast("double").as("qvalue"),
                lit(null).cast("long").as("qid"),
                col("event_id").as("trade_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("trade_id").asc_nulls_first, col("qid").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      quotes.unionByName(trades)
        .withColumn("next_quote", last(col("qvalue"), ignoreNulls = true).over(w))
        .where(col("trade_id").isNotNull && col("next_quote").isNotNull)
        .select(col("trade_id"), col("user_id"),
                col("ts").cast("timestamp").as("trade_ts"), col("next_quote"))
        .orderBy(col("trade_id"))
    },

    Q(
      "join_interval",
      """WITH p AS (SELECT event_id AS pid, epoch_ms(ts) AS s1, epoch_ms(ts) + 7200000 AS e1
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS cid, epoch_ms(ts) AS s2, epoch_ms(ts) + 3600000 AS e2
        |      FROM events WHERE event_type = 'click')
        |SELECT p.pid AS purchase_id,
        |       count(c.cid) AS n_clicks,
        |       CAST(coalesce(sum(CASE WHEN c.cid IS NOT NULL
        |                          THEN least(p.e1, c.e2) - greatest(p.s1, c.s2) END), 0) AS BIGINT) AS overlap_ms
        |FROM p LEFT JOIN c ON p.s1 < c.e2 AND c.s2 < p.e1
        |GROUP BY p.pid ORDER BY p.pid""".stripMargin
    ) { (s, d) =>
      // INTERVAL×INTERVAL overlap join — the temporal sibling of
      // `join_spatial_grid` and the one interval shape the as-of family
      // cannot express: both sides are WINDOWS (purchase attribution
      // windows × click dwell windows, half-open [s, e)), the match is
      // s1 < e2 AND s2 < e1, and there is NO selective equality key to
      // hide behind. A raw range join is quadratic; the 100 TB shape is
      // GRID BLOCKING in time: each interval explodes to the 1-hour
      // cells it spans (≤ 3 for the 2 h window — bounded fan-out), the
      // join is a pure cell EQUI-join (hash-partitionable, AQE-visible)
      // with the overlap test demoted to a FILTER, and the classic
      // min-shared-cell rule — keep a pair only in cell
      // floor(max(s1,s2)/C), which overlapping intervals provably share
      // — dedupes without a distinct. Readout collapses to one row per
      // purchase (count + exact total overlap ms), left-joined back so
      // zero-overlap purchases report 0, matching the oracle's LEFT
      // range join. All arithmetic exact integer epoch-ms.
      val ev = T.events(s, d)
      val C = 3600000L
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), unix_millis(col("ts")).as("s1"),
                (unix_millis(col("ts")) + 7200000L).as("e1"))
      val c = ev.where(col("event_type") === "click")
        .select(col("event_id").as("cid"), unix_millis(col("ts")).as("s2"),
                (unix_millis(col("ts")) + 3600000L).as("e2"))
      val pc = p.withColumn("cell", explode(expr(s"sequence(s1 DIV $C, (e1 - 1) DIV $C)")))
      val cc = c.withColumn("cell", explode(expr(s"sequence(s2 DIV $C, (e2 - 1) DIV $C)")))
      val agg = pc.join(cc, Seq("cell"))
        .where(col("s1") < col("e2") && col("s2") < col("e1")
               && col("cell") === greatest(expr(s"s1 DIV $C"), expr(s"s2 DIV $C")))
        .groupBy(col("pid"))
        .agg(count(lit(1)).as("n"),
             sum(least(col("e1"), col("e2")) - greatest(col("s1"), col("s2"))).as("ms"))
      p.join(agg, Seq("pid"), "left")
        .select(col("pid").as("purchase_id"),
                coalesce(col("n"), lit(0L)).as("n_clicks"),
                coalesce(col("ms"), lit(0L)).as("overlap_ms"))
        .orderBy(col("purchase_id"))
    },

    Q(
      "join_range_native",
      """WITH t AS (SELECT event_id AS trade_id, user_id, epoch_ms(ts) AS ms FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events
        |      WHERE event_type = 'click' AND value IS NOT NULL)
        |SELECT t.trade_id,
        |       CAST(count(c.value) AS BIGINT) AS n_clicks,
        |       CAST(coalesce(sum(CAST(round(c.value * 100) AS BIGINT)), 0) AS BIGINT) AS sum_cents
        |FROM t LEFT JOIN c
        |  ON t.user_id = c.user_id
        | AND c.ms BETWEEN t.ms - 7200000 AND t.ms + 7200000
        |GROUP BY t.trade_id
        |ORDER BY t.trade_id""".stripMargin
    ) { (s, d) =>
      // Keyed BAND join through the engine's second WHOLE-OPERATOR
      // extension (org.apache.spark.sql.graft.RangeJoin — VERDICT r18
      // #5): every click of the same user within ±2 h of each purchase,
      // via the logical-node → strategy → merge-scan exec ladder
      // join_asof_native proved out. Where join_range rides a broadcast
      // theta-join (right because its band dim is 3 rows) and
      // join_interval pays grid-blocking's bounded explode, the exec
      // declares clustered distribution + (key, time) ordering, so the
      // planner spends exactly two exchanges and two sorts — then one
      // forward merge-scan per partition pair holds only the live
      // ±delta deque: O(|L| + |R| + matches), state bounded by band
      // density, nothing quadratic per key anywhere (PlanSpec pins the
      // exec node, the two hash exchanges, and row-level equivalence to
      // a windowless SQL recompute). Null-valued clicks are not quotes
      // (the join_asof rule); the readout rounds each value ONCE to
      // exact cents so the per-trade sum is order-free BIGINT in both
      // engines.
      val ev = T.events(s, d)
      val trades = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("trade_id"), col("user_id"),
                unix_millis(col("ts")).as("ms"))
      val clicks = ev.where(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
      org.apache.spark.sql.graft.Ranged
        .join(trades, clicks, "user_id", "ms", "value", "click_value", 7200000L)
        .groupBy(col("trade_id"))
        .agg(count(col("click_value")).as("n_clicks"),
             coalesce(sum(round(col("click_value") * 100).cast("long")), lit(0L))
               .as("sum_cents"))
        .orderBy(col("trade_id"))
    },

    Q(
      "join_self",
      """SELECT a.l_orderkey AS orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
        |       a.l_quantity AS qty_a, b.l_quantity AS qty_b
        |FROM lineitem a
        |JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
        |ORDER BY orderkey, ln_a, ln_b, qty_a, qty_b""".stripMargin
    ) { (s, d) =>
      // Consecutive-member adjacency: the reference's way-segment pairing
      // (consecutive nodes of a way → segments, README.md:80-81).
      val li = T.lineitem(s, d)
      val a = li.select(col("l_orderkey").as("orderkey"), col("l_linenumber").as("ln_a"),
                        col("l_quantity").as("qty_a"))
      val b = li.select(col("l_orderkey").as("bk"), col("l_linenumber").as("ln_b"),
                        col("l_quantity").as("qty_b"))
      a.join(b, col("orderkey") === col("bk") && col("ln_b") === col("ln_a") + 1)
        .select(col("orderkey"), col("ln_a"), col("ln_b"), col("qty_a"), col("qty_b"))
        // (orderkey, linenumber) is not unique → total order over all cols.
        .orderBy(col("orderkey"), col("ln_a"), col("ln_b"), col("qty_a"), col("qty_b"))
    },

    Q(
      "join_bucketed",
      s"""SELECT c_mktsegment, count(*) AS n_orders, ${Det.sqlDsum("o_totalprice")} AS total_price
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Bucketed co-located join — THE shuffle-elimination layout at
      // 100 TB: both tables are written bucketed (and sorted) on the join
      // key, so the sort-merge join reads bucket i against bucket i with
      // ZERO Exchange on either side (PlanSpec asserts it). The write is
      // paid ONCE per (session, dataset) (VERDICT r10: the bench was
      // paying the one-time layout write on every invocation, hiding the
      // ~0.3 s steady-state read the pattern exists to demonstrate). The
      // table names carry the dataset hash so two data dirs in one
      // session can't serve each other's rows.
      val sfx = math.abs(d.hashCode).toHexString
      graft.Scratch.layout(s, "bucket", d) { dir =>
        def bucketed(df: org.apache.spark.sql.DataFrame, table: String, key: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $table")
          df.write.mode("overwrite")
            .option("path", s"$dir/$table")
            .bucketBy(8, key).sortBy(key)
            .format("parquet").saveAsTable(table)
        }
        bucketed(T.orders(s, d), s"graft_bkt_orders_$sfx", "o_custkey")
        bucketed(T.customer(s, d), s"graft_bkt_customer_$sfx", "c_custkey")
      }
      // merge hint keeps the SMJ even when one side is broadcast-small —
      // the point is the bucket-aligned, exchange-free read.
      s.table(s"graft_bkt_orders_$sfx").hint("merge")
        .join(s.table(s"graft_bkt_customer_$sfx"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("c_mktsegment"))
    },

    Q(
      "join_skew_salted",
      s"""SELECT o_orderstatus, count(*) AS n_items, ${Det.sqlDsum("l_discount")} AS sum_disc
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin
    ) { (s, d) =>
      // Explicit skew salting: the probe side appends a deterministic
      // salt in [0,8) to its key; the build side replicates each row once
      // per salt value. A hot key's rows then spread over 8 reducer
      // partitions instead of one straggler. AQE's skew-join split covers
      // most cases at runtime; explicit salting is the plan-level tool
      // when a known hot key (the reference's mega-relation analog) must
      // never straggle. Result is provably identical to the unsalted join.
      val salted = T.lineitem(s, d)
        .withColumn("salt", pmod(xxhash64(col("l_partkey"), col("l_suppkey")), lit(8)).cast("int"))
      val replicated = T.orders(s, d)
        .withColumn("salt", explode(array((0 until 8).map(lit): _*)))
      salted
        .join(replicated,
              col("l_orderkey") === col("o_orderkey") && salted("salt") === replicated("salt"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"), Det.dsum(col("l_discount")).as("sum_disc"))
        .orderBy(col("o_orderstatus"))
    },

    Q(
      "join_spatial_grid",
      """WITH pts AS (SELECT c_custkey, c_custkey % 1000 AS x, (c_custkey * 7) % 1000 AS y
        |             FROM customer),
        |box AS (SELECT n_nationkey,
        |               (n_nationkey * 37) % 900 AS minx, (n_nationkey * 37) % 900 + 60 AS maxx,
        |               (n_nationkey * 61) % 900 AS miny, (n_nationkey * 61) % 900 + 90 AS maxy
        |        FROM nation)
        |SELECT n_nationkey, count(*) AS n_points
        |FROM pts JOIN box
        |  ON x BETWEEN minx AND maxx AND y BETWEEN miny AND maxy
        |GROUP BY n_nationkey
        |ORDER BY n_nationkey""".stripMargin
    ) { (s, d) =>
      // Grid-bucketed spatial join — the scalable replacement for the
      // reference's PostGIS GiST bbox queries (README.md:80-82 geometry
      // store): snap points to fixed cells, explode each bbox over the
      // cells it covers, equi-join on the cell key, then exact-containment
      // filter and pair-dedupe (a box spanning k cells can meet the same
      // point k times). The inequality never drives the join — at 100 TB
      // an inequality join is a cross product, while the cell equi-join
      // shuffles each side once on a uniform key. Cell size trades
      // replication (boxes × cells covered) against candidate precision.
      val cs = 100
      val pts = T.customer(s, d).select(
        col("c_custkey"),
        (col("c_custkey") % 1000).as("x"),
        (col("c_custkey") * 7 % 1000).as("y"))
      val boxes = T.nation(s, d).select(
        col("n_nationkey"),
        (col("n_nationkey") * 37 % 900).as("minx"),
        (col("n_nationkey") * 37 % 900 + 60).as("maxx"),
        (col("n_nationkey") * 61 % 900).as("miny"),
        (col("n_nationkey") * 61 % 900 + 90).as("maxy"))
      val boxCells = boxes
        .withColumn("cx", explode(sequence(expr(s"minx DIV $cs"), expr(s"maxx DIV $cs"))))
        .withColumn("cy", explode(sequence(expr(s"miny DIV $cs"), expr(s"maxy DIV $cs"))))
      pts
        .withColumn("cx", expr(s"x DIV $cs"))
        .withColumn("cy", expr(s"y DIV $cs"))
        .join(boxCells, Seq("cx", "cy"))
        .where(col("x").between(col("minx"), col("maxx")) &&
               col("y").between(col("miny"), col("maxy")))
        .select(col("c_custkey"), col("n_nationkey")).distinct()
        .groupBy(col("n_nationkey")).agg(count(lit(1)).as("n_points"))
        .orderBy(col("n_nationkey"))
    },

    Q(
      "join_bloom_pruned",
      s"""SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         |       ${Det.sqlDsum("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE c_acctbal > 9000
         |GROUP BY c_custkey
         |ORDER BY c_custkey""".stripMargin
    ) { (s, d) =>
      // Semi-join reduction via a Bloom runtime filter — the classic
      // 100 TB shuffle-reduction move (Spark's own
      // spark.sql.optimizer.runtimeFilter does this implicitly; here it
      // is explicit, measurable, and spec-pinned): when the dim side is
      // too big to broadcast AS ROWS but its KEY SET fits a ~1 MB bloom,
      // broadcasting the bloom and probing the fact BEFORE its exchange
      // prunes the dominant cost — most fact rows never enter the
      // shuffle. False positives only leak extra rows into the exact
      // join, which removes them — the result is bit-equal to the
      // unfiltered join (the spec asserts exactly that), so the bloom is
      // pure plan optimization, invisible to the oracle. The probe is
      // the codegen'd functions.BloomMightContainLong expression inside
      // the fact scan's whole-stage span; shuffle_hash hint keeps the
      // join a genuine two-sided exchange (a broadcast join would make
      // the demonstration vacuous).
      val dim = T.customer(s, d).where(col("c_acctbal") > 9000)
        .select(col("c_custkey"))
      val fact = T.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
      // zero-row dim: nothing to build (probing a null-buffer bloom NPEs)
      // and the join is empty anyway — skip the bloom stage
      val probed =
        if (dim.isEmpty) fact
        else {
          val bloom = dim.stat.bloomFilter("c_custkey", 1L << 20, 0.01)
          fact.where(graft.functions.BloomMightContainLong(col("o_custkey"), bloom))
        }
      probed.hint("shuffle_hash")
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_custkey"))
    }
  )
}
