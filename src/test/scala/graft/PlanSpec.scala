package graft

import org.apache.spark.sql.functions._

/** Physical-plan shape guards (SURVEY.md §4): the optimizations we rely on
  * at 100 TB must be visible in the executed plan, not assumed. A failure
  * here means a code change silently broke pushdown / broadcast / top-k
  * fusion even though results stayed correct.
  */
class PlanSpec extends GraftSuite {

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString()

  /** Structural node list (ADVICE r10: class-based collects survive plan-
    * rendering changes across Spark versions, unlike exact substring
    * counts). AdaptiveSparkPlanExec is a leaf to collect(), so its inner
    * plan is expanded explicitly.
    */
  private def nodes(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    root.collect { case n => n }.flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case n => Seq(n)
    }

  private def execNodes(key: String) = {
    val root = SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan
    (root, nodes(root))
  }

  test("flagship: filter pushed to the lineitem scan, dims broadcast") {
    val p = plan("flagship")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
           "shipdate predicate must reach the parquet scan")
    assert(p.contains("BroadcastHashJoin"), "dim joins must broadcast")
  }

  test("scan_parquet: projection prunes the read schema") {
    val p = plan("scan_parquet")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_returnflag"), "unprojected columns must not be read")
  }

  test("topk fuses to TakeOrderedAndProject (no global sort)") {
    assert(plan("topk").contains("TakeOrderedAndProject"))
  }

  test("join_broadcast broadcasts; join_sort_merge sort-merges") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
    assert(plan("join_sort_merge").contains("SortMergeJoin"))
  }

  test("join_theta: fused interval_overlaps expression drives the broadcast NLJ") {
    val p = plan("join_theta")
    assert(p.contains("interval_overlaps"),
           "theta predicate must be the fused codegen expression, not raw column arithmetic")
    assert(p.contains("BroadcastNestedLoopJoin"),
           "dim-sized build side must broadcast under the gate")
  }

  test("agg_hash_group partial-aggregates map-side") {
    val p = plan("agg_hash_group")
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expect partial+final pair")
  }

  test("join_bucketed: bucket-aligned sort-merge join with zero Exchange") {
    // force materialization so the bucketed tables exist, then re-plan
    SparkEntry.queries("join_bucketed")(spark, sf).count()
    val sfx = math.abs(sf.hashCode).toHexString
    val o = spark.table(s"graft_bkt_orders_$sfx").hint("merge")
    val p = o.join(spark.table(s"graft_bkt_customer_$sfx"),
                   org.apache.spark.sql.functions.col("o_custkey") ===
                     org.apache.spark.sql.functions.col("c_custkey"))
      .queryExecution.executedPlan.toString()
    assert(p.contains("SortMergeJoin"), "bucketed join must sort-merge")
    assert(!p.contains("Exchange"),
           "bucketed co-located join must not shuffle either side")
  }

  test("custom DSv2 source: batch scan with pruned read schema") {
    val df = spark.read.format("graft.sources.OsmSyntheticSource")
      .option("rows", "100").option("partitions", "4").load()
      .select(org.apache.spark.sql.functions.col("element_id"),
              org.apache.spark.sql.functions.col("lon_c"))
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BatchScan"), "DSv2 source must plan as BatchScan")
    assert(!p.contains("kind"), "unprojected columns must be pruned from the scan")
    assert(df.count() == 100)
    // filter pushdown narrows the planned row range (PBF block-skip analog)
    val ranged = spark.read.format("graft.sources.OsmSyntheticSource")
      .option("rows", "100").option("partitions", "4").load()
      .where(org.apache.spark.sql.functions.col("element_id") < 30 &&
             org.apache.spark.sql.functions.col("element_id") >= 10)
    assert(ranged.count() == 20)
    assert(ranged.queryExecution.executedPlan.toString().contains("range=[10,30)"),
           "element_id range predicates must reach the scan's split planning")
  }

  test("correlated subqueries decorrelate into joins (no per-row subquery)") {
    val p = plan("subquery_correlated")
    assert(p.contains("Join"), "decorrelation must produce a join")
    assert(!p.toLowerCase.contains("scalarsubquery"),
           "correlated scalar subquery must not survive to the physical plan")
  }

  test("dim-filtered join against the partitioned lake uses dynamic partition pruning") {
    import org.apache.spark.sql.functions._
    // the 100 TB path: "process only colorado" (osm_etl.py:20-28) driven
    // through a JOIN — the selected partitions are only known at runtime
    // from the filtered dim, so static pruning can't help; DPP must inject
    // the dim's keys into the fact scan's PartitionFilters.
    val out = Scratch.fresh("dpp_lake")
    T.orders(spark, sf)
      .join(broadcast(T.customer(spark, sf)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T.nation(spark, sf)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T.region(spark, sf)), col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("r_name"))
      .write.mode("overwrite").partitionBy("r_name").parquet(out)
    val fact = spark.read.parquet(out)
    val dim = T.region(spark, sf).where(col("r_regionkey") < 2)
    val joined = fact.join(dim, fact("r_name") === dim("r_name"))
    val p = joined.queryExecution.executedPlan.toString()
    assert(p.toLowerCase.contains("dynamicpruning"),
           "fact scan must carry a dynamicpruning PartitionFilter from the dim")
    assert(joined.count() > 0)
  }

  test("size-gated broadcast degrades to a shuffle join above the budget") {
    val run = SparkEntry.queries("text_rarity")
    val withBcast = run(spark, sf)
    assert(withBcast.queryExecution.executedPlan.toString().contains("BroadcastHashJoin"),
           "under the budget the dictionary join must broadcast")
    // one threshold decides every broadcast: floor Spark's auto-broadcast
    // to prove the shuffle path exists and agrees.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val sheared = run(spark, sf)
      assert(!sheared.queryExecution.executedPlan.toString().contains("BroadcastHashJoin"),
             "above the budget the dictionary join must not broadcast")
      val a = withBcast.collect().map(_.toSeq)
      val b = sheared.collect().map(_.toSeq)
      assert(a.toSeq === b.toSeq, "gate must never change results")
    }
  }

  test("Gate.bcast hints a side only while Spark's broadcast threshold covers its estimate") {
    val side = T.customer(spark, sf)
    val est = side.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    def hinted(threshold: String): Boolean =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        Gate.bcast(side).queryExecution.analyzed.collectFirst {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        }.nonEmpty
      }
    assert(hinted((est + 1).toString), s"a threshold above the $est-byte estimate must broadcast")
    assert(hinted("1g"), "the threshold parses as Spark parses it")
    assert(!hinted((est - 1).toString), s"a threshold below the $est-byte estimate must not broadcast")
    assert(!hinted("-1"), "-1 must never broadcast")
  }

  test("source guard: one broadcast policy") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // split literal, so this file does not match its own needle
    val knob = "broadcastGate" + "Bytes"
    val knobHits = Seq("src", "tools", "dags").flatMap { d =>
      Files.walk(Paths.get(d)).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => new String(Files.readAllBytes(p), "ISO-8859-1").contains(knob)).map(_.toString)
    }
    assert(knobHits.isEmpty, knobHits)
    // every raw broadcast( names its bound on its own line or the line above
    val raw = "(?<![.\\w])broadcast\\(".r
    val unbounded = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.collect {
          case i if raw.findFirstIn(lines(i)).nonEmpty && !lines(i).trim.startsWith("//")
              && !lines(i).trim.startsWith("*")
              && !(lines(i) + (if (i > 0) lines(i - 1) else "")).contains("bound:") => s"$p:${i + 1}"
        }
      }
    assert(unbounded.isEmpty, unbounded)
  }

  test("event_sessionize: one data exchange feeds both windows and the session roll-up") {
    val p = plan("event_sessionize")
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(dataExchanges == 1,
      s"sessionize must shuffle exactly once on user_id (found $dataExchanges hash exchanges):\n$p")
    assert(p.contains("Window"), "lag/cumsum must run as window operators")
  }

  test("sample_fixed_k: WindowGroupLimit partial top-k runs below the exchange") {
    val p = plan("sample_fixed_k")
    val idxLimit = p.indexOf("WindowGroupLimit")
    val idxExchange = p.indexOf("Exchange hashpartitioning")
    assert(idxLimit >= 0, "rank filter must plan a WindowGroupLimit")
    assert(idxExchange >= 0, "stratum ranking needs the lang exchange")
    // plan prints top-down: the LAST WindowGroupLimit occurrence must sit
    // below (after) the exchange — the map-side partial top-k that keeps
    // the shuffle O(k) per stratum per partition
    assert(p.lastIndexOf("WindowGroupLimit") > idxExchange,
      "a partial WindowGroupLimit must run map-side, before the shuffle")
  }

  test("multimodal_frame_sample: generator plan, no data shuffle") {
    val p = plan("multimodal_frame_sample")
    assert(p.contains("Generate"), "frame fan-out must be a Generate (explode), not a join")
    assert(!p.contains("Exchange hashpartitioning"),
      "frame sampling must not shuffle (only the final ORDER BY range exchange is allowed)")
  }

  test("dedup_incremental: the existing-corpus side never self-joins") {
    // The operator's whole reason to exist: per-batch ingestion must not
    // re-pair the 100 TB corpus with itself. In the optimized plan, the
    // corpus side is recognisable by its NOT((doc_id % 5) = 0) filter —
    // assert no join anywhere has that filter on BOTH subtrees, and that
    // the single band-bucket join is exactly corpus on one side, new
    // batch on the other.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = SparkEntry.queries("dedup_incremental")(spark, sf)
      .queryExecution.optimizedPlan
    def corpusSide(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.toString.contains("NOT ((doc_id")
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty, "expected the probe + attach + anti joins in the plan")
    // exactly one pair-GENERATING join (the band-bucket probe), with the
    // corpus on exactly one side; every other join must key on doc ids
    // (per-doc attach / anti joins — linear in candidates, they can never
    // re-pair the corpus with itself). Note corpus-filter strings on BOTH
    // sides of an attach join are fine: InferFiltersFromConstraints
    // legitimately pushes the corpus predicate onto the gram/sig side.
    val (bandJoins, docJoins) = joins.partition(
      _.condition.exists(_.references.exists(_.name == "band_h")))
    assert(bandJoins.size == 1, s"expected exactly one band-bucket probe, got ${bandJoins.size}")
    assert(corpusSide(bandJoins.head.left) ^ corpusSide(bandJoins.head.right),
      "band probe must have the corpus on exactly one side, the new batch on the other")
    for (j <- docJoins)
      assert(j.condition.exists(_.references.map(_.name).forall(
          n => n == "doc_a" || n == "doc_b" || n == "doc_id" || n == "sa" || n == "sb" ||
               n == "na" || n == "nb" || n == "ga" || n == "gb")),
        s"non-probe join must attach per-doc state, not generate pairs: ${j.condition}")
  }

  test("event_ohlc: one hash exchange serves both window passes and the bar aggregate") {
    val p = plan("event_ohlc")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "window + same-key aggregate must share one shuffle")
    assert("Window ".r.findAllIn(p).size == 2 && "\\+- Sort ".r.findAllIn(p).size <= 2,
      "close must come from the partition count, not a second descending in-partition sort")
  }

  test("event_dau_rolling: day fan-out is a generator over the collapsed user-day set") {
    val p = plan("event_dau_rolling")
    assert(p.contains("Generate explode(sequence"),
      "rolling fan-out must be a generator, not a 7-way union/self-join")
    assert(p.contains("BroadcastHashJoin"),
      "observed-days filter must broadcast under the gate")
    // the generator consumes the DISTINCT (user, day) aggregate, i.e. the
    // event log was collapsed BEFORE the ×7 fan-out, not after. Two valid
    // shapes: the live distinct aggregate, OR the CacheManager's
    // InMemoryTableScan when another query (event_stickiness persists the
    // same collapsed set) ran first in this session — the cached relation
    // IS the collapsed user-day set, arriving even cheaper.
    val gen = p.linesIterator.dropWhile(!_.contains("Generate explode")).take(3).mkString("\n")
    assert(gen.contains("HashAggregate(keys=[user_id") || gen.contains("InMemoryTableScan"),
      "generator must sit directly on the collapsed user-day set (live or cached)")
  }

  test("agg_histogram: bucket id computed below the partial aggregate") {
    val p = plan("agg_histogram")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final pair")
    val partialIdx = p.indexOf("partial_count")
    val floorIdx = p.indexOf("FLOOR(")
    assert(partialIdx >= 0 && floorIdx > partialIdx,
      "bucket floor must be a scan-side projection under the partial agg")
  }

  test("agg_corr: five decimal moments in ONE aggregate pass, no corr() double stream") {
    val p = plan("agg_corr")
    assert("HashAggregate".r.findAllIn(p).size == 2,
      "all five moments must ride one partial+final aggregate")
    assert(!p.contains("corr("), "must not fall back to the fp-order-dependent builtin")
    assert(p.contains("Exchange SinglePartition"),
      "only the 11-value partial state crosses the wire")
  }

  test("text_tfidf_topk: top-3 is rank-limited below the shuffle, df reuses cached tf") {
    // start from a cold cache: a tf copy left behind by another suite
    // changes how many cached-subtree echoes the plan carries
    spark.catalog.clearCache()
    val (root, ns) = execNodes("text_tfidf_topk")
    val p = root.toString()
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "per-doc top-3 must prune map-side (WindowGroupLimit), not sort whole docs")
    // both tf consumers (probe side and the df branch) must read the
    // persisted tf table; tokenization lives only inside the cache build,
    // so the executed plan itself carries NO live generator
    assert(ns.count(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]) == 2,
      "both tf consumers must read the cache, not re-tokenize the corpus")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      "every tokenize must sit inside the cached tf build, none live")
    spark.catalog.clearCache() // the query persists tf; mimic Verify/Bench hygiene
  }

  test("emb_quantize_int8: pure projection — no shuffle before the output sort") {
    val (_, ns) = execNodes("emb_quantize_int8")
    val ex = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.length == 1 &&
      ex.head.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      "quantization must be scan-parallel; only the deterministic output sort shuffles")
  }

  test("agg_mode: rn=1 pick is a WindowGroupLimit over the collapsed counts") {
    val p = plan("agg_mode")
    assert(p.contains("WindowGroupLimit"),
      "mode pick must prune to 1 row per group map-side")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "(group, value) count must collapse the input before the window")
  }

  test("text_bigram_topk: generator pair-forming + fused top-k, no join") {
    val (_, ns) = execNodes("text_bigram_topk")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      "bigrams must come from a per-row generator, not a self-join")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-25 must fuse, never global-sort")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "no join may form the pairs")
  }

  test("event_anomaly: moments aggregate the collapsed daily counts, broadcast back") {
    val p = plan("event_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      "per-type moment table must broadcast under the gate")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      "only the count/moment aggregates may shuffle — never the raw log twice")
  }

  test("osm_nearest_node: grid equi-join drives the plan, never the distance inequality") {
    val (_, ns) = execNodes("osm_nearest_node")
    assert(!ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "candidate pairing must be the (cx, cy) equi-join, not an NLJ on d2")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "the grid join must exist")
  }

  test("osm_poly_overlaps: cell equi-join proposes pairs, never the bbox inequality") {
    val (_, ns) = execNodes("osm_poly_overlaps")
    assert(!ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "candidate pairing must be the (cx, cy) equi-join, not an NLJ on bbox overlap")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      "the grid join must exist")
  }

  test("osm_name_trigram: probe postings broadcast; candidates come from the gram equi-join") {
    val (root, ns) = execNodes("osm_name_trigram")
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "the probe gram postings must broadcast onto the name-store scan")
    assert(!ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "candidates come from the gram-key equi-join, never an all-pairs NLJ")
    assert(!root.toString.contains("CartesianProduct"), "no all-pairs comparison anywhere")
  }

  test("lake_stats: one scan melts all columns — no per-column rescan") {
    val (_, ns) = execNodes("lake_stats")
    assert(ns.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) == 1,
      "the melt must read orders exactly once; DuckDB's UNION ALL shape pays 4 scans")
  }

  test("event_markov: pair counts aggregate once; per-from totals broadcast back") {
    val p = plan("event_markov")
    assert(p.contains("BroadcastHashJoin"),
      "the |types|-sized totals table must broadcast under the gate")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"),
      "transitions must come from one windowed lead, not a self-join")
  }

  test("sim_knn_graph: rank cut is a group-limit under a vec_a-partitioned window") {
    val p = plan("sim_knn_graph")
    assert(p.contains("WindowGroupLimit"),
      "rank <= 3 must push into WindowGroupLimit (per-partition top-k, no full rank materialization)")
  }

  test("dedup_semantic: the drop list broadcasts back onto the corpus scan") {
    val (_, ns) = execNodes("dedup_semantic")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "|dups|-sized drop table must ride the size-gated broadcast, not shuffle the corpus")
  }

  test("graph_pagerank: every iteration's rank and out-degree joins broadcast") {
    val (_, ns) = execNodes("graph_pagerank")
    val bhj = ns.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj >= 6,
      s"3 unrolled iterations x (rank + outdeg) joins must all broadcast, got $bhj BroadcastHashJoin nodes")
  }

  test("sql_returned_items: deterministic top-20 fuses to TakeOrderedAndProject") {
    val (_, ns) = execNodes("sql_returned_items")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "LIMIT 20 over ORDER BY must fuse, never global-sort")
  }

  test("sql_local_supplier_volume: the cyclic 6-way join reorders into equi-joins only") {
    // the c_nationkey = s_nationkey closure edge turns the star into a
    // cycle; Catalyst must plan it as a join-graph traversal (every join
    // an equi-join — the global CartesianProduct sweep below also covers
    // this) with the dimension chain broadcast under the size gate.
    val p = plan("sql_local_supplier_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"region/nation/supplier dims must broadcast at fixture scale:\n$p")
  }

  test("agg_multi_distinct: three distincts ride ONE Expand, not three scans") {
    val p = plan("agg_multi_distinct")
    assert("Expand".r.findAllIn(p).size == 1,
      s"RewriteDistinctAggregates must plan exactly one Expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"multiple distincts must not rescan the input:\n$p")
  }

  test("join_null_safe: EqualNullSafe stays a HASH join, never a nested loop") {
    val (_, ns) = execNodes("join_null_safe")
    assert(ns.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "<=> must plan as a hash-able equi-join key")
    assert(!ns.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "<=> must not degrade to a nested loop")
  }

  test("osm_road_graph: one regroup exchange; junction + node tables broadcast; split is in-row") {
    val (_, ns) = execNodes("osm_road_graph")
    // hash exchanges on the FACT path only: the junction-degree aggregate
    // shuffles too, but inside the broadcast BUILD subtree (node-store-
    // sized output) — the way-membership fact must shuffle exactly once
    def hashEx(xs: Seq[org.apache.spark.sql.execution.SparkPlan]) = xs.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    val inBroadcast = ns.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => nodes(b)
    }.flatten
    val mainline = hashEx(ns).filterNot(hashEx(inBroadcast).contains)
    assert(mainline.size == 1,
      s"exactly ONE fact-path hash exchange (the per-way regroup) may exist, found ${mainline.size}")
    assert(ns.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]) == 2,
      "node resolve and junction mark must both be broadcast hash joins at fixture scale")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      "edge fan-out must be a generator (in-row split), not a join")
  }

  test("sql_disjunctive_revenue: equi-key factored from the OR; residual ranges pushed to both scans") {
    val p = plan("sql_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      "the OR-of-conjunctions must NOT demote the join below a hash equi-join")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or("),
      "the derivable quantity-range OR must reach the lineitem scan")
    assert(p.contains("PushedFilters: [IsNotNull(p_partkey), Or("),
      "the brand/size arms must reach the part scan")
  }

  test("sql_product_profit: LIKE filter pushed to the part scan; the filtered dim drives broadcast joins") {
    val p = plan("sql_product_profit")
    assert(p.contains("StringContains(p_name,widget)"),
      "the %widget% LIKE must reach the part parquet scan as a pushed StringContains")
    assert(p.contains("BroadcastHashJoin") && !p.contains("NestedLoop"),
      "the 5-relation profit join graph must stay hash equi-joins with dims broadcast")
    assert(!p.contains("p_size") && !p.contains("p_brand"),
      "column pruning must drop the part columns the profit rollup never reads")
  }

  test("sql_supplier_relationship: NOT IN plans as a null-aware broadcast HASH anti join") {
    val (_, ns) = execNodes("sql_supplier_relationship")
    val naaj = ns.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti && j.isNullAwareAntiJoin => j
    }
    assert(naaj.size == 1,
      "NOT IN must plan as the single-column null-aware BroadcastHashJoin — " +
        s"not a nested loop (found ${naaj.size} NAAJ nodes)")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "no nested-loop fallback may appear for the NOT-IN probe")
  }

  test("event_growth_accounting: lag and lead share ONE WindowExec over the collapsed user-days") {
    val (_, ns) = execNodes("event_growth_accounting")
    val wins = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.size == 1,
      s"lag+lead must ride one user_id-partitioned window (same exchange, same sort), found ${wins.size}")
    assert(wins.head.partitionSpec.nonEmpty,
      "the growth window must be user_id-partitioned — never a global single-task window")
  }

  test("win_rolling_corr: explode-contribution rollup — no WindowExec anywhere in the plan") {
    val (_, ns) = execNodes("win_rolling_corr")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "the rolled moments must be an ordinary day-keyed aggregate (the event_rfm lesson), not a window")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      "the <=7-day fan-out must be a generator (explode(sequence)), not a join or window frame")
  }

  test("join_asof_native: custom AsofJoinExec plans with one exchange+sort per side, no Window") {
    val (_, ns) = execNodes("join_asof_native")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.graft.AsofJoinExec]),
      "the custom strategy must plan the AsofJoin logical node")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "the native operator replaces the union+window emulation — no Window may appear")
    val hashEx = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.size == 2,
      s"EnsureRequirements must co-partition exactly the two sides, found ${hashEx.size}")
    // and the two formulations agree row-for-row (same oracle, but pin
    // the equivalence engine-side too)
    val native = SparkEntry.queries("join_asof_native")(spark, sf).collect().toSeq
    val windowed = SparkEntry.queries("join_asof")(spark, sf).collect().toSeq
    assert(native.map(_.toSeq) == windowed.map(_.toSeq),
      "native merge-scan and union+window emulation must produce identical rows")
  }

  test("join_range_native: custom RangeJoinExec plans with two exchanges, no Generate/Window") {
    val (_, ns) = execNodes("join_range_native")
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.graft.RangeJoinExec]),
      "the custom strategy must plan the RangeJoin logical node")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]) &&
           !ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      "the native band join replaces both the window emulation and grid-blocking's explode")
    // exactly two exchanges feed the exec (the readout aggregate above it
    // legitimately re-shuffles on trade_id — count below the join only)
    val under = ns.collect {
      case e: org.apache.spark.sql.graft.RangeJoinExec => nodes(e)
    }.flatten
    val hashEx = under.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.size == 2,
      s"EnsureRequirements must co-partition exactly the two sides, found ${hashEx.size}")
    // row-identity with a windowless theta-join recompute of the same band
    val ev = T.events(spark, sf)
    val trades = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("trade_id"), col("user_id").as("tu"),
              unix_millis(col("ts")).as("tms"))
    val clicks = ev.where(col("event_type") === "click" && col("value").isNotNull)
      .select(col("user_id").as("cu"), unix_millis(col("ts")).as("cms"), col("value"))
    val emulated = trades.join(clicks,
        col("tu") === col("cu") &&
        col("cms").between(col("tms") - 7200000L, col("tms") + 7200000L), "left")
      .groupBy(col("trade_id"))
      .agg(count(col("value")).as("n_clicks"),
           coalesce(sum(round(col("value") * 100).cast("long")), lit(0L)).as("sum_cents"))
      .orderBy(col("trade_id"))
      .collect().toSeq
    val native = SparkEntry.queries("join_range_native")(spark, sf).collect().toSeq
    assert(native.map(_.toSeq) == emulated.map(_.toSeq),
      "native merge-scan and theta-join emulation must produce identical rows")
  }

  test("tokenizer_bpe_pairs: generator pair-forming + fused top-k, no join, text-only scan") {
    val p = plan("tokenizer_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), "top-30 must fuse, not global-sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "pairs must come from a generator, never a join")
    assert(!p.contains("doc_id"), "scan must prune to the text column only")
  }

  test("text_entropy: fused unigram hasher over a doc_id+text pruned scan") {
    val p = plan("text_entropy")
    assert(p.contains("hashed_word_grams_seq"), "tokenization must be the fused byte-scan hasher")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      "scan must prune to doc_id and text")
  }

  test("sim_mips_topk: broadcast query through the fused dot product into TakeOrdered") {
    val p = plan("sim_mips_topk")
    assert(p.contains("dot_product"), "scoring must be the fused codegen expression")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row query vector must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must fuse")
  }

  test("shuffle_epoch: globalRowNumber windows are partition-local over a range exchange") {
    val (_, ns) = execNodes("shuffle_epoch")
    val wins = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "row_number must never run in a single-task unpartitioned window")
    val range = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }
    assert(range.nonEmpty, "the global rank must ride a range repartition")
  }

  test("data_drift_psi: every bounded-grid join broadcasts, no fact-side sort-merge") {
    assert(!plan("data_drift_psi").contains("SortMergeJoin"),
      "the types*24 grid must never shuffle-join")
  }

  test("event_bot_detect: ONE user_id exchange feeds lag, stat windows, and the aggregate") {
    val (_, ns) = execNodes("event_bot_detect")
    val hashEx = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.size == 1,
      s"lag window, per-user stats, and the final aggregate must share one exchange, found ${hashEx.size}")
  }

  test("event_ab_cuped: one user_id exchange; moments and cohorts are global conditional aggregates") {
    val (_, ns) = execNodes("event_ab_cuped")
    val hashEx = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.size <= 1,
      s"the cached per-user collapse must be the only hash exchange, found ${hashEx.size}")
    assert(!plan("event_ab_cuped").contains("SortMergeJoin"),
      "the 1-row moment join must broadcast")
  }

  test("event_seasonal_anomaly: percentile passes run over the collapsed daily table, baselines broadcast") {
    val p = plan("event_seasonal_anomaly")
    assert(!p.contains("SortMergeJoin"), "the (type,dow) baseline joins must broadcast")
  }

  test("osm_geometry_qa: one regroup exchange, flags compute in-row") {
    val (_, ns) = execNodes("osm_geometry_qa")
    val hashEx = ns.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.size <= 2,
      s"node-resolve join + way regroup only, found ${hashEx.size} hash exchanges")
  }

  test("text_source_divergence: the corpus collapses once; pairwise work joins collapsed tables") {
    // the collapsed (source, token) table localCheckpoints, so the
    // pairwise plan must contain ZERO live scans of the document fact —
    // before the checkpoint, every branch (n, grid, both join sides)
    // re-scanned and re-hashed it (measured 5 live FileSourceScans)
    val (_, ns) = execNodes("text_source_divergence")
    val factScans = ns.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.tableIdentifier.toString.contains("documents") ||
           f.metadata.get("Location").exists(_.contains("documents")) => f
    }
    assert(factScans.isEmpty,
      s"the fact must scan once into the checkpointed collapse, found ${factScans.size} live scans")
  }

  test("emb_random_projection: pure map-side projection — no hash exchange before the sort") {
    val p = plan("emb_random_projection")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the JL projection must not shuffle (scan → project → explode → sort):\n$p")
    assert(p.contains("Generate"), "posexplode generator missing")
  }

  test("osm_hilbert_index: one broadcast of the 1-row bounds, zero hash exchanges") {
    val p = plan("osm_hilbert_index")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the 8 bit-walk stages must stay map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "bounds attach must be a broadcast")
  }

  test("agg_log_histogram: bucket id computed below one partial+final aggregate") {
    val (_, ns) = execNodes("agg_log_histogram")
    val aggs = ns.filter(_.getClass.getSimpleName.contains("HashAggregate"))
    assert(aggs.size == 2, s"expected partial+final aggregate pair, got ${aggs.size}")
    assert(ns.count(_.getClass.getSimpleName == "ShuffleExchangeExec") <= 2,
      "log histogram must shuffle only the bucket rollup (+ presentation sort)")
  }

  test("no query plan contains a CartesianProduct except the declared cross join", Heavy) {
    // the pristine sweep plans every key anyway, so the action-eager keys
    // (kmeans training, embedded-Derby and lake writes) and the streaming
    // demos are checked too; kmeans' codebook cross-probe is an
    // intentional broadcast NLJ, not a cartesian product
    val swept = RegistrySweep.pristine.filter(_.key != "join_cross")
    val unplanned = swept.collect { case Swept(key, _, _, None, e) => key -> e.getOrElse("") }
    assert(unplanned.isEmpty, s"plans the cartesian check could not build: $unplanned")
    val cartesian = swept.collect {
      case Swept(key, _, _, Some(plan), _) if plan.toString.contains("CartesianProduct") => key
    }
    assert(cartesian.isEmpty, s"accidental cartesian products: $cartesian")
  }
}
