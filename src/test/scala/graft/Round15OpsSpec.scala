package graft

import org.apache.spark.sql.functions._

/** Round-15 invariants: bounded-depth relation-of-relations resolution
  * (`nestedClosure` / `osm_relation_nested`). The oracled key can only
  * exercise the fixture's single real nesting level with zero
  * rejections, so the hostile shapes — chains past the bound and
  * membership CYCLES (both occur in real OSM data) — are pinned here on
  * synthetic edge tables.
  */
class Round15OpsSpec extends GraftSuite {

  import spark.implicits._

  private def roots(ids: Long*) =
    ids.toDF("root_id").select(col("root_id"), col("root_id").as("rel_id"))

  test("osm_relation_nested: oracled key resolves the nation>customer>way chain, zero rejects") {
    val got = SparkEntry.queries("osm_relation_nested")(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getLong(7) == 0L), "fixture nesting is within the bound")
    // cross-check one nation against the flat chain
    val nat = got.head.getLong(0) - 25000000L
    val expect = T.customer(spark, sf).where(col("c_nationkey") === nat)
      .join(T.orders(spark, sf), col("c_custkey") === col("o_custkey"))
      .join(T.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(got.head.getLong(2) == expect, "n_points must equal the flat-join row count")
  }

  test("nestedClosure: a chain deeper than the bound is rejected loudly, not dropped silently") {
    // 1 -> 2 -> 3 -> 4: with maxDepth = 2 the closure reaches {1,2,3}
    // and node 3's unexpanded member (4) must be REPORTED.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("parent_id", "child_id")
    val (closure, unresolved) = operators.OsmKernels.nestedClosure(roots(1L), edges, maxDepth = 2)
    assert(closure.collect().map(_.getLong(1)).toSet == Set(1L, 2L, 3L))
    val u = unresolved.collect()
    assert(u.length == 1 && u.head.getLong(0) == 1L && u.head.getLong(1) == 1L,
      s"root 1 must report exactly its one over-deep member: ${u.toSeq}")
    // and a bound that covers the chain resolves it fully with no reject
    val (c4, u4) = operators.OsmKernels.nestedClosure(roots(1L), edges, maxDepth = 3)
    assert(c4.collect().map(_.getLong(1)).toSet == Set(1L, 2L, 3L, 4L))
    assert(u4.collect().isEmpty)
  }

  test("nestedClosure: a membership cycle terminates and is reported, never looped on") {
    // 10 -> 11 -> 10 (a 2-cycle, as real OSM relation data contains):
    // the unrolled plan terminates by construction; the closure is the
    // cycle's node set; the frontier at the bound still has children,
    // so the root reports unresolved members.
    val edges = Seq((10L, 11L), (11L, 10L)).toDF("parent_id", "child_id")
    val (closure, unresolved) = operators.OsmKernels.nestedClosure(roots(10L), edges, maxDepth = 4)
    assert(closure.collect().map(_.getLong(1)).toSet == Set(10L, 11L),
      "distinct closure of a 2-cycle is its two members")
    val u = unresolved.collect()
    assert(u.length == 1 && u.head.getLong(0) == 10L && u.head.getLong(1) >= 1L,
      s"the cycle must surface as unresolved members at the bound: ${u.toSeq}")
  }

  test("dedup_semantic_kmeans: drops are TRUE near-dups; cells out-cover the fixture label") {
    val got = SparkEntry.queries("dedup_semantic_kmeans")(spark, sf).collect()
    assert(got.length == T.embeddings(spark, sf).count())
    val cellDropped = got.filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(cellDropped.nonEmpty, "the cells must surface near-dup drops")
    // global brute-force truth (500 vectors -> 125k pairs, driver-cheap):
    // one-hop keep-lowest-id rule with NO blocking at all
    val vecs = T.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val globalDropped = (for {
      i <- vecs.indices; j <- 0 until i
      if cos(vecs(i)._2, vecs(j)._2) >= graft.operators.LlmOps.cosTau
    } yield vecs(i)._1).toSet
    assert(cellDropped.subsetOf(globalDropped),
      s"a cell-blocked drop must be a genuine >= tau pair: ${(cellDropped -- globalDropped).take(5)}")
    // Coverage comparison against the label-blocked reference
    // (`dedup_semantic`): labels are NOT the truth here — the fixture's
    // >= tau pairs are mostly cross-label — so the meaningful pin is
    // that the DATA-DRIVEN cells recover at least as much of the global
    // drop set as the label stand-in, with both recalls reported.
    val labelDropped = SparkEntry.queries("dedup_semantic")(spark, sf).collect()
      .filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(labelDropped.nonEmpty && labelDropped.subsetOf(globalDropped))
    val cellRecall = cellDropped.size.toDouble / globalDropped.size
    val labelRecall = labelDropped.size.toDouble / globalDropped.size
    assert(cellRecall >= labelRecall,
      f"k-means cells ($cellRecall%.3f of global truth) must not trail the fixture label ($labelRecall%.3f)")
    assert(cellRecall >= operators.RecallFloors.dedupSemanticKmeans,
      f"cell recall $cellRecall%.3f fell below the measured floor")
    info(f"dedup_semantic_kmeans recall vs global truth: $cellRecall%.3f " +
      f"(label-blocked reference: $labelRecall%.3f; overlap vs label drops: " +
      s"${(cellDropped & labelDropped).size}/${labelDropped.size})")
  }

  test("dedup_semantic_kmeans: the self-join is equi-keyed on the IVF cell, cosine is residual") {
    val df = SparkEntry.queries("dedup_semantic_kmeans")(spark, sf)
    df.collect() // finalize the AQE plan
    val p = df.queryExecution.executedPlan.toString()
    // The cell column must DRIVE the join (hash keys), with the
    // pairwise cosine only as a residual condition on cell-equal
    // candidates — at fixture scale AQE broadcasts the small side, past
    // the budget both sides exchange on `cid` and reuse; either way the
    // key is what bounds the cost at O(sum cell^2 * d).
    assert("""Join \[cid""".r.findFirstIn(p).isDefined,
      s"the pairwise join must be equi-keyed on the IVF cell; plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no unkeyed pairwise product anywhere in the plan")
  }

  test("split_leakage_safe: no near-dup pair straddles a split boundary; fractions sane") {
    val got = SparkEntry.queries("split_leakage_safe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val split = got.map(x => x._1 -> x._3).toMap
    // the leakage guarantee, checked at PAIR level against the same
    // tau-graph the clusters came from (not just cluster-level, which
    // the split-by-cluster construction makes trivially true)
    val e = T.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var pairs = 0
    for (i <- e.indices; j <- 0 until i
         if e(i)._3 == e(j)._3 && cos(e(i)._2, e(j)._2) >= graft.operators.LlmOps.cosTau) {
      pairs += 1
      assert(split(e(i)._1) == split(e(j)._1),
        s"near-dup pair (${e(j)._1}, ${e(i)._1}) straddles splits " +
          s"${split(e(j)._1)}/${split(e(i)._1)} — that is eval leakage")
    }
    assert(pairs > 0, "the fixture must contain near-dup pairs for the guarantee to bite")
    // fractions: hash thresholds 'e6'/'f3' target ~90/5/5 of CLUSTERS
    val frac = got.groupBy(_._3).view.mapValues(_.length.toDouble / got.length).toMap
    assert(frac.getOrElse("train", 0.0) > 0.75 && frac.getOrElse("train", 0.0) < 0.98,
      s"train fraction out of band: $frac")
    assert(frac.keySet.subsetOf(Set("train", "val", "test")))
    // determinism: a re-run deals the identical split
    val again = SparkEntry.queries("split_leakage_safe")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == split, "the split must be a pure function of the data, not of the run")
  }

  test("graph_shortest_path_conv: agrees with the depth-6 unroll on the fixture graph") {
    val conv = SparkEntry.queries("graph_shortest_path_conv")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unrolled = SparkEntry.queries("graph_shortest_path")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the unroll truncates at 6; convergence must agree on everything
    // the unroll reaches and only ever ADD strictly-deeper nodes
    assert(conv.view.filterKeys(unrolled.contains).toMap == unrolled,
      "convergence and unroll must agree on all depth<=6 nodes")
    assert((conv.keySet -- unrolled.keySet).forall(n => conv(n) > 6),
      "nodes only convergence reaches must be strictly deeper than the unroll bound")
  }

  test("bfsConverged: exact distances on a diameter-11 chain the depth-6 unroll cannot reach") {
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = chain.union(chain.select(col("dst"), col("src")))
    val got = operators.TrainingOps.bfsConverged(edges, source = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 11L).map(i => i -> i).toMap,
      s"chain distances must be exact to the full diameter: $got")
  }

  test("bfsConverged: exceeding the round budget fails loudly with the live frontier") {
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      operators.TrainingOps.bfsConverged(chain, source = 0L, maxRounds = 3).collect()
    }
    assert(ex.getMessage.contains("after 3 rounds") && ex.getMessage.contains("frontier"),
      s"budget failure must name the budget and the live frontier: ${ex.getMessage}")
  }

  test("nestedClosure: a diamond contributes each reached relation once") {
    // 20 -> {21, 22} -> 23: relation 23 reachable twice, must appear once.
    val edges = Seq((20L, 21L), (20L, 22L), (21L, 23L), (22L, 23L))
      .toDF("parent_id", "child_id")
    val (closure, _) = operators.OsmKernels.nestedClosure(roots(20L), edges, maxDepth = 3)
    val rels = closure.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rels.length == rels.distinct.length, "closure must be a SET of (root, rel)")
    assert(rels.map(_._2).toSet == Set(20L, 21L, 22L, 23L))
  }

  test("osm_geometry_qa: planted zero-length, illegal-repeat, and degenerate-ring ways flag") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qa_fixture").toString
    // nodes: 1..3 distinct coords; 4 and 5 COINCIDENT
    Seq((1L, 10, 900.0), (2L, 20, 900.0), (3L, 20, 910.0),
        (4L, 30, 950.0), (5L, 30, 950.0))
      .toDF("p_partkey", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // w1 open valid; w2 closed valid ring; w3 consecutive repeat;
    // w4 degenerate 2-point ring; w5 zero-length via coincident nodes
    Seq((1L, 1, 1L), (1L, 2, 2L), (1L, 3, 3L),
        (2L, 1, 1L), (2L, 2, 2L), (2L, 3, 3L), (2L, 4, 1L),
        (3L, 1, 1L), (3L, 2, 2L), (3L, 3, 2L),
        (4L, 1, 1L), (4L, 2, 2L), (4L, 3, 1L),
        (5L, 1, 4L), (5L, 2, 5L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("osm_geometry_qa")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getBoolean(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got(1L) == (0L, false, 0L, true), "open way with distinct points is valid")
    assert(got(2L) == (0L, true, 0L, true), "proper closed ring is valid")
    assert(got(3L) == (1L, false, 1L, false), "consecutive repeat = zero-length + illegal repeat")
    assert(got(4L) == (0L, true, 0L, false), "2-distinct-point ring is degenerate")
    assert(got(5L) == (1L, false, 0L, false), "coincident distinct nodes = zero-length segment")
  }

  test("osm_route_dist_conv: never worse than the depth-3 unroll, covers at least its nodes") {
    val conv = SparkEntry.queries("osm_route_dist_conv")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d3 = SparkEntry.queries("osm_route_dist")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d3.keySet.subsetOf(conv.keySet), "convergence must reach every ≤3-hop node")
    // min over a superset of paths, then a monotone round: conv ≤ depth-3
    assert(d3.forall { case (n, v) => conv(n) <= v },
      "converged distance can never exceed the 3-round bound")
  }

  test("relaxConverged: exact on a weighted chain the depth-3 unroll cannot reach; loud budget") {
    val chain = (0L until 10L).map(i => (i, i + 1, 2.5)).toDF("u", "v", "w")
    val und = chain.unionByName(chain.select(col("v").as("u"), col("u").as("v"), col("w")))
    val got = operators.OsmKernels.relaxConverged(und, source = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 11, "all 11 chain nodes reached")
    assert((0L to 10L).forall(i => got(i) == 2.5 * i), "weighted distances exact")
    withConf("spark.sql.graft.routeDriverGateEdges" -> "0") { // force the distributed arm
      val boom = intercept[IllegalStateException] {
        operators.OsmKernels.relaxConverged(und, source = 0L, maxRounds = 2)
      }
      assert(boom.getMessage.contains("frontier still live"), "budget overflow is loud")
    }
  }

  test("relaxConverged: driver Dijkstra arm ≡ distributed relaxation, bit-for-bit") {
    // deterministic pseudo-random weighted graph with cycles, multiple
    // shortest paths, and an unreachable island (nodes 40..44)
    val edges = (0L until 120L).map { i =>
      val u = (i * 7919) % 40
      val v = (i * 104729) % 40
      (u, v, ((i * 31) % 17 + 1) / 4.0)
    }.filter { case (u, v, _) => u != v }
      .toDF("u", "v", "w")
    val und = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v"), col("w")))
    val fast = operators.OsmKernels.relaxConverged(und, source = 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val slow = withConf("spark.sql.graft.routeDriverGateEdges" -> "0") {
      operators.OsmKernels.relaxConverged(und, source = 1L)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(fast.keySet == slow.keySet, "both arms reach the same node set")
    val diff = fast.keys.filter(k => fast(k) != slow(k))
    assert(diff.isEmpty, s"arms diverged on nodes $diff — path sums must be bit-identical")
  }

  test("dedup_span_trim: token accounting is exact and clean docs pass through verbatim") {
    val docs = T.documents(spark, sf).select(col("doc_id"), col("text"))
    val got = SparkEntry.queries("dedup_span_trim")(spark, sf)
    assert(got.count() == docs.count(), "one output row per document")
    // n_kept(trimmed) must equal n_tokens - n_removed, counting '' as 0
    val bad = got.where(
      when(col("trimmed") === "", lit(0L))
        .otherwise(size(split(col("trimmed"), " ")).cast("long"))
        =!= col("n_tokens") - col("n_removed")).count()
    assert(bad == 0, "kept-token count must reconcile with n_tokens - n_removed")
    // the fixture's planted boilerplate must actually trigger removal
    val removed = got.agg(sum(col("n_removed"))).head.getLong(0)
    assert(removed > 0, "planted cross-doc spans must be trimmed")
    // a doc with nothing removed is byte-identical to its input
    val touched = got.join(docs, "doc_id")
      .where(col("n_removed") === 0 && col("trimmed") =!= col("text")).count()
    assert(touched == 0, "n_removed = 0 docs must round-trip unchanged")
  }

  test("shard_balanced: doc counts within 1, serpentine token totals within 0.5%") {
    val got = SparkEntry.queries("shard_balanced")(spark, sf)
    val byShard = got.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("toks"))
      .collect()
    assert(byShard.length == 8, "all 8 shards populated")
    val ns = byShard.map(_.getLong(1))
    assert(ns.max - ns.min <= 1, "round-robin doc counts differ by at most 1")
    val ts = byShard.map(_.getLong(2)).map(_.toDouble)
    assert(ts.max / ts.min <= 1.005,
      s"serpentine deal must balance token mass (spread ${ts.max / ts.min})")
  }

  test("shuffle_epoch: pos is a permutation, deterministic, and not the identity order") {
    val got = SparkEntry.queries("shuffle_epoch")(spark, sf).cache()
    val n = got.count()
    // positions are exactly 1..n (globalRowNumber's offsets are exact)
    assert(got.agg(min(col("pos")), max(col("pos")), countDistinct(col("pos")))
      .head.toSeq == Seq(1L, n, n), "pos must be a 1..n permutation")
    // same seed → same permutation on a fresh plan
    val again = SparkEntry.queries("shuffle_epoch")(spark, sf)
    assert(got.except(again).count() == 0, "epoch order must be reproducible")
    // and it genuinely shuffles: some doc ordered before a lower doc_id
    val byPos = got.as[(Long, String, Long)].collect().sortBy(_._3)
    val inverted = byPos.zip(byPos.tail).count { case (a, b) => a._1 > b._1 }
    assert(inverted > 0, "hash order must not degenerate to doc_id order")
    got.unpersist()
  }

  test("sample_curriculum: 10 near-equal stages, quality monotone across stage boundaries") {
    val got = SparkEntry.queries("sample_curriculum")(spark, sf).cache()
    val stages = got.groupBy(col("stage"))
      .agg(count(lit(1)).as("n"), min(col("score_ppm")).as("lo"), max(col("score_ppm")).as("hi"))
      .orderBy(col("stage")).collect()
    assert(stages.map(_.getLong(0)).toSeq == (0L to 9L), "exactly stages 0..9")
    val sizes = stages.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, "decile sizes differ by at most 1")
    // easy-first: a later stage's best score never beats an earlier stage's worst
    stages.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) >= b.getLong(3),
        s"stage ${a.getLong(0)} min ${a.getLong(2)} < stage ${b.getLong(0)} max ${b.getLong(3)}")
    }
    got.unpersist()
  }

  test("tokenizer_bpe_pairs: 30 two-char pairs, counts non-increasing") {
    val rows = SparkEntry.queries("tokenizer_bpe_pairs")(spark, sf).collect()
    assert(rows.length == 30)
    assert(rows.forall(_.getString(0).length == 2), "pairs are adjacent 2-char symbols")
    val cnts = rows.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b }, "top-k order")
    assert(cnts.last >= 1)
  }

  test("text_entropy: 0 ≤ H ≤ ln(n_tokens), zero iff single-symbol doc") {
    val got = SparkEntry.queries("text_entropy")(spark, sf)
    assert(got.where(col("entropy_millinats") < 0).count() == 0, "entropy is non-negative")
    // uniform bound H ≤ ln n, with 2 millinats rounding slop
    val over = got.where(col("entropy_millinats") >
      round(log(col("n_tokens").cast("double")) * 1000.0) + 2).count()
    assert(over == 0, "entropy must not exceed ln(n_tokens)")
    // a doc whose tokens are all identical must score exactly 0
    val flat = Seq((900001L, "spam spam spam spam spam")).toDF("doc_id", "text")
    val h = flat.select(explode(graft.functions.HashedWordGramsSeq(col("text"), 1)).as("h"))
      .distinct().count()
    assert(h == 1, "fixture check: single distinct token")
  }

  test("TokenizerBpeTrainJob: textbook merge order on the low/lower corpus; early stop") {
    // Sennrich et al.'s classic example: {low x3, lower x2}. Hand-derived
    // merge order under the (count desc, pair asc) tie-break:
    //   (l,o)=5 -> (lo,w)=5 -> (e,r)=2 ties (low,e)=2, 'e' < 'low' wins
    //   -> (low,er)=2 -> nothing left, early stop.
    val docs = Seq((1L, "low low low"), (2L, "lower lower")).toDF("doc_id", "text")
    val (merges, sym) = plans.TokenizerBpeTrainJob.train(docs, nMerges = 10)
    assert(merges.map(m => (m._1, m._2)) ==
      Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er")),
      s"merge table diverged from the hand computation: $merges")
    assert(merges.map(_._3) == Seq(5L, 5L, 2L, 2L), "selection-time counts")
    // after full convergence every token is one symbol
    val syms = sym.collect().map(_.getString(0)).toSet
    assert(syms == Set("low", "lower"), s"final symbols: $syms")
    // back-to-back occurrences all merge in one pass ("a b a b" case)
    val pairRun = plans.TokenizerBpeTrainJob.applyMerge(
      Seq("a b a b").toDF("sym"), "a", "b").head.getString(0)
    assert(pairRun == "ab ab", "adjacent non-overlapping occurrences must both merge")
    // overlapping runs merge left-first ("l l l" case)
    val tripleRun = plans.TokenizerBpeTrainJob.applyMerge(
      Seq("l l l").toDF("sym"), "l", "l").head.getString(0)
    assert(tripleRun == "ll l", "overlapping run must merge greedily left-to-right")
  }

  test("text_source_divergence: JSD within [0, ln2], identical distributions score 0") {
    val got = SparkEntry.queries("text_source_divergence")(spark, sf)
    val ln2nano = 693147181L
    assert(got.where(col("jsd_nanonats") < 0 ||
      col("jsd_nanonats") > ln2nano + 5000).count() == 0,
      "JSD is bounded by ln 2 (modulo per-token nanonats rounding slop)")
    // planted: two sources with IDENTICAL token distributions diverge by ~0;
    // a disjoint-vocabulary pair sits at the ln 2 ceiling
    val dir = java.nio.file.Files.createTempDirectory("graft_jsd_fixture").toString
    Seq((1L, "x y z x", "en", "sA", 7L), (2L, "x y z x", "en", "sB", 7L),
        (3L, "q r s q", "en", "sC", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("text_source_divergence")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(math.abs(m(("sA", "sB"))) <= 10, s"identical distributions must score ~0: $m")
    assert(math.abs(m(("sA", "sC")) - ln2nano) <= 5000,
      s"disjoint vocabularies must sit at the ln 2 ceiling: $m")
  }

  test("text_compression_ratio: repetitive text compresses far below natural prose; bit-stable") {
    val got = SparkEntry.queries("text_compression_ratio")(spark, sf)
    assert(got.where(col("ratio_ppm") <= 0 || col("deflate_bytes") <= 0).count() == 0)
    // planted contrast: 200x-repeated token vs varied text
    val probe = Seq(
      (1L, Seq.fill(200)("spam").mkString(" ")),
      (2L, (1 to 200).map(i => s"w${i * 7919 % 997}x$i").mkString(" "))
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
              (lit(1000000L) * graft.functions.DeflateSize(col("text")).cast("long")
                / greatest(length(col("text")), lit(1)).cast("long")).cast("long").as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probe(1L) * 5 < probe(2L),
      s"repeated token must compress >=5x better than varied text ($probe)")
    // determinism: fresh plan, identical bytes
    val again = SparkEntry.queries("text_compression_ratio")(spark, sf)
    assert(got.exceptAll(again).isEmpty, "deflate sizes must be bit-stable across runs")
  }

  test("agg_entropy: bounded by ln k; zero exactly when gini is zero") {
    val ent = SparkEntry.queries("agg_entropy")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val gini = SparkEntry.queries("agg_gini")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val k = T.orders(spark, sf).select(col("o_orderstatus")).distinct().count()
    val lnK = math.round(math.log(k.toDouble) * 1e6)
    ent.foreach { case (g, h) =>
      assert(h >= 0 && h <= lnK + k, s"entropy of $g out of [0, ln k]: $h")
      assert((h == 0) == (gini(g) == 0.0), s"gini/entropy zero-sets must agree on $g")
    }
  }

  test("emb_dim_stats: every dim sees every vector; moment inequality holds exactly") {
    val rows = SparkEntry.queries("emb_dim_stats")(spark, sf).collect()
    val nVec = T.embeddings(spark, sf).count()
    assert(rows.length == 64)
    rows.foreach { r =>
      val (n, s1, s2, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n == nVec, "each dimension must see the whole corpus")
      assert(lo <= hi)
      assert(n * s2 >= s1 * s1, "Cauchy–Schwarz on the exact integer moments")
    }
  }

  test("emb_fps_sample: seeds are distinct and greedy-maximal at every round") {
    val seeds = SparkEntry.queries("emb_fps_sample")(spark, sf)
      .collect().map(r => r.getLong(1))
    assert(seeds.length == 4 && seeds.distinct.length == 4, "four distinct seeds")
    // greedy invariant: seed r+1 maximizes the min exact squared distance
    // to seeds 1..r (recomputed brute-force on the same 1e-4 grid)
    val q = T.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))").as("vq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (r <- 1 until 4) {
      val sofar = seeds.take(r).map(q)
      def minD(v: Long) = sofar.map(sv => d2(q(v), sv)).min
      val (bestD, bestId) = q.keys.map(v => (minD(v), v))
        .maxBy { case (dd, v) => (dd, -v) }
      assert(seeds(r) == bestId && minD(seeds(r)) == bestD,
        s"round ${r + 1} must pick the exact farthest point (tie-break lowest id)")
    }
  }

  test("text_novelty: first doc fully novel; novel counts partition the distinct-gram universe") {
    val got = SparkEntry.queries("text_novelty")(spark, sf).cache()
    val firstDoc = got.agg(min(col("doc_id"))).head.getLong(0)
    assert(got.where(col("doc_id") === firstDoc).head.getLong(3) == 1000000L,
      "the lowest doc id owns every one of its grams")
    val universe = T.documents(spark, sf)
      .select(explode(graft.functions.HashedWordGrams(col("text"), 5)).as("g"))
      .distinct().count()
    assert(got.agg(sum(col("n_novel"))).head.getLong(0) == universe,
      "every distinct corpus gram is novel in exactly one document")
    assert(got.where(col("novelty_ppm") < 0 || col("novelty_ppm") > 1000000).count() == 0)
    got.unpersist()
  }

  test("event_retention_fit: internally consistent decay summary") {
    val r = SparkEntry.queries("event_retention_fit")(spark, sf).head
    val (n, lambda, half) = (r.getLong(0), r.getDouble(1), r.getDouble(3))
    assert(n >= 3, "enough offsets to fit")
    assert(!lambda.isNaN && !half.isNaN)
    assert(math.abs(half - BigDecimal(693.1471805599453 / lambda)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      "half-life must be ln2 over the fitted decay rate")
  }

  test("event_ab_cuped: a pure-covariate metric adjusts an imbalanced raw lift to ~0") {
    // planted: every user behaves IDENTICALLY pre and post (y = x), but
    // arm 1 got the heavier users — raw lift is pure imbalance noise,
    // CUPED (theta = 1) must cancel it
    val dir = java.nio.file.Files.createTempDirectory("graft_cuped_fixture").toString
    val base = 1700000000000L
    val half = 50L * 86400000L
    val rows = (1L to 40L).flatMap { u =>
      val rate = if (u % 2 == 0) 4 + (u % 5).toInt else 2 + (u % 3).toInt
      (0 until rate).flatMap { i =>
        Seq((u * 1000 + i, base + i * 3600000L, u, "view", 1.0, "{}"),
            (u * 1000 + 500 + i, base + half + i * 3600000L, u, "view", 1.0, "{}"))
      }
    }
    rows.toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .select(col("event_id"), expr("timestamp_micros(ms * 1000)").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("event_ab_cuped")(spark, dir).head
    val (theta, raw, adj) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(math.abs(theta - 1.0) < 1e-6, s"y = x must fit theta = 1 (got $theta)")
    assert(math.abs(raw) > 0.5, s"arm imbalance must show in the raw lift (got $raw)")
    assert(math.abs(adj) < 1e-6, s"CUPED must cancel the covariate imbalance (got $adj)")
  }

  test("event_seasonal_anomaly: a spiked Saturday flags; ordinary Saturdays do not") {
    // weekdays 10 events/day, Saturdays 30 — regular rhythm; ONE
    // Saturday at 100 is the real incident. A global median+MAD would
    // flag every Saturday; the seasonal baseline must flag only the 100.
    val dir = java.nio.file.Files.createTempDirectory("graft_season_fixture").toString
    val day0 = 19700L // epoch day; (day+4)%7 gives its dow
    val rows = (0 until 35).flatMap { d =>
      val day = day0 + d
      val dow = (day + 4) % 7
      // day0 itself is a Saturday (dow 6), so Saturdays fall on d % 7 == 0;
      // the incident is planted on the LAST one (d = 28)
      val n = if (dow != 6) 10 else if (d == 28) 100 else 30
      (0 until n).map(i => (day * 1000L + i, day * 86400000L + i * 60000L, i.toLong % 7, "view", 1.0, "{}"))
    }
    rows.toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .select(col("event_id"), expr("timestamp_micros(ms * 1000)").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("event_seasonal_anomaly")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getBoolean(6)))
    val flagged = got.filter(_._3)
    assert(flagged.map(_._2).toSeq == Seq(100L),
      s"only the spiked Saturday may flag, got ${flagged.toSeq}")
    assert(got.count(g => g._2 == 30L) >= 3, "regular Saturdays present and unflagged")
  }

  test("event_bot_detect: metronomic gaps flag, heavy-tailed gaps pass") {
    // planted fixture: user 1 fires every 5 minutes exactly (scraper),
    // user 2 with the same count but exponential-ish spread (human)
    val dir = java.nio.file.Files.createTempDirectory("graft_bot_fixture").toString
    val base = 1700000000000L
    val humanGaps = (1 to 30).map(i => ((i * 37) % 11 + 1) * 60000L * i) // wildly varying
    val rows =
      (0 to 30).map(i => (i.toLong, base + i * 300000L, 1L, "view", 1.0, "{}")) ++
      humanGaps.scanLeft(base)(_ + _).zipWithIndex.map { case (t, i) =>
        (100L + i, t, 2L, "view", 1.0, "{}") }
    rows.toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .select(col("event_id"), expr("timestamp_micros(ms * 1000)").as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("event_bot_detect")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(got(1L), "zero-variance 5-minute cadence must flag as bot")
    assert(!got(2L), "heavy-tailed human cadence must not flag")
  }

  test("data_drift_psi: non-negative per type, one row per event type") {
    val got = SparkEntry.queries("data_drift_psi")(spark, sf).collect()
    val types = T.events(spark, sf).select(col("event_type")).distinct().count()
    assert(got.length == types, "one PSI row per event type")
    assert(got.forall(_.getLong(3) >= 0L), "PSI terms are (p-q)(ln p - ln q) >= 0")
    assert(got.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0),
      "midpoint split must populate both halves at this sf")
  }

  test("dedup_soft_weight: weights partition the corpus; reps survive one-hop dedup") {
    val emb = T.embeddings(spark, sf)
    val got = SparkEntry.queries("dedup_soft_weight")(spark, sf).cache()
    // cluster sizes are a PARTITION of the corpus: Σ weight = |embeddings|
    assert(got.agg(sum(col("weight"))).head.getLong(0) == emb.count(),
      "soft dedup must conserve total sample mass")
    assert(got.where(col("weight") > 1).count() > 0,
      "planted near-dup clusters must yield weights > 1")
    // a component minimum has no lower-id tau-neighbor, so every
    // representative must also survive dedup_embedding's one-hop cut
    val survivors = SparkEntry.queries("dedup_embedding")(spark, sf)
      .select(col("vec_id"))
    val orphans = got.select(col("vec_id")).except(survivors).count()
    assert(orphans == 0, "cluster minima must be one-hop dedup survivors")
    got.unpersist()
  }
}
