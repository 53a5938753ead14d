package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws over the operator surface (SURVEY.md §5.3). Uses
  * scalacheck generators with fixed seeds (scalatestplus isn't in the
  * offline cache, so sampling is driven by hand); bounded sizes keep each
  * property sub-second.
  */
class PropertySpec extends GraftSuite {

  import TestSpark.spark.implicits._

  /** Deterministic samples from a generator. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val smallLists = Gen.listOfN(30, Gen.chooseNum(0, 9))

  test("union_all count additivity; except/intersect partition the left side") {
    for ((a, b) <- samples(smallLists, 5).zip(samples(smallLists, 5).reverse)) {
      val da = a.toDF("x"); val db = b.toDF("x")
      assert(da.unionAll(db).count() == a.size + b.size)
      // |A| = |A except_all B| + |A intersect_all B| (multiset identity)
      val ex = da.exceptAll(db).count()
      val in = da.intersectAll(db).count()
      assert(ex + in == a.size.toLong)
    }
  }

  test("exact dedup is idempotent and keeps one row per key") {
    for (a <- samples(smallLists, 5)) {
      val d = a.toDF("x")
      val once = d.dropDuplicates("x")
      assert(once.count() == a.distinct.size.toLong)
      assert(once.dropDuplicates("x").count() == once.count())
    }
  }

  test("windowed running sum totals the groupBy sum") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0, 4), Gen.chooseNum(-50, 50)))
    for (rows <- samples(gen, 3) if rows.nonEmpty) {
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i) }.toDF("k", "v", "seq")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"k").orderBy($"seq")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val lastRunning = df.withColumn("rs", sum($"v").over(w))
        .groupBy($"k").agg(max(struct($"seq", $"rs")).getField("rs").as("total"))
      val direct = df.groupBy($"k").agg(sum($"v").as("total2"))
      assert(lastRunning.join(direct, "k")
        .where(col("total") =!= col("total2")).count() == 0)
    }
  }

  test("minhash Jaccard estimate concentrates around the true value") {
    // signature agreement fraction ≈ Jaccard; k=128 ⇒ sd ≈ 0.044
    val pairs = Seq(
      ("aaaabbbbccccddddeeee", "aaaabbbbccccddddeeee"), // J = 1
      ("aaaabbbbccccddddeeee", "aaaabbbbccccddddzzzz"),
      ("abcdefghijklmnopqrst", "zzzzzzzzzzzzzzzzzzzz")) // J ≈ 0
    val df = pairs.toDF("ta", "tb")
      .withColumn("ga", expr("array_distinct(transform(sequence(1, greatest(length(ta)-4, 1)), i -> substring(ta, i, 5)))"))
      .withColumn("gb", expr("array_distinct(transform(sequence(1, greatest(length(tb)-4, 1)), i -> substring(tb, i, 5)))"))
      .withColumn("trueJ",
        size(array_intersect($"ga", $"gb")).cast("double") / size(array_union($"ga", $"gb")))
      .withColumn("sa", expr("transform(sequence(0, 127), h -> array_min(transform(ga, s -> xxhash64(s, h))))"))
      .withColumn("sb", expr("transform(sequence(0, 127), h -> array_min(transform(gb, s -> xxhash64(s, h))))"))
      .withColumn("estJ",
        expr("aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (a, v) -> a + v)") / 128.0)
    for (r <- df.select($"trueJ", $"estJ").collect()) {
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.2,
             s"estimate ${r.getDouble(1)} far from true ${r.getDouble(0)}")
    }
  }

  test("banded minhash LSH recall is 1.0 on the corpus' planted near-dup pairs") {
    // Pins dedup_minhash's correctness claim against future hash-family
    // changes (VERDICT r5 #4): under the CURRENT per-slot family
    // h_i(g) = XXH64(gram, seed = i) (functions/MinHashSignature) with the
    // operator's 12×5 band geometry, BOTH approximate stages — band-bucket
    // candidate generation and the Ĵ ≥ 1/2 signature-agreement prefilter —
    // must pass every planted near-dup pair (true J ≥ 0.93; analysis says
    // P(miss) ≈ 6e-7 per pair, so observed recall must be exactly 1.0).
    val (bandsN, rowsN) = (12, 5)
    val k = bandsN * rowsN
    val hg = T.documents(spark, sf).select(col("doc_id"),
      expr("""array_distinct(transform(
             |  array_distinct(transform(sequence(1, greatest(length(text) - 4, 1)),
             |                           i -> substring(text, i, 5))),
             |  g -> xxhash64(g)))""".stripMargin).as("grams"))
    // ground truth: exact all-pairs Jaccard ≥ 0.8 (feasible at spec scale)
    val ex = hg.select(col("doc_id"), explode(col("grams")).as("g"))
    val sizes = hg.select(col("doc_id"), size(col("grams")).as("n"))
    val truePairs = ex.as("a")
      .join(ex.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db")).agg(count(lit(1)).as("com"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .where(col("com").cast("double") / (col("na") + col("nb") - col("com")) >= 0.8)
      .select(col("da"), col("db")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.size >= 20,
      s"corpus plants ~25 near-dup pairs per 500 docs, found only ${truePairs.size}")
    // stage 1: band-bucket candidates, the operator's exact construction
    val sig = hg.select(col("doc_id"),
      graft.functions.MinHashSignature(col("grams"), k).as("sig"))
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until bandsN).map { b =>
        xxhash64(concat_ws("_",
          (0 until rowsN).map(r => col("sig").getItem(b * rowsN + r).cast("string")): _*))
      }: _*)).as(Seq("band_i", "band_h")))
    val cand = bands.as("a")
      .join(bands.as("b"),
            col("a.band_i") === col("b.band_i") && col("a.band_h") === col("b.band_h") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truePairs -- cand
    assert(missed.isEmpty, s"LSH bands missed ${missed.size} true pairs: $missed")
    // stage 2: the agreement prefilter must keep every true pair too
    val sigMap = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for ((a, b) <- truePairs) {
      val agree = sigMap(a).zip(sigMap(b)).count { case (x, y) => x == y }
      assert(agree * 2 >= k, s"agreement prefilter drops true pair ($a,$b): $agree/$k")
    }
  }

  test("merge upsert laws: empty delta is identity, same delta is idempotent") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.chooseNum(1, 20), Gen.chooseNum(0, 99)))
    def merge(base: org.apache.spark.sql.DataFrame, delta: org.apache.spark.sql.DataFrame) =
      base.join(delta, base("id") === delta("d_id"), "full_outer")
        .where(col("op").isNull || col("op") =!= "D")
        .select(coalesce(col("d_id"), col("id")).as("id"),
                coalesce(col("d_v"), col("v")).as("v"))
    for ((bRows, dRows) <- samples(gen, 3).zip(samples(gen, 3).reverse)) {
      val base = bRows.toDF("id", "v").dropDuplicates("id")
      val delta = dRows.toDF("d_id", "d_v").dropDuplicates("d_id")
        .withColumn("op", when(col("d_id") % 5 === 0, "D").otherwise("U"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getAs[Any]("id").toString.toLong,
                               r.getAs[Any]("v").toString.toLong)).toSet
      val empty = Seq.empty[(Int, Int, String)].toDF("d_id", "d_v", "op")
      // identity under empty delta
      assert(rows(merge(base, empty)) == rows(base.select(col("id"), col("v"))))
      // idempotence: applying the same delta twice = once (localCheckpoint
      // severs shared lineage so the re-merge doesn't self-reference)
      val once = merge(base, delta).localCheckpoint()
      assert(rows(merge(once, delta)) == rows(once))
    }
  }

  test("dedup_clusters output is a fixpoint: every label is the component minimum") {
    val out = SparkEntry.queries("dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recompute the pair graph independently
    val e = T.embeddings(spark, sf)
    val p = e.select(col("vec_id").as("va"), col("label"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("vb"), col("label"), col("embedding").as("eb")), Seq("label"))
      .where(col("va") < col("vb") &&
             graft.functions.CosineSimilarity(col("ea"), col("eb")) >= 0.358)
      .select(col("va"), col("vb")).collect().map(r => (r.getLong(0), r.getLong(1)))
    // fixpoint: endpoints of every edge share a label
    for ((a, b) <- p) assert(out(a) == out(b), s"edge ($a,$b) crosses clusters")
    // every label is a member of its own cluster and is the minimum seen
    val byLabel = out.groupBy(_._2).view.mapValues(_.keys.min)
    for ((lbl, minMember) <- byLabel) assert(lbl == minMember,
      s"cluster $lbl's minimum member is $minMember")
    // singletons label themselves
    val inPairs = p.flatMap(x => Seq(x._1, x._2)).toSet
    for ((v, lbl) <- out if !inPairs(v)) assert(v == lbl)
  }

  test("SimHash64 expression is bit-identical to an independent driver recompute") {
    // The fused kernel (round 4) replaced 64 sum(when(...)) aggregate bit
    // columns; since r19 the token hash is mix64(poly) so the whole chain
    // is recomputable outside Spark entirely — the recompute below spells
    // poly, splitmix64 and the majority vote from scratch (its own
    // constants, no calls into graft.functions), pinning the kernel on
    // the real corpus. ExtensionsSpec keeps the bag-order-invariance pin.
    val docs = T.documents(spark, sf).limit(200)
    val fused = docs
      .select(col("doc_id"), graft.functions.SimHash64(split(col("text"), " ")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def poly(t: String): Long = {
      var acc = 0L; var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i)
        acc = (acc * 131L + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      acc
    }
    def mix(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val legacy = docs.select(col("doc_id"), col("text")).collect().map { r =>
      val votes = new Array[Int](64)
      r.getString(1).split(" ", -1).foreach { t =>
        val h = mix(poly(t))
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
      }
      var sig = 0L
      (0 until 64).foreach(b => if (votes(b) >= 0) sig |= 1L << b)
      r.getLong(0) -> sig
    }.toMap
    assert(fused.keySet == legacy.keySet)
    fused.foreach { case (id, s) => assert(s == legacy(id), s"doc $id signature differs") }
  }

  test("PointInRing agrees with an independent even-odd implementation") {
    // Random closed rings + probe points, verdicts checked against
    // java.awt.geom.Path2D's WIND_EVEN_ODD containment (an entirely
    // independent formulation). Integer coords keep both sides exact;
    // points colliding with ring vertices are skipped (boundary rule is
    // ours by design: strictly outside).
    val rnd = new scala.util.Random(7)
    var checked = 0
    for (_ <- 1 to 60) {
      val n = 3 + rnd.nextInt(8)
      val xs = Array.fill(n)(rnd.nextInt(1000).toLong)
      val ys = Array.fill(n)(rnd.nextInt(1000).toLong)
      val lons = (xs :+ xs.head)
      val lats = (ys :+ ys.head)
      val path = new java.awt.geom.Path2D.Double(java.awt.geom.Path2D.WIND_EVEN_ODD)
      path.moveTo(xs(0).toDouble, ys(0).toDouble)
      (1 until n).foreach(i => path.lineTo(xs(i).toDouble, ys(i).toDouble))
      path.closePath()
      for (_ <- 1 to 30) {
        // offset by 0.5-equivalent: probe at odd half-coordinates via
        // doubling everything, so the probe can never sit ON a vertex;
        // an odd-odd point CAN still lie exactly on a doubled edge (e.g.
        // (0,0)-(2,2) passes through (1,1)), where the strict-outside
        // kernel and Path2D may legitimately disagree — skip those.
        val px = rnd.nextInt(1000) * 2L + 1
        val py = rnd.nextInt(1000) * 2L + 1
        val dlons = lons.map(_ * 2)
        val dlats = lats.map(_ * 2)
        val onEdge = (0 until n).exists { i =>
          val x1 = dlons(i); val y1 = dlats(i)
          val x2 = dlons(i + 1); val y2 = dlats(i + 1)
          (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) == 0 &&
            px >= math.min(x1, x2) && px <= math.max(x1, x2) &&
            py >= math.min(y1, y2) && py <= math.max(y1, y2)
        }
        if (!onEdge) {
          val got = graft.functions.PointInRing.contains(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(dlons),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(dlats),
            px, py)
          val want = path.contains(px / 2.0, py / 2.0)
          assert(got == want, s"ring=${xs.toSeq.zip(ys.toSeq)} p=($px,$py): got $got want $want")
          checked += 1
        }
      }
    }
    // edge-collinear probes are rare (none under this seed, a handful under
    // others); require near-complete coverage so the test stays substantive
    assert(checked >= 1750)
  }

  test("SignProjection codegen bucket equals an independent Scala evaluation") {
    // The LSH bucket must be byte-identical wherever it is computed —
    // that determinism is what makes it a joinable key across executors.
    // Recompute every bucket in plain Scala from the declared weight
    // function and compare against the codegen'd column.
    val rows = T.embeddings(spark, sf).limit(64)
      .select($"vec_id", $"embedding",
        operators.LlmOps.lshBucket($"embedding").as("bucket"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val v = r.getSeq[Float](1)
      var want = 0L
      for (b <- 0 until operators.LlmOps.LshBits) {
        var dot = 0.0
        for (i <- v.indices)
          dot += (if (functions.SignProjection.positive(b, i)) 1.0 else -1.0) * v(i)
        if (dot >= 0) want |= 1L << b
      }
      assert(r.getLong(2) === want, s"vec ${r.getLong(0)}: bucket mismatch")
    }
    // the family must actually use high dimensions (the old first-8-coords
    // bucketing ignored 94% of the vector): flipping only dim 100 of a
    // one-hot vector must change some plane's sign for at least one bit
    val probe = (0 until 128).map(i => if (i == 100) 1.0f else 0.0f)
    val negProbe = probe.map(-_)
    def bucketOf(vec: Seq[Float]): Long = {
      var got = 0L
      for (b <- 0 until operators.LlmOps.LshBits) {
        var dot = 0.0
        for (i <- vec.indices)
          dot += (if (functions.SignProjection.positive(b, i)) 1.0 else -1.0) * vec(i)
        if (dot >= 0) got |= 1L << b
      }
      got
    }
    assert(bucketOf(probe) !== bucketOf(negProbe), "projection must weight dim 100")
  }

  test("connectedComponents converges in O(log n) rounds on a 1000-node chain, throws past budget") {
    // A path graph 0-1-2-…-999 is the worst case per vertex count: the
    // round-8 min-label propagation needed diameter (=999) full-data
    // passes; large-star/small-star contraction must close it in
    // logarithmic rounds (VERDICT r8 item 4). 2·log2(1000) ≈ 20 is the
    // published bound; the measured count is pinned well under the old
    // diameter behaviour AND under the default 20-round budget, so a
    // regression to per-hop propagation fails this test loudly.
    val n = 1000
    val verts = (0L until n.toLong).toDF("id")
    val fwd = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    // force the DISTRIBUTED contraction arm — this test pins its round
    // bound, which the size-gated driver union-find (gate=0 disables it)
    // would trivially satisfy without exercising the contraction at all
    withConf("spark.sql.graft.ccDriverGateEdges" -> "0") {
      val (labels, rounds) = operators.LlmOps.connectedComponents(verts, edges)
      assert(rounds <= 15, s"O(log n) contraction expected ≤15 rounds on a $n-chain, took $rounds")
      assert(labels.where($"lbl" =!= 0L).isEmpty, "one chain component, min label 0")
      assert(labels.count() === n.toLong, "every vertex labelled")
      // an isolated vertex set has no edges: zero contraction rounds
      val (iso, r0) = operators.LlmOps.connectedComponents(verts, fwd.limit(0))
      assert(r0 === 0)
      assert(iso.where($"lbl" =!= $"id").isEmpty, "isolated vertices label themselves")
      // pathological depth vs budget: fail loudly, never return half-labels
      intercept[IllegalArgumentException] {
        operators.LlmOps.connectedComponents(verts, edges, maxIters = 1)
      }
    }
  }

  test("connectedComponents driver union-find arm is bit-interchangeable with the contraction") {
    // Both arms must label every vertex with its component MINIMUM id —
    // the driver arm unions by min, the distributed arm contracts to the
    // star root. Pinned on a seeded random graph with chains, a diamond,
    // singletons, and duplicate/reversed edges (the canonicalisation the
    // arms share), plus the chain worst case.
    val rnd = new scala.util.Random(421)
    val n = 400
    val verts = (0L until n.toLong).toDF("id")
    val es = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (398L, 399L), (399L, 398L))
    val edges = es.toDF("src", "dst")
    val (driver, dr) = operators.LlmOps.connectedComponents(verts, edges)
    assert(dr === 0, "under the default gate the driver arm must answer")
    withConf("spark.sql.graft.ccDriverGateEdges" -> "0") {
      val (dist, dd) = operators.LlmOps.connectedComponents(verts, edges)
      assert(dd > 0, "gate=0 must run the distributed contraction")
      assert(driver.exceptAll(dist).isEmpty && dist.exceptAll(driver).isEmpty,
        "driver and distributed labels must be identical")
    }
  }

  test("asof-join emulation picks the latest quote at or before each trade") {
    // hand-computed fixture incl. an exact-tie (quote ts == trade ts → taken)
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 9L, "view", 1.0),
      (2L, "2024-01-01 10:05:00", 9L, "click", 2.0),
      (3L, "2024-01-01 10:05:00", 9L, "purchase", 0.0), // tie with quote 2
      (4L, "2024-01-01 10:10:00", 9L, "purchase", 0.0),
      (5L, "2024-01-01 09:00:00", 8L, "purchase", 0.0)  // user with no quote
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    val tmp = Scratch.fresh("asof")
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("join_asof")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(out == Map(3L -> 2.0, 4L -> 2.0), s"got $out") // trade 5 has no quote → excluded
  }
}
