package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-11 keys (`lake_zorder`,
  * `dedup_containment`, `osm_nearest_node`, `event_markov`,
  * `sample_domain_mix`, `lake_stats`, `source_orc`). The oracled ones are
  * hash-checked against DuckDB by the driver; these specs pin what that
  * compare can't — layout pruning, planted-pair recall, brute-force
  * equality, and stochasticity contracts.
  */
class Round11OpsSpec extends GraftSuite {

  private def q(key: String) = SparkEntry.queries(key)(spark, sf)

  test("lake_zorder: y-filter prunes strictly more files than the linear layout") {
    val rows = q("lake_zorder").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (zFiles, zHit) = rows("zorder")
    val (lFiles, lHit) = rows("linear")
    // repartitionByRange emits no file for an empty range partition, so
    // 16 is a CAP, not a guarantee (ADVICE r11: a small/skewed fixture
    // under-produces files and exact-16 fails spuriously). The pruning
    // claim is about FRACTIONS of whatever files each layout wrote.
    assert(zFiles > 1 && zFiles <= 16 && lFiles > 1 && lFiles <= 16,
      s"both layouts must write a multi-file bounded layout: z=$zFiles lin=$lFiles")
    assert(zHit.toDouble / zFiles < lHit.toDouble / lFiles,
      s"z-order must prune the y-filter better than the x-sort: " +
        s"$zHit/$zFiles vs $lHit/$lFiles")
    assert(zHit * 2 <= zFiles,
      s"z-order should localize y into a minority of files, got $zHit/$zFiles")
  }

  test("lake_zorder: both layouts hold bit-identical row content") {
    // the conf key was set by the first invocation (possibly the test above)
    q("lake_zorder").collect()
    val root = spark.conf.get(s"spark.sql.graft.zorderdir:$sf")
    def tot(p: String) = spark.read.parquet(p)
      .agg(sum(col("o_orderkey")), sum(col("x")), sum(col("y")), count(lit(1)))
      .collect().head
    assert(tot(s"$root/zorder") == tot(s"$root/linear"))
  }

  test("dedup_containment: detects a planted contained doc that Jaccard misses") {
    // doc 1 = a 12-token text; doc 2 = doc 1 embedded in 3x boilerplate.
    // Containment(1 in 2) = 1.0 while Jaccard is far below 0.8.
    val dir = Scratch.fresh("contain")
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val filler = (1 to 30).map(i => s"pad$i word$i more$i").mkString(" ")
    import spark.implicits._
    Seq((1L, small, "en", "src0", small.length.toLong),
        (2L, s"$filler $small $filler", "en", "src0", 500L),
        (3L, "completely different tokens here nothing shared at all with others ok fine", "en", "src0", 70L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_containment")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(got.exists { case (a, b, pct) => a == 1L && b == 2L && pct == 100L },
      s"planted contained doc not found: ${got.toSeq}")
    assert(!got.exists(t => t._1 == 3L || t._2 == 3L), "unrelated doc must not pair")
  }

  test("osm_nearest_node: equals the brute-force nearest within the radius") {
    val got = q("osm_nearest_node").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pois = T.supplier(spark, sf).select(col("s_suppkey")).collect().map(_.getLong(0))
      .map(k => k -> ((k * 13) % 1000, (k * 29) % 1000))
    val nodes = T.part(spark, sf).select(col("p_partkey")).collect().map(_.getLong(0))
      .map(k => (k, k % 1000, (k * 7) % 1000))
    val expected = pois.flatMap { case (pid, (px, py)) =>
      val cands = nodes.map { case (nid, nx, ny) =>
        (nid, (px - nx) * (px - nx) + (py - ny) * (py - ny))
      }.filter(_._2 <= 3600)
      if (cands.isEmpty) None
      else Some(pid -> cands.minBy { case (nid, d2) => (d2, nid) })
    }.toMap
    assert(got == expected, "grid-blocked nearest must equal brute force exactly")
    assert(got.nonEmpty, "fixture should have at least one in-radius pair")
  }

  test("event_markov: rows are a stochastic matrix over observed transitions") {
    val rows = q("event_markov").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byFrom = rows.groupBy(_._1)
    for ((from, grp) <- byFrom) {
      val total = grp.map(_._3).sum
      // p_ppm = floor(1e6 * n / total): the row sums to 1e6 minus the
      // truncation remainders, one per distinct target
      val pSum = grp.map(_._4).sum
      assert(pSum <= 1000000L && pSum > 1000000L - grp.length,
        s"$from: p_ppm row sum $pSum out of floor-rounding envelope")
      for ((_, _, n, ppm) <- grp)
        assert(ppm == 1000000L * n / total, s"$from: ppm must be exact floor")
    }
    // transitions conserve events: sum of n = total events - one per user
    val nUsers = T.events(spark, sf).select(col("user_id")).distinct().count()
    val nEvents = T.events(spark, sf).count()
    assert(rows.map(_._3).sum == nEvents - nUsers,
      "each user contributes (events - 1) transitions")
  }

  test("sample_domain_mix: rates hit the declared mixture and sampling is consistent") {
    val rows = q("sample_domain_mix").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = rows.map(_._2).sum
    val targets = Map("en" -> 400000L, "de" -> 150000L, "es" -> 150000L,
                      "fr" -> 150000L, "zh" -> 150000L)
    for ((lang, nDocs, ratePpm, nSampled) <- rows) {
      assert(ratePpm == math.min(1000000L, targets(lang) * total / nDocs),
        s"$lang: rate must be the exact integer mixture formula")
      assert(nSampled <= nDocs, s"$lang: sampled more than available")
      // hash-threshold admission: expected admitted fraction tracks the
      // rate loosely (binomial tail; generous bound for the tiny fixture)
      if (ratePpm == 1000000L) assert(nSampled == nDocs, s"$lang: rate 1.0 must keep all")
    }
  }

  test("lake_stats: ndv and min/max agree with direct per-column aggregates") {
    val rows = q("lake_stats").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
                                   r.getString(4), r.getString(5))).toMap
    val o = T.orders(spark, sf)
    val n = o.count()
    for ((cName, spec) <- Seq(
           "o_orderkey" -> col("o_orderkey").cast("string"),
           "o_orderstatus" -> col("o_orderstatus"))) {
      val (nRows, nNonnull, ndv, minV, maxV) = rows(cName)
      assert(nRows == n && nNonnull == n)
      val d = o.select(spec.as("v"))
      assert(ndv == d.distinct().count(), s"$cName ndv")
      val mm = d.agg(min(col("v")), max(col("v"))).collect().head
      assert(minV == mm.getString(0) && maxV == mm.getString(1), s"$cName min/max")
    }
  }
}
