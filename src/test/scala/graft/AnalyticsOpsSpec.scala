package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-10 analytics keys (`agg_histogram`,
  * `agg_corr`, `text_tfidf_topk`, `emb_quantize_int8`). All four are
  * DuckDB-oracled — these specs pin what the hash compare can't:
  * partition totals, the exact-moment formula, ranking contracts, and
  * the quantization error bound.
  */
class AnalyticsOpsSpec extends GraftSuite {

  private def q(key: String) = SparkEntry.queries(key)(spark, sf)

  test("agg_histogram: buckets partition the table and bound their min/max") {
    val rows = q("agg_histogram").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = T.lineitem(spark, sf).count()
    assert(rows.map(_._2).sum == total, "bucket counts must partition the table")
    assert(rows.map(_._1).distinct.length == rows.length, "one row per bucket")
    for ((bucket, n, lo, hi) <- rows) {
      assert(n > 0, "empty buckets are not emitted")
      assert(lo <= hi)
      assert(lo >= bucket * 5000.0 && hi < (bucket + 1) * 5000.0,
        s"bucket $bucket range [$lo,$hi] escapes its bin")
    }
  }

  test("agg_corr: matches an exact BigDecimal recompute and lands in [-1, 1]") {
    val row = q("agg_corr").collect().head
    val (n, corr) = (row.getLong(0), row.getDouble(1))
    assert(corr >= -1.0 && corr <= 1.0)
    val xy = T.lineitem(spark, sf).select(col("l_quantity"), col("l_extendedprice"))
      .collect().map(r => (BigDecimal(r.getDouble(0)).setScale(2, BigDecimal.RoundingMode.HALF_UP),
                           BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    assert(n == xy.length)
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val nd = n.toDouble
    val expected = (nd * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (math.sqrt(nd * sxx.toDouble - sx.toDouble * sx.toDouble) *
       math.sqrt(nd * syy.toDouble - sy.toDouble * sy.toDouble))
    assert(math.abs(corr - expected) < 1e-6,
      s"corr $corr != exact-moment recompute $expected")
  }

  test("agg_corr: result is invariant under repartitioning (decimal moments, no fp order)") {
    val a = q("agg_corr").collect().head.getDouble(1)
    val dir = Scratch.fresh("corr_repart")
    // same rows, radically different partitioning → identical moments
    T.lineitem(spark, sf).repartition(17).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val b = SparkEntry.queries("agg_corr")(spark, dir).collect().head.getDouble(1)
    assert(a == b, s"corr must be bit-stable under repartitioning: $a vs $b")
  }

  test("text_tfidf_topk: per-doc top-3 contract — membership, count, ordering") {
    val rows = q("text_tfidf_topk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val docTokens = T.documents(spark, sf)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).filter(_.nonEmpty))
      .toMap
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == docTokens.filter(_._2.nonEmpty).keySet,
      "every non-empty doc yields keywords")
    for ((doc, rs) <- byDoc) {
      val distinctToks = docTokens(doc).distinct.length
      assert(rs.length == math.min(3, distinctToks), s"doc $doc keyword count")
      assert(rs.map(_._2).distinct.length == rs.length, s"doc $doc duplicate keyword")
      for ((_, tok, tf, _) <- rs) {
        assert(docTokens(doc).contains(tok), s"doc $doc keyword '$tok' not in doc")
        assert(tf == docTokens(doc).count(_ == tok), s"doc $doc '$tok' tf")
      }
      // emitted in (score desc, token) order, and scores are the doc's top scores
      val scores = rs.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $doc scores not non-increasing: ${scores.mkString(",")}")
    }
  }

  test("agg_mode: winner is the true max count with the lexicographic tie-break") {
    val got = q("agg_mode").collect()
      .map(r => r.getAs[Number](0).longValue -> ((r.getString(1), r.getLong(2)))).toMap
    val counts = T.customer(spark, sf)
      .groupBy(col("c_nationkey"), col("c_mktsegment")).count()
      .collect().map(r => (r.getAs[Number](0).longValue, r.getString(1), r.getLong(2)))
    assert(got.keySet == counts.map(_._1).toSet, "one row per group")
    for ((nation, (seg, n)) <- got) {
      val grp = counts.filter(_._1 == nation)
      val best = grp.map(_._3).max
      assert(n == best, s"nation $nation: reported $n != max count $best")
      assert(seg == grp.filter(_._3 == best).map(_._2).min,
        s"nation $nation: tie must break to the lexicographically first segment")
    }
  }

  test("sample_split: 80/10/10 split is exhaustive, disjoint, and bit-stable") {
    val rows = q("sample_split").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(rows.length == T.documents(spark, sf).count(), "every doc assigned")
    assert(rows.map(_._1).distinct.length == rows.length, "exactly one split per doc")
    assert(rows.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // deterministic: identical content ⇒ identical split on a rerun
    assert(rows.toSeq == q("sample_split").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq)
    // rough proportions at 500 docs (binomial 3σ bands)
    val frac = rows.count(_._2 == "train").toDouble / rows.length
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac far off 0.8")
  }

  test("text_bigram_topk: counts match a driver-side recount of adjacent pairs") {
    val got = q("text_bigram_topk").collect().map(r => (r.getString(0), r.getLong(1)))
    val all = T.documents(spark, sf).select(lower(col("text"))).collect()
      .flatMap(_.getString(0).split(" ", -1).sliding(2).collect {
        case Array(a, b) => s"$a $b"
      })
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got.length == math.min(25, all.size))
    for ((bg, f) <- got) assert(all(bg) == f, s"'$bg' count $f != ${all(bg)}")
    // the cut is the true top-25 by (count desc, bigram)
    val expected = all.toSeq.sortBy { case (b, f) => (-f, b) }.take(25)
    assert(got.toSeq == expected, "top-25 edge must be deterministic")
  }

  test("event_anomaly: zero-variance types emit NULL z, not NaN/Inf") {
    // one type with a single observed day (nd=1) and one with constant
    // daily counts (nd·s2 = s1²) — both discriminants are exactly 0
    val dir = Scratch.fresh("anom_zvar")
    val day = 86400000L
    val rows = Seq(
      (1L, 0L * day, 100L, "single", 1.0, "{}"),
      (2L, 0L * day, 101L, "const", 1.0, "{}"),
      (3L, 1L * day, 102L, "const", 1.0, "{}"),
      (4L, 2L * day, 103L, "const", 1.0, "{}"),
      (5L, 0L * day, 104L, "vary", 1.0, "{}"),
      (6L, 0L * day, 105L, "vary", 1.0, "{}"),
      (7L, 1L * day, 106L, "vary", 1.0, "{}"))
    import spark.implicits._
    rows.toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_millis(ms)")).drop("ms")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("event_anomaly")(spark, dir).collect()
      .map(r => (r.getString(0), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.filter(_._1 != "vary").forall(_._2.isEmpty),
      "degenerate distributions must yield NULL z")
    assert(got.filter(_._1 == "vary").forall(_._2.exists(z => !z.isNaN && !z.isInfinite)),
      "well-defined distributions must yield finite z")
  }

  test("event_anomaly: z-scores standardize each type's daily counts (mean 0, var 1)") {
    val rows = q("event_anomaly").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    for ((typ, grp) <- rows.groupBy(_._1)) {
      val n = grp.length
      val zs = grp.map(_._4)
      assert(math.abs(zs.sum / n) < 1e-3, s"$typ: z mean ${zs.sum / n} not ~0")
      assert(math.abs(zs.map(z => z * z).sum / n - 1.0) < 1e-2,
        s"$typ: z variance not ~1 (rounding tolerance)")
      // monotone: higher count ⇒ higher z within a type
      val byCount = grp.sortBy(_._3)
      assert(byCount.map(_._4).zip(byCount.tail.map(_._4)).forall { case (a, b) => a <= b },
        s"$typ: z must be monotone in the count")
    }
  }

  test("merge_scd2: one open version per key, updates close-and-append correctly") {
    val rows = q("merge_scd2").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
                 if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val bal = T.customer(spark, sf).select(col("c_custkey"), col("c_acctbal"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byKey = rows.groupBy(_._1)
    assert(byKey.keySet == bal.keySet, "every dimension key appears")
    for ((k, vs) <- byKey) {
      assert(vs.count(_._4.isEmpty) == 1, s"key $k must have exactly one open version")
      if (k % 2 == 0) {
        assert(vs.length == 1 && vs.head._2 == bal(k) && vs.head._3 == 0L,
          s"unchanged key $k must pass through untouched")
      } else {
        assert(vs.length == 2, s"updated key $k must have history + current")
        val Seq(closed, open) = vs.sortBy(_._3).toSeq
        assert(closed._2 == bal(k) && closed._3 == 0L && closed._4.contains(1L),
          s"key $k old version must be closed at the update time")
        assert(open._2 == bal(k) + 100 && open._3 == 1L && open._4.isEmpty,
          s"key $k new version must open at the update time")
        assert(closed._4.get <= open._3, s"key $k validity intervals must not overlap")
      }
    }
  }

  test("text_repetition: per-doc bigram mass and top share recount") {
    val got = q("text_repetition").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = T.documents(spark, sf).select(col("doc_id"), lower(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    for ((id, toks) <- docs if toks.length >= 2) {
      val bigrams = toks.sliding(2).map(_.mkString(" ")).toSeq
      val counts = bigrams.groupBy(identity).view.mapValues(_.length.toLong)
      val (n, top, pct) = got(id)
      assert(n == bigrams.length.toLong, s"doc $id bigram mass")
      assert(top == counts.values.max, s"doc $id top count")
      assert(pct == 100L * top / n, s"doc $id integer share")
    }
    assert(got.keySet == docs.filter(_._2.length >= 2).map(_._1).toSet)
  }

  test("lake_compact: files collapse per partition, row content survives") {
    val rows = q("lake_compact").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    for ((part, filesBefore, rowsBefore, filesAfter, rowsAfter) <- rows) {
      assert(filesAfter < filesBefore,
        s"$part: compaction must reduce file count ($filesBefore -> $filesAfter)")
      assert(filesAfter <= 2, s"$part: salt bound must cap files at 2, got $filesAfter")
      assert(rowsBefore == rowsAfter, s"$part: compaction must not lose or duplicate rows")
    }
    // content equality beyond counts: the compacted lake re-aggregates to
    // the same exact totals as the fragmented one
    val root = graft.Scratch.dir("lake_compact", sf)
    val schema = T.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")).schema
    def tot(p: String) = spark.read.schema(schema).parquet(p)
      .agg(sum(col("o_orderkey")), count(lit(1))).collect().head
    assert(tot(s"$root/fragmented") == tot(s"$root/compacted"))
  }

  test("emb_quantize_int8: range, max-element saturation, and dequantization error bound") {
    // output is exploded (vec_id, scale, pos, q_val) rows — reassemble per vec
    val byVec = q("emb_quantize_int8").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getLong(3)))
      .groupBy(_._1)
    val vecs = T.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    assert(byVec.size == vecs.size)
    for ((id, rs) <- byVec) {
      val scale = rs.head._2
      val qs = rs.sortBy(_._3).map(_._4).toSeq
      val xs = vecs(id)
      assert(qs.length == xs.length)
      assert(scale == xs.map(math.abs).max, s"vec $id scale")
      assert(qs.forall(v => v >= -127 && v <= 127), s"vec $id q out of int8 range")
      // the max-|x| element must saturate to ±127
      val argmax = xs.indexWhere(x => math.abs(x) == scale)
      assert(math.abs(qs(argmax)) == 127, s"vec $id max element must hit ±127")
      // dequantization error ≤ half a quantization step
      for ((x, qv) <- xs.zip(qs))
        assert(math.abs(qv * scale / 127.0 - x) <= scale / 254.0 + 1e-12,
          s"vec $id dequant error too large at x=$x q=$qv")
    }
  }
}
