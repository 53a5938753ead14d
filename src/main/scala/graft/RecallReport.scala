package graft

import org.apache.spark.sql.functions._

/** Measured-recall report for the approximate-similarity keys (r15
  * verdict item 6): computes, at one scale, the same recall each spec
  * asserts a floor for — against the same exact references — and prints
  * one markdown table row per key. The pinned table in `SCALE.md` is
  * this main's output at sf0.001 / sf0.01 / sf0.1; the floors column
  * comes from [[graft.operators.RecallFloors]], the one place the specs
  * read too.
  *
  * Usage: RecallReport <sfDir>
  */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.get()
    import graft.operators.RecallFloors

    // exact cosine top-10 (the sim_cosine_topk oracle-checked result)
    val exactCos = SparkEntry.queries("sim_cosine_topk")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    def vsExactCos(key: String): Double = {
      val ids = SparkEntry.queries(key)(spark, sfDir).collect().map(_.getLong(0))
      ids.count(exactCos).toDouble / exactCos.size
    }

    // exact L2 top-10 for the PQ key (ADC approximates squared L2)
    val e = T.embeddings(spark, sfDir)
    // bound: one row (vec_id 0); the planner sizes the filter as the table
    val q0 = broadcast(e.where(col("vec_id") === 0).select(col("embedding").as("qe")))
    val exactL2 = e.where(col("vec_id") =!= 0).crossJoin(q0)
      .select(col("vec_id"),
        expr("aggregate(zip_with(embedding, qe, (x, y) -> CAST((x - y) * (x - y) AS DOUBLE)), 0D, (acc, v) -> acc + v)").as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val pqIds = SparkEntry.queries("sim_pq_adc")(spark, sfDir).collect().map(_.getLong(0))
    val pqRecall = pqIds.count(exactL2).toDouble / exactL2.size

    // global un-blocked >= tau drop truth for the SemDeDup keys: the
    // one-off report pays the corpus x corpus cosine (fixture-sized);
    // the OPERATORS never do — that asymmetry is the point of blocking
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val globalDropped = a.crossJoin(b).where(col("ib") < col("ia"))
      .where(graft.operators.LlmOps.cosine("ea", "eb") >= graft.operators.LlmOps.cosTau)
      .select(col("ia")).distinct().collect().map(_.getLong(0)).toSet
    def dropRecall(key: String): Double = {
      val dropped = SparkEntry.queries(key)(spark, sfDir).collect()
        .filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
      dropped.size.toDouble / math.max(1, globalDropped.size)
    }

    val nVec = e.count()
    val rows = Seq(
      ("sim_cosine_lsh", vsExactCos("sim_cosine_lsh"),
        s"analytic band ±${RecallFloors.simCosineLshAnalyticBand} (primary pin exact)"),
      ("sim_cosine_ivf", vsExactCos("sim_cosine_ivf"), s">= ${RecallFloors.simCosineIvf}"),
      ("sim_ivf_partitioned", vsExactCos("sim_ivf_partitioned"),
        s">= ${RecallFloors.simIvfPartitioned}"),
      ("sim_pq_adc", pqRecall, s">= ${RecallFloors.simPqAdc}"),
      ("dedup_semantic_kmeans", dropRecall("dedup_semantic_kmeans"),
        s">= ${RecallFloors.dedupSemanticKmeans}"),
      ("dedup_semantic (label ref)", dropRecall("dedup_semantic"), "reference row"))
    println(s"| key | recall ($sfDir, n=$nVec, ${globalDropped.size} global >=tau drops) | spec floor |")
    println("|---|---|---|")
    rows.foreach { case (k, r, f) => println(f"| `$k` | $r%.3f | $f |") }

    // --- recall@10 vs budget curves (VERDICT r17 #4): sweep each
    // approximate key's budget knob through the conf it reads, so the
    // committed floors derive from a measured curve instead of a single
    // asserted point. Defaults are restored after each sweep — the
    // production settings are the starred rows.
    println()
    println(s"### recall@10 vs budget ($sfDir)")
    println("| key | knob | budget (candidates driven) | recall@10 |")
    println("|---|---|---|---|")
    for (r <- Seq(0, 1, 2, 3)) {
      spark.conf.set("spark.sql.graft.ann.lshRadius", r.toString)
      val rec = vsExactCos("sim_cosine_lsh")
      val probes = (0 until 256).count(m => Integer.bitCount(m) <= r)
      val star = if (r == 2) " *" else ""
      println(f"| `sim_cosine_lsh` | radius=$r$star | $probes probes of 256 buckets | $rec%.3f |")
    }
    spark.conf.unset("spark.sql.graft.ann.lshRadius")
    for (np <- Seq(1, 2, 3, 4, 6)) {
      spark.conf.set("spark.sql.graft.ann.nprobe", np.toString)
      val recIvf = vsExactCos("sim_cosine_ivf")
      val recPart = vsExactCos("sim_ivf_partitioned")
      val star = if (np == 3) " *" else ""
      println(f"| `sim_cosine_ivf` | nprobe=$np$star | $np cells scanned | $recIvf%.3f |")
      println(f"| `sim_ivf_partitioned` | nprobe=$np$star | $np partition dirs opened | $recPart%.3f |")
    }
    spark.conf.unset("spark.sql.graft.ann.nprobe")
    for (b <- Seq(2, 4, 8, 16)) {
      spark.conf.set("spark.sql.graft.ann.beam", b.toString)
      val out = SparkEntry.queries("sim_graph_search")(spark, sfDir).collect()
      val rec = out.map(_.getLong(0)).count(exactCos).toDouble / exactCos.size
      val (nv, nr) = out.headOption.map(r0 => (r0.getLong(2), r0.getLong(3))).getOrElse((0L, 0L))
      val star = if (b == 8) " *" else ""
      println(f"| `sim_graph_search` | beam=$b$star | $nv visited / $nr rounds | $rec%.3f |")
    }
    spark.conf.unset("spark.sql.graft.ann.beam")
    spark.stop()
  }
}
