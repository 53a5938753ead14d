package graft.operators

import graft.{Q, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-column operators beyond the §2.K dedup/similarity rows —
  * the vector plumbing a training-data pipeline needs at 100 TB scale:
  * normalization, per-cluster centroids (the IVF/k-means building block),
  * and an IVF-style coarse-quantized ANN search.
  *
  * Determinism stance (all oracled rows): every cross-row reduction runs
  * in exact integer micro-units (component → round(x·1e6) as BIGINT), so
  * results are independent of partitioning/summation order — the same
  * property that keeps them hash-identical to DuckDB keeps them stable on
  * a 1000-executor cluster. Per-row folds (norms) run left-to-right in
  * both engines (Spark `aggregate` ≡ DuckDB `list_reduce` with a
  * prepended init), so even double math is bit-identical.
  */
object EmbeddingOps {

  /** Exact cosine between two vector columns (double, index-ordered). */
  private def cosine(a: String, b: String): Column =
    graft.functions.CosineSimilarity(col(a), col(b))

  /** Per-label mean embedding in integer micro-units: one narrow shuffle
    * of (label, pos) pairs, partial aggregation map-side; sums are exact
    * longs (≤ #rows·1e6 ≪ 2^53) so the final double division is
    * bit-identical regardless of row order. At scale `label` is any
    * coarse cluster id; this is one Lloyd step of k-means.
    */
  private def centroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("micro",
        expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("micro")).as("sum_micro"), count(lit(1)).as("n_vecs"))
      .select(col("label"), col("pos"),
              (col("sum_micro").cast("double") / col("n_vecs")).as("mean_micro"))

  /** Map-only cluster assignment: the K-row codebook is folded into
    * LITERAL expressions — one codegen'd cosine per centroid, argmax via
    * `greatest` over (cos, -cid, cid) structs (highest cosine, ties to the
    * lowest cid — `max_by(cid, struct(cos, -cid))` semantics) — so scoring
    * N corpus rows against K centroids is a pure projection: ZERO exchange,
    * nothing leaves the task that computed it (KmeansSpec asserts the plan
    * is Exchange-free). This is what makes Lloyd viable at 100 TB: the
    * corpus is read and scored in place every iteration; only K·dim
    * partial sums ever move.
    */
  def assign(vecs: DataFrame, codebook: Seq[(Long, Array[Float])]): DataFrame =
    if (codebook.isEmpty) {
      // empty snapshot: no centroids -> no assignments (keep the schema)
      vecs.where(lit(false))
        .select(col("vec_id"), col("v"),
                lit(null).cast("bigint").as("cid"), lit(null).cast("double").as("cos"))
    } else {
      val scored = codebook.map { case (cid, c) =>
        struct(
          graft.functions.CosineSimilarity(col("v"), typedLit(c)).as("cos"),
          lit(-cid).as("ncid"), lit(cid).as("cid"))
      }
      val best = if (scored.sizeIs == 1) scored.head else greatest(scored: _*)
      vecs.withColumn("best", best)
        .select(col("vec_id"), col("v"),
                col("best.cid").as("cid"), col("best.cos").as("cos"))
    }

  /** Build-once IVF layout root for a dataset (a [[graft.Scratch.layout]]):
    * spherical-k-means assignments written `partitionBy(cid)` plus the
    * k-row codebook next to it. Shared by `sim_ivf_partitioned` (ANN
    * probe = partition pruning) and `dedup_semantic_kmeans` (SemDeDup
    * blocks = the same cells) — one trained layout, two consumers, the
    * way a real lake amortizes its index.
    */
  private[graft] def ivfRoot(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Scratch.layout(s, "ivf", d) { dir =>
      val e = T.embeddings(s, d)
      val (assigned, _) = kmeans(e, k = 8, iters = 2)
      e.join(assigned.select(col("vec_id"), col("cid")), "vec_id")
        .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/index")
      assigned.join(e, "vec_id")
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("micro", expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)"))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("micro")).cast("double") / count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), p -> CAST(p.m / 1e6 AS FLOAT))").as("centroid"))
        .write.mode("overwrite").parquet(s"$dir/codebook")
    }

  /** Spherical k-means (Lloyd) over an embedding column — the IVF/coarse-
    * quantizer TRAINER (`emb_centroid` is its single step, `sim_cosine_ivf`
    * its consumer). Assignment = `assign` above: the codebook lives on the
    * DRIVER as K·dim floats (metadata-sized, the same legitimacy class as
    * the IVF probe's K-row collect) and is folded into literals, so the
    * corpus NEVER shuffles. Update = exact integer micro-unit means — the
    * one exchange per iteration, and a narrow one: map-side partial
    * aggregation means the shuffle carries K·dim partial sums per task,
    * never corpus rows. Every iteration is partition-order deterministic —
    * at 1000 executors the trained codebook is reproducible bit-for-bit.
    * The per-iteration codebook collect doubles as lineage truncation
    * (each iteration's plan starts from literals, not the previous
    * iteration's dataflow — the same discipline dedup_clusters gets from
    * `localCheckpoint`).
    *
    * Returns (assignments, inertia history); inertia = Σ(1 − cos) is
    * non-increasing under spherical Lloyd (KmeansSpec asserts it).
    * `trackInertia=false` skips the per-iteration scalar aggregate ACTION
    * (the convergence probe) — the training dataflow is identical, but a
    * consumer that only needs assignments (the registered query, the IVF
    * index build) saves one Spark job per iteration.
    */
  def kmeans(e: DataFrame, k: Int, iters: Int,
             trackInertia: Boolean = false): (DataFrame, Seq[Double]) = {
    // null embeddings can neither seed nor be assigned (NullInputSpec)
    val vecs = e.where(col("embedding").isNotNull).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS FLOAT))").as("v"))
    def toCodebook(df: DataFrame): Seq[(Long, Array[Float])] =
      df.orderBy(col("cid")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    // deterministic seeding: the k lowest vec_ids are the initial codebook
    var codebook = toCodebook(
      vecs.where(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v").as("c")))
    var inertia = List.empty[Double]
    var assigned: DataFrame = assign(vecs, codebook)
    for (_ <- 1 to iters) {
      assigned = assign(vecs, codebook)
      // coalesce: sum over zero rows is NULL (empty snapshot is routine)
      if (trackInertia)
        inertia ::= assigned.agg(coalesce(sum(lit(1.0) - col("cos")), lit(0.0)))
          .head.getDouble(0)
      codebook = toCodebook(
        assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .withColumn("micro", expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
          .groupBy(col("cid"), col("pos"))
          .agg((sum(col("micro")).cast("double") / count(lit(1)) / 1e6).as("m"))
          .groupBy(col("cid"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), p -> CAST(p.m AS FLOAT))").as("c")))
    }
    (assigned.select(col("vec_id"), col("cid"), round(col("cos"), 6).as("cos")),
     inertia.reverse)
  }

  /** Product-quantization codebooks: subspace j → (cid → centroid).
    *
    * PQ is the compression half of the IVF story (`sim_ivf_partitioned`
    * prunes WHICH cells to scan; PQ shrinks WHAT a scanned row costs):
    * each dim-`dsub` subvector is replaced by the id of its nearest
    * subspace centroid, so a d-dim float vector becomes m bytes and
    * query distance becomes m table lookups. Training is Lloyd per
    * subspace, all m subspaces in ONE dataflow per iteration:
    * assignment is a map-only projection (the m×k codebook folds into
    * literal `least(struct(dist, cid)…)` argmins — zero exchange, the
    * same stance as [[assign]]), the update is one exploded
    * (sub, cid, pos) aggregate in exact integer micro-units, and the
    * only collects move m·k·dsub codebook METADATA (bounded by the
    * codebook, never the corpus). Deterministic: seeds are the k
    * lowest vec_ids' subvectors, means are micro-unit exact, ties
    * break to the lowest cid.
    */
  def pqTrain(e0: DataFrame, m: Int, dsub: Int, k: Int, iters: Int): Map[Int, Seq[(Int, Array[Double])]] = {
    // a null embedding has no subvectors: it can neither seed nor train a
    // codebook (NullInputSpec caught the seed collect NPE-ing on one)
    val e = e0.where(col("embedding").isNotNull)
    def subCol(j: Int): Column =
      expr(s"transform(slice(embedding, ${j * dsub + 1}, $dsub), x -> CAST(x AS DOUBLE))")
    def argmin(j: Int, cb: Map[Int, Seq[(Int, Array[Double])]]): Column =
      least(cb(j).map { case (cid, c) =>
        val d = aggregate(
          zip_with(subCol(j), typedLit(c.toSeq), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
        struct(d.as("d"), lit(cid).as("cid"))
      }: _*)
    def collectCodebook(df: DataFrame): Map[Int, Seq[(Int, Array[Double])]] =
      df.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).map { case (j, rows) =>
          j -> rows.sortBy(_._2).map(t => (t._2, t._3)).toSeq
        }
    var cb = collectCodebook(
      e.where(col("vec_id") < k).select(
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), j -> transform(slice(embedding, j * $dsub + 1, $dsub), x -> CAST(x AS DOUBLE)))"))
          .as(Seq("sub", "svec")), col("vec_id").cast("int").as("cid"))
        .select(col("sub"), col("cid"), col("svec")))
    // empty corpus (fresh region / filtered snapshot): no seed vectors →
    // no codebook; callers emit their empty-schema lane
    if (cb.isEmpty) return cb
    for (_ <- 1 to iters) {
      val assigned = e.select(col("vec_id") +:
        (0 until m).map(j => argmin(j, cb).getField("cid").as(s"c$j")): _*)
      val updated = collectCodebook(
        e.join(assigned, "vec_id")
          .select(explode(array((0 until m).map(j =>
            struct(lit(j).as("sub"), col(s"c$j").as("cid"), subCol(j).as("svec"))): _*)).as("g"))
          .select(col("g.sub").as("sub"), col("g.cid").as("cid"),
                  posexplode(col("g.svec")).as(Seq("pos", "x")))
          .withColumn("micro", expr("CAST(round(x * 1000000) AS BIGINT)"))
          .groupBy(col("sub"), col("cid"), col("pos"))
          .agg((sum(col("micro")).cast("double") / count(lit(1)) / 1e6).as("mv"))
          .groupBy(col("sub"), col("cid"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), p -> p.mv)").as("svec")))
      // a cell that captured no points keeps its previous centroid
      cb = cb.map { case (j, cells) =>
        val upd = updated.getOrElse(j, Seq.empty).toMap
        j -> cells.map { case (cid, c) => cid -> upd.getOrElse(cid, c) }
      }
    }
    cb
  }

  /** PQ geometry: 64 dims → 16 subspaces × 4 dims, 16 centroids each —
    * a vector compresses to 16 nibble codes (16× vs float32). Finer
    * subspaces cost more codes but keep ADC discriminative on
    * low-structure embeddings; the serving path below reranks an ADC
    * shortlist exactly, the standard IVF-PQ recipe.
    */
  val PqM = 16; val PqDsub = 4; val PqK = 16

  /** Session-bounded memo of trained PQ codebooks per dataset dir —
    * m·k·dsub doubles each (~8 KB); training is paid once per sweep,
    * the probe keys never retrain (the `sim_ivf_partitioned` stance).
    */
  private val pqMemo =
    scala.collection.mutable.Map.empty[String, Map[Int, Seq[(Int, Array[Double])]]]
  private def pqCodebook(e: DataFrame, d: String): Map[Int, Seq[(Int, Array[Double])]] =
    pqMemo.synchronized {
      if (pqMemo.size > 8) pqMemo.clear()
      pqMemo.getOrElseUpdate(d, pqTrain(e, m = PqM, dsub = PqDsub, k = PqK, iters = 2))
    }
  private def pqArgmin(j: Int, dsub: Int, cb: Map[Int, Seq[(Int, Array[Double])]]): Column =
    least(cb(j).map { case (cid, c) =>
      val sv = expr(s"transform(slice(embedding, ${j * dsub + 1}, $dsub), x -> CAST(x AS DOUBLE))")
      val dist = aggregate(
        zip_with(sv, typedLit(c.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
      struct(dist.as("d"), lit(cid).as("cid"))
    }: _*)

  /** Persisted PQ index: (vec_id, embedding, codes[], dists[]) written
    * ONCE per (session, dataset) — the encode pass with its m×k-literal
    * argmin tree is the INDEX BUILD (paid at build time, like
    * `sim_ivf_partitioned`'s layout write), and every consumer after
    * reads 16 int codes per row instead of re-running 256 distance
    * folds. This is the production separation: encode cost lives with
    * the weekly index job, query cost is table lookups.
    */
  private def pqIndex(s: SparkSession, d: String): String =
    graft.Scratch.layout(s, "pq", d) { dir =>
      val e = T.embeddings(s, d)
      val cb = pqCodebook(e, d)
      val enc =
        if (cb.isEmpty)
          e.where(lit(false)).select(col("vec_id"), col("embedding"),
            expr("CAST(array() AS ARRAY<INT>)").as("codes"),
            expr("CAST(array() AS ARRAY<DOUBLE>)").as("dists"))
        else {
          val as = (0 until PqM).map(j => pqArgmin(j, PqDsub, cb))
          e.select(col("vec_id"), col("embedding"),
            array(as.map(_.getField("cid")): _*).as("codes"),
            array(as.map(_.getField("d")): _*).as("dists"))
        }
      enc.write.mode("overwrite").parquet(s"$dir/index")
    }

  /** DuckDB oracle for `emb_kmeans`: the spherical-Lloyd loop unrolled
    * as a CTE chain — cb0 = the k lowest vec_ids, then per round an
    * assignment (index-ordered double-fold cosine, argmax ties to the
    * lowest cid) and an exact micro-unit centroid mean, ending on the
    * FINAL assignment (the Spark loop assigns against the codebook of
    * the previous round's update, so `iters` rounds = `iters`
    * assignments over `iters - 1` updates). Every arithmetic step is
    * one IEEE op on identical operands in both engines — see the key's
    * registration comment.
    */
  def kmeansOracleSql(k: Int, iters: Int): String = {
    def fold(expr: String, n: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, $n + 1), i -> $expr)),
         |    (a, x) -> a + x)""".stripMargin
    def cos(v: String, c: String): String = {
      val n = s"least(len($v), len($c))"
      s"""(${fold(s"CAST($v[i] AS DOUBLE) * CAST($c[i] AS DOUBLE)", n)}
         | / (sqrt(${fold(s"CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)", n)})
         |  * sqrt(${fold(s"CAST($c[i] AS DOUBLE) * CAST($c[i] AS DOUBLE)", n)})))""".stripMargin
    }
    val rounds = (1 to iters).map { j =>
      val cb = s"cb${j - 1}"
      val assign =
        s"""s$j AS (SELECT t.vec_id, t.v, c.cid, ${cos("t.v", "c.c")} AS cos
           |        FROM vecs t CROSS JOIN $cb c),
           |a$j AS (SELECT vec_id, v, cid, cos FROM (
           |          SELECT *, row_number() OVER (PARTITION BY vec_id
           |                    ORDER BY cos DESC, cid) AS rn FROM s$j)
           |        WHERE rn = 1)""".stripMargin
      val update = if (j == iters) "" else
        s""",
           |cb$j AS (
           |  SELECT cid, list(CAST(m AS FLOAT) ORDER BY pos) AS c
           |  FROM (SELECT cid, pos, CAST(sum(micro) AS DOUBLE) / count(*) / 1e6 AS m
           |        FROM (SELECT a.cid, generate_subscripts(a.v, 1) AS pos,
           |                     CAST(round(CAST(unnest(a.v) AS DOUBLE) * 1000000) AS BIGINT) AS micro
           |              FROM a$j a)
           |        GROUP BY cid, pos)
           |  GROUP BY cid)""".stripMargin
      assign + update
    }.mkString(",\n")
    s"""WITH vecs AS (SELECT vec_id, embedding AS v FROM embeddings
       |              WHERE embedding IS NOT NULL),
       |cb0 AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < $k),
       |$rounds
       |SELECT vec_id, cid, round(cos, 6) AS cos
       |FROM a$iters
       |ORDER BY vec_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "emb_fps_sample",
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS vq
        |  FROM embeddings),
        |s1 AS (SELECT min(vec_id) AS sid FROM q),
        |d1 AS (SELECT v.vec_id,
        |              list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                list_transform(range(1, len(v.vq) + 1),
        |                  i -> (v.vq[i] - s.vq[i]) * (v.vq[i] - s.vq[i]))),
        |                (a, b) -> a + b) AS d
        |       FROM q v, q s, s1 WHERE s.vec_id = s1.sid),
        |s2 AS (SELECT vec_id AS sid FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
        |d2 AS (SELECT v.vec_id, least(d1.d,
        |              list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                list_transform(range(1, len(v.vq) + 1),
        |                  i -> (v.vq[i] - s.vq[i]) * (v.vq[i] - s.vq[i]))),
        |                (a, b) -> a + b)) AS d
        |       FROM q v JOIN d1 ON v.vec_id = d1.vec_id, q s, s2 WHERE s.vec_id = s2.sid),
        |s3 AS (SELECT vec_id AS sid FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
        |d3 AS (SELECT v.vec_id, least(d2.d,
        |              list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                list_transform(range(1, len(v.vq) + 1),
        |                  i -> (v.vq[i] - s.vq[i]) * (v.vq[i] - s.vq[i]))),
        |                (a, b) -> a + b)) AS d
        |       FROM q v JOIN d2 ON v.vec_id = d2.vec_id, q s, s3 WHERE s.vec_id = s3.sid),
        |s4 AS (SELECT vec_id AS sid FROM d3 ORDER BY d DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS sample_rank, sid AS vec_id FROM s1
        |UNION ALL SELECT CAST(2 AS BIGINT), sid FROM s2
        |UNION ALL SELECT CAST(3 AS BIGINT), sid FROM s3
        |UNION ALL SELECT CAST(4 AS BIGINT), sid FROM s4
        |ORDER BY sample_rank""".stripMargin
    ) { (s, d) =>
      // Farthest-point sampling (k-center greedy, k = 4) — the
      // diversity/coreset selection family the hash-keyed samplers
      // cannot express (stratified/temperature/fixed-k pick by CONTENT
      // KEY; FPS picks by GEOMETRY: each round adds the vector farthest
      // from every seed so far, the classic 2-approximation seed set
      // for k-center and the diverse-subset recipe). Determinism is the
      // emb_dim_stats grid: vectors quantize ONCE to exact 1e-4 BIGINTs,
      // so every pairwise squared distance is an exact integer (≤ 64·
      // (2·10⁴)² ≈ 2.6e10) — the argmax can never flip on float
      // summation order — and ties break on vec_id. Scale shape: k−1
      // corpus passes, each a map-only distance projection against ≤ k
      // BROADCAST seed vectors folded with a running min, then one
      // TakeOrdered(1); the corpus never shuffles and the driver holds
      // k rows (the BPE-train loop discipline).
      val q = T.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))").as("vq"))
        .localCheckpoint() // k-1 rescans: materialize the quantized corpus once
      val k = 4
      import s.implicits._
      // empty corpus: no seed to start from → empty sample (the
      // EmptyInputSpec lane every driver-looping op needs)
      val firstRows = q.orderBy(col("vec_id")).limit(1).collect()
      if (firstRows.isEmpty) Seq.empty[(Long, Long)].toDF("sample_rank", "vec_id")
      else {
        val first = firstRows(0)
        var seeds = Seq((1, first.getLong(0), first.getSeq[Long](1)))
        var dist: DataFrame = null
        for (r <- 2 to k) {
          val sv = seeds.last._3
          val litSeed = array(sv.map(lit): _*)
          val dNew = expr("aggregate(transform(sequence(0, size(vq) - 1), " +
            "i -> (vq[i] - sq[i]) * (vq[i] - sq[i])), 0L, (a, x) -> a + x)")
          val scored = (if (dist == null) q.withColumn("sq", litSeed).withColumn("d", dNew)
                        else dist.withColumn("sq", litSeed).withColumn("d", least(col("d"), dNew)))
            .select(col("vec_id"), col("vq"), col("d"))
          dist = scored.localCheckpoint()
          val next = dist.orderBy(col("d").desc, col("vec_id").asc).limit(1).collect()(0)
          seeds = seeds :+ ((r, next.getLong(0), next.getSeq[Long](1)))
        }
        seeds.map(x => (x._1.toLong, x._2)).toDF("sample_rank", "vec_id")
          .orderBy(col("sample_rank"))
      }
    },

    Q(
      "emb_dim_stats",
      """WITH x AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS v
        |  FROM embeddings)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(v) AS BIGINT) AS sum_e4,
        |       CAST(sum(v * v) AS BIGINT) AS sumsq_e8,
        |       CAST(min(v) AS BIGINT) AS min_e4, CAST(max(v) AS BIGINT) AS max_e4,
        |       CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin
    ) { (s, d) =>
      // Per-dimension embedding health report — the QA pass an embedding
      // pipeline runs on every new model drop: dead dimensions (always
      // ~0 → wasted index bytes and degenerate PQ codebooks), per-dim
      // scale drift (one hot dimension dominates L2 distances), and the
      // exact moment sums downstream whitening would consume. The
      // established integer discipline: each float rounds ONCE to an
      // exact 1e-4 grid (round() is away-from-zero in both engines; the
      // r13 round()-safety rule holds at this magnitude), and
      // everything after — sums, squares, min/max, dead count — is an
      // exact BIGINT chain, order- and partitioning-invariant
      // (n·Σv² ≤ ~2.5e15 at sf0.1, far inside BIGINT). Scale shape: one
      // generator fan-out, one aggregate on the |dims|-bounded key.
      T.embeddings(s, d)
        .select(posexplode(expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"))
          .as(Seq("dim", "v")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).cast("long").as("n"),
             sum(col("v")).cast("long").as("sum_e4"),
             sum(col("v") * col("v")).cast("long").as("sumsq_e8"),
             min(col("v")).cast("long").as("min_e4"),
             max(col("v")).cast("long").as("max_e4"),
             sum(when(col("v") === 0, 1).otherwise(0)).cast("long").as("n_dead"))
        .orderBy(col("dim"))
    },

    Q(
      "emb_normalize",
      """SELECT vec_id, i - 1 AS pos,
        |       CAST(round(CAST(v AS DOUBLE) / sqrt(n2) * 1000000) AS BIGINT) AS unit_micro
        |FROM (
        |  SELECT vec_id,
        |         unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS i,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
        |           (a, b) -> a + b) AS n2
        |  FROM embeddings) t
        |ORDER BY vec_id, pos""".stripMargin
    ) { (s, d) =>
      // L2 normalization, emitted in integer micro-units: the norm fold is
      // left-to-right in both engines (bit-identical), and round-to-long
      // removes any decimal-string-vs-binary rounding ambiguity. A narrow
      // per-row projection — no shuffle, fully codegen'd. The output is
      // exploded to scalar (vec_id, pos, unit_micro) rows — same shape
      // convention as emb_centroid — so the driver's pandas-based compare
      // can sort/hash it (array columns are unhashable there).
      T.embeddings(s, d)
        .withColumn("n2",
          expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))"))
        .select(col("vec_id"),
          posexplode(expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / sqrt(n2) * 1000000) AS BIGINT))"))
            .as(Seq("pos", "unit_micro")))
        .orderBy(col("vec_id"), col("pos"))
    },

    Q(
      "emb_outlier_filter",
      """WITH m AS (
        |  SELECT vec_id, label, i AS pos, CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS xm
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i FROM embeddings
        |        WHERE embedding IS NOT NULL AND label IS NOT NULL) t),
        |c AS (SELECT label, pos, CAST(round(CAST(sum(xm) AS DOUBLE) / count(*)) AS BIGINT) AS cm
        |      FROM m GROUP BY label, pos),
        |dd AS (SELECT vec_id, m.label, CAST(sum((xm - cm) * (xm - cm)) AS BIGINT) AS d2
        |       FROM m JOIN c ON m.label = c.label AND m.pos = c.pos
        |       GROUP BY vec_id, m.label),
        |r AS (SELECT vec_id, label, d2,
        |             row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rn,
        |             count(*) OVER (PARTITION BY label) AS nl
        |      FROM dd)
        |SELECT vec_id, label, d2, rn <= (nl + 19) // 20 AS is_outlier
        |FROM r ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      // Embedding-space outlier pruning — the prototypicality screen that
      // rides next to SemDeDup in curation stacks (drop the farthest
      // ⌈5%⌉ of each class/cluster from its centroid; distance-based
      // pruning à la SSL-prototypes). Everything that crosses engines is
      // exact: per-dim micro-unit BIGINT coordinates, a rounded BIGINT
      // centroid, d2 as an integer sum (order-free — no float summation
      // hazard), and the cut ranks (d2 DESC, vec_id) so ties can never
      // flip membership. Scale shape: the centroid build's shuffle
      // carries |labels|×64 partial rows per map partition (map-side
      // combine collapses the explode), the |labels|-sized centroid
      // ARRAY table broadcasts back onto the corpus scan — d2 is then a
      // zero-shuffle codegen'd zip_with fold per row — and the only
      // corpus-sized movement is the ONE label-partitioned window
      // shuffle for the rank cut. At real scale the exact window becomes
      // an approx-percentile d2 boundary broadcast (event_rfm's
      // argument); the fixture-scale exact cut is what the oracle pins.
      import org.apache.spark.sql.expressions.Window
      // a row without an embedding (or a label to group under) has no
      // distance — excluded in BOTH engines, not scored as NULL
      val e = T.embeddings(s, d)
        .where(col("embedding").isNotNull && col("label").isNotNull)
      val cent = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("m", expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("m")).as("sm"), count(lit(1)).as("n"))
        .withColumn("cm", expr("CAST(round(CAST(sm AS DOUBLE) / n) AS BIGINT)"))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), p -> p.cm)").as("cvec"))
      // bound: one centroid per label
      val scored = e.join(broadcast(cent), "label")
        .withColumn("d2", expr(
          """aggregate(zip_with(embedding, cvec,
            |  (x, c) -> (CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) - c)
            |          * (CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) - c)),
            |  CAST(0 AS BIGINT), (a, t) -> a + t)""".stripMargin))
      val w = Window.partitionBy(col("label"))
      scored
        .withColumn("rn", row_number().over(w.orderBy(col("d2").desc, col("vec_id"))))
        .withColumn("nl", count(lit(1)).over(w))
        .select(col("vec_id"), col("label"), col("d2"),
                (col("rn") <= expr("(nl + 19) DIV 20")).as("is_outlier"))
        .orderBy(col("vec_id"))
    },

    Q(
      "emb_truncate_renorm",
      """SELECT vec_id, i - 1 AS pos,
        |       CAST(round(CAST(v AS DOUBLE) / sqrt(n2) * 1000000) AS BIGINT) AS unit_micro
        |FROM (
        |  SELECT vec_id,
        |         unnest(list_slice(embedding, 1, 16)) AS v,
        |         generate_subscripts(list_slice(embedding, 1, 16), 1) AS i,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_slice(embedding, 1, 16), y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
        |           (a, b) -> a + b) AS n2
        |  FROM embeddings) t
        |ORDER BY vec_id, pos""".stripMargin
    ) { (s, d) =>
      // Matryoshka (MRL) truncation: keep the first 16 of 64 dims and
      // re-L2-normalize — the 4× index-shrink knob every MRL-trained
      // embedding stack exposes (coarse candidate retrieval on the
      // truncated prefix, full-dim re-rank behind it; pairs with
      // sim_cosine_ivf exactly as in the paper). Same cross-engine
      // determinism contract as emb_normalize: the norm fold is a
      // left-to-right double fold over the PREFIX in both engines,
      // output in rounded integer micro-units, exploded to scalar rows
      // for the hash compare. Pure per-row projection — zero shuffle,
      // codegen'd, scales with splits.
      T.embeddings(s, d)
        .withColumn("head", expr("slice(embedding, 1, 16)"))
        .withColumn("n2",
          expr("aggregate(head, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))"))
        .select(col("vec_id"),
          posexplode(expr(
            "transform(head, x -> CAST(round(CAST(x AS DOUBLE) / sqrt(n2) * 1000000) AS BIGINT))"))
            .as(Seq("pos", "unit_micro")))
        .orderBy(col("vec_id"), col("pos"))
    },

    Q(
      "emb_centroid",
      """SELECT label, i - 1 AS pos,
        |       CAST(CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
        |         / count(*) AS mean_micro
        |FROM (SELECT label, unnest(embedding) AS v,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings) x
        |GROUP BY label, i
        |ORDER BY label NULLS FIRST, pos""".stripMargin
    ) { (s, d) =>
      centroids(T.embeddings(s, d)).orderBy(col("label"), col("pos"))
    },

    // Spherical k-means training loop (see kmeans above). ORACLED since
    // r19 (VERDICT r18 #4): every step is cross-engine-exact — seeds are
    // the k lowest vec_ids, each cosine is an index-ordered DOUBLE fold
    // over FLOAT inputs (one IEEE op per step in both engines: the fused
    // kernel's loop ≡ DuckDB's sequential list_reduce), argmax ties break
    // to the lowest cid in both spellings, and centroid updates are
    // exact integer micro-unit sums divided once (then one double→float
    // rounding, IEEE round-to-nearest in both). So the oracle UNROLLS
    // the three Lloyd rounds as a CTE chain and must reproduce the
    // assignment table bit-for-bit. KmeansSpec keeps the monotone-
    // inertia, coverage and re-run-determinism pins.
    Q(
      "emb_kmeans",
      EmbeddingOps.kmeansOracleSql(k = 8, iters = 3)
    ) { (s, d) =>
      kmeans(T.embeddings(s, d), k = 8, iters = 3)._1
        .orderBy(col("vec_id"))
    },

    // Persisted IVF index: the trained assignment becomes the STORAGE
    // LAYOUT — embeddings written partitionBy(cid) — and the ANN probe
    // becomes partition PRUNING: the nprobe=3 nearest cells are picked by
    // scanning only the K-row codebook, and the fact scan opens only
    // those 3 of k partition directories (PlanSpec asserts the
    // PartitionFilters). This is the 100 TB shape: index build is one
    // write, every query after reads nprobe/k of the corpus from disk —
    // the pruning happens at the FILE level, not post-scan. Approximate →
    // no SQL oracle; spec asserts recall vs brute force and true cosines.
    Q.smoke("sim_ivf_partitioned") { (s, d) =>
      // --- index build: paid ONCE per session per dataset (VERDICT r3
      // flagged that the benched query was paying k-means training + the
      // full index write every run, contradicting the "build once"
      // design). The codebook
      // (cid → centroid floats) persists NEXT TO the index: a real lake
      // would store both artifacts together, and the probe must not
      // retrain to learn cell centers. (Shared via [[ivfRoot]] —
      // `dedup_semantic_kmeans` blocks on the same layout.)
      val root = ivfRoot(s, d)
      // --- probe (the steady-state query): codebook scan picks nprobe
      // cells. The ONLY collect in any operator, and deliberately so:
      // 3 rows of k-row codebook METADATA (bounded by k, never
      // corpus-sized) whose values must become literals for the scan to
      // prune statically at planning time — file-level pruning can't be
      // driven by a joined column. The data path never funnels through
      // the driver.
      // bound: one row (vec_id 0); the planner sizes the filter as the table
      val q = broadcast(T.embeddings(s, d).where(col("vec_id") === 0).select(col("embedding").as("qe")))
      val nprobe = s.conf.get("spark.sql.graft.ann.nprobe", "3").toInt // RecallReport sweeps this
      val probeCids = s.read.parquet(s"$root/codebook").crossJoin(q)
        .select(col("cid"), graft.functions.CosineSimilarity(col("centroid"), col("qe")).as("qc"))
        .orderBy(col("qc").desc).limit(nprobe)
        .collect().map(_.getLong(0))
      // …and the index read prunes to those partition dirs (static
      // partition filter — only nprobe/k of the lake's files are opened).
      // Explicit schema keeps cid a BIGINT: partition-type inference
      // would downcast it to int and the long-literal IN filter would
      // grow a cast that blocks static pruning.
      val idxSchema = T.embeddings(s, d).schema.add("cid", org.apache.spark.sql.types.LongType)
      s.read.schema(idxSchema).parquet(s"$root/index")
        .where(col("cid").isin(probeCids: _*))
        .where(col("vec_id") =!= 0)
        .crossJoin(q)
        .select(col("vec_id"),
                round(graft.functions.CosineSimilarity(col("embedding"), col("qe")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    // IVF-style ANN (the 100 TB similarity-search path): per-label
    // centroids act as the coarse quantizer; the query probes only the
    // nprobe=3 nearest cells and brute-forces inside them — scan cost
    // drops from |corpus| to the probed cells' mass, the recall/scan knob
    // being nprobe. Approximate (cell boundaries) → no SQL oracle;
    // SmokeOpsSpec measures recall@10 against sim_cosine_topk.
    Q.smoke("sim_cosine_ivf") { (s, d) =>
      val e = T.embeddings(s, d)
      // centroid vectors as arrays (driver-side tiny: #labels × dim)
      val cent = centroids(e)
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mean_micro))), p -> p.mean_micro / 1e6)")
          .as("centroid"))
      // bound: one row (vec_id 0); the planner sizes the filter as the table
      val q = broadcast(e.where(col("vec_id") === 0)
        .select(col("embedding").as("qe")))
      val probed = cent.crossJoin(q)
        .select(col("label"),
                graft.functions.CosineSimilarity(
                  expr("transform(centroid, x -> CAST(x AS FLOAT))"), col("qe")).as("qc"))
        .orderBy(col("qc").desc)
        .limit(s.conf.get("spark.sql.graft.ann.nprobe", "3").toInt) // RecallReport sweeps this
        .select(col("label"))
      e.where(col("vec_id") =!= 0)
        .join(probed, Seq("label"), "left_semi")
        .crossJoin(q)
        .select(col("vec_id"), round(cosine("embedding", "qe"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    Q(
      "emb_quantize_int8",
      """SELECT vec_id, i - 1 AS pos, scale,
        |       CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(floor(127.0 * CAST(v AS DOUBLE) / scale + 0.5) AS BIGINT)
        |       END AS q_val
        |FROM (
        |  SELECT vec_id,
        |         unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS i,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings) t
        |ORDER BY vec_id, pos""".stripMargin
    ) { (s, d) =>
      // Symmetric int8 quantization (q = round(127·x/max|x|) per vector)
      // — the storage/compute compression step every 100 TB ANN index
      // applies before sharding: 4× smaller than float32, and the int8
      // dot product is SIMD-friendly downstream. Pure per-row projection
      // (higher-order transform, no shuffle, scan-parallel). The chain
      // float→double cast, abs, max, one multiply/divide, floor is
      // bit-identical IEEE in both engines, so the un-rounded scale
      // column hashes exactly; the all-zero-vector guard keeps the
      // division total. Output is exploded to scalar
      // (vec_id, pos, scale, q_val) rows — the emb_normalize shape
      // convention — because the driver's compare can't hash arrays.
      T.embeddings(s, d)
        .withColumn("scale", array_max(expr("transform(embedding, x -> abs(CAST(x AS DOUBLE)))")))
        .select(col("vec_id"), col("scale"),
          posexplode(
            when(col("scale") === 0d, expr("transform(embedding, x -> CAST(0 AS BIGINT))"))
              .otherwise(expr(
                "transform(embedding, x -> CAST(floor(127.0 * CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))")))
            .as(Seq("pos", "q_val")))
        .orderBy(col("vec_id"), col("pos"))
    },

    Q(
      "emb_random_projection",
      """WITH x AS (
        |  SELECT vec_id,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q,
        |         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |jj AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS j),
        |z AS (SELECT vec_id, q, i, j,
        |             ((i * 1000003 + j + 1) * 2654435761) % 4294967296 AS z1
        |      FROM x CROSS JOIN jj),
        |t AS (SELECT vec_id, j,
        |             CAST(sum(CASE WHEN ((xor(z1, z1 // 65536) * 598266013) % 4294967296 // 1048576) % 2 = 0
        |                            THEN q ELSE -q END) AS BIGINT) AS y_micro
        |      FROM z GROUP BY 1, 2)
        |SELECT vec_id, j, y_micro FROM t ORDER BY vec_id, j""".stripMargin
    ) { (s, d) =>
      // Johnson-Lindenstrauss random sign projection d → 16
      // (Achlioptas 2003: ±1 entries preserve pairwise distances in
      // expectation with the same JL guarantee as Gaussians) — the
      // DATA-INDEPENDENT dimensionality-reduction rung next to
      // emb_pca_project/emb_whitening, which both need a training pass
      // over the corpus: the JL matrix is a FORMULA, so a 100 TB stream
      // projects in one scan-parallel map with nothing learned, nothing
      // broadcast, nothing to drift between snapshots — the right first
      // reduction before sketching or coarse ANN. Determinism: each
      // coordinate quantizes ONCE to exact micros (the floor(x·1e6+0.5)
      // idiom), the sign s(i,j) is one bit of a two-round
      // multiply-xor-multiply mix of (input dim, output dim) — plain
      // mod-2³² algebra both engines spell identically (constants sized
      // so every product fits BIGINT; cross-output sign correlation
      // measured ≤ 0.34 at d=64, the iid-scale floor) — and y_j = Σᵢ s(i,j)·qᵢ is a pure-BIGINT
      // sum, order-free, so the output needs NO rounding contract at
      // all. Output is exploded scalar rows (vec_id, j, y_micro) — the
      // emb_quantize_int8 shape convention. Scale: per-row higher-order
      // expression (16 nested folds over the once-quantized array), no
      // shuffle. Measured cost ladder at sf0.1: inline hash-per-term
      // 2.07 s → spliced masks 1.48 s → hoisted quantize 1.39 s; the
      // residual is the interpreted-lambda rule (higher-order lambdas
      // never enter codegen — SCALE.md r14), so the next rung, if this
      // key ever dominates a board, is a fused native Expression like
      // functions/SimHash64.
      // The sign matrix is ROW-INVARIANT, so it is evaluated ONCE at
      // plan-build time and spliced as 16×2 bitmask literals (i ≤ 128
      // input dims per word pair) — the event_benford Scala-computed-
      // constants device; the hot per-row fold is then one bit test +
      // multiply-add per (i, j) instead of the 12-op mix. The DuckDB oracle recomputes the MIX
      // itself, so hash equality pins mask ≡ mix; the spec recomputes
      // the mix independently a third time.
      val masks: IndexedSeq[Long] = for (j <- 0 until 16; w <- 0 until 2) yield {
        var m = 0L
        for (b <- 0 until 64) {
          val i = (w * 64 + b + 1).toLong
          val z1 = ((i * 1000003L + j + 1L) * 2654435761L) % 4294967296L
          val z2 = ((z1 ^ (z1 / 65536L)) * 598266013L) % 4294967296L
          if ((z2 / 1048576L) % 2L == 0L) m |= (1L << b)
        }
        m
      }
      // r19 opt: the 16 folds ran as nested higher-order lambdas —
      // interpreted per (dim, output) step, the documented 1.39 s floor
      // — and are now ONE fused codegen'd expression
      // (functions/JlSignProject: same floor(x·1e6+0.5) quantize, same
      // mask-bit sign, same 1-based dim indexing, exact BIGINT sums, a
      // NULL element still poisons all 16 slots, and the >128-dim LOUD
      // width guard moves into the kernel). Measured 1.27 s → 0.72 s
      // solo at sf0.1; hash equality vs the mix-recomputing oracle pins
      // the fusion.
      T.embeddings(s, d)
        .where(col("embedding").isNotNull)
        .select(col("vec_id"),
          posexplode(graft.functions.JlSignProject(col("embedding"), masks, 16))
            .as(Seq("j", "y_micro")))
        .selectExpr("vec_id", "CAST(j AS BIGINT) AS j", "y_micro")
        .orderBy(col("vec_id"), col("j"))
    },

    Q(
      "emb_binary_hamming",
      """WITH b AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(embedding[1:32], x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)),
        |           (a, v) -> a * 2 + v) AS w0,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(embedding[33:64], x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)),
        |           (a, v) -> a * 2 + v) AS w1
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (SELECT w0 AS q0, w1 AS q1 FROM b WHERE vec_id = 0)
        |SELECT vec_id, label,
        |       CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) AS BIGINT) AS hamming
        |FROM b, q
        |ORDER BY hamming, vec_id
        |LIMIT 20""".stripMargin
    ) { (s, d) =>
      // BINARY quantization + Hamming retrieval — the third compression
      // tier next to int8 (emb_quantize_int8) and PQ (emb_pq_quantize),
      // and the one modern vector stores lead with: one SIGN BIT per
      // dimension (64-dim vector → 8 bytes, 32× smaller than float32),
      // candidate generation = XOR + POPCOUNT, the cheapest distance in
      // existence. Codes pack MSB-first into two 32-bit words held in
      // BIGINTs (never one 64-bit word: bit 63 through integer
      // arithmetic would overflow the sign in BOTH engines) via an
      // order-pinned integer fold — exact, partitioning-independent.
      // Plan: map-only encode over the scan, the single query row
      // broadcast-crossed onto the corpus, and the top-k is
      // TakeOrderedAndProject (per-partition heaps + driver merge of K,
      // never a global sort) with (hamming, vec_id) a total order. Only
      // the SQL spelling differs per engine (xor(a,b) vs a ^ b) — the
      // integers are identical.
      val pack = (lo: Int) =>
        s"""aggregate(slice(embedding, $lo, 32),
           |  CAST(0 AS BIGINT),
           |  (a, x) -> a * 2 + IF(x > 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))""".stripMargin
      val b = T.embeddings(s, d).where(col("embedding").isNotNull).select(
        col("vec_id"), col("label").cast("long").as("label"),
        expr(pack(1)).as("w0"), expr(pack(33)).as("w1"))
      // bound: one row (vec_id 0); the planner sizes the filter as the table
      val q = broadcast(b.where(col("vec_id") === 0)
        .select(col("w0").as("q0"), col("w1").as("q1")))
      b.crossJoin(q)
        .select(col("vec_id"), col("label"),
          expr("CAST(bit_count(w0 ^ q0) + bit_count(w1 ^ q1) AS BIGINT)").as("hamming"))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(20)
    },

    // Product-quantization encode: each 64-dim vector becomes PqM=16
    // nibble codes (see pqTrain — 16× smaller than float32, the
    // compression companion of the IVF cell layout). The registered
    // query is the ENCODE pass: a map-only projection (literal-codebook
    // argmins, zero exchange — the corpus is scored in place), exploded
    // to scalar (vec_id, sub, code, dist) rows. Training is iterative
    // fp-argmin → no SQL oracle; PqSpec pins code ranges, coverage,
    // Lloyd monotonicity, re-run determinism, and rerank recall.
    Q.smoke("emb_pq_quantize") { (s, d) =>
      val root = pqIndex(s, d)
      s.read.parquet(s"$root/index")
        .select(col("vec_id"),
          posexplode(expr("zip_with(codes, dists, (c, dd) -> named_struct('cid', c, 'd', dd))"))
            .as(Seq("sub", "a")))
        .select(col("vec_id"), col("sub"),
                col("a.cid").as("code"), round(col("a.d"), 6).as("dist"))
        .orderBy(col("vec_id"), col("sub"))
    },

    // PQ asymmetric-distance (ADC) search with exact rerank — the
    // standard IVF-PQ serving recipe: the query stays FLOAT, the corpus
    // is scored as CODES from the persisted index (distance ≈
    // Σⱼ LUT[j][codeⱼ], the m×k lookup table of exact subspace distances
    // built once per query from codebook METADATA and folded into
    // literal element_at chains — per row that is 16 lookups + 15 adds;
    // the 256 distance folds were paid once at index build, never per
    // query), an ADC-ordered shortlist of 64 candidates survives, and
    // only those 64 pay the exact float distance for the final top-10.
    // Map-only scan + TakeOrderedAndProject twice, no shuffle; at
    // 100 TB codes and floats split into separate column files, so the
    // cheap pass reads the 16×-compressed index and the rerank fetches
    // a CONSTANT 64 rows by id.
    Q.smoke("sim_pq_adc") { (s, d) =>
      val e = T.embeddings(s, d)
      val cb = pqCodebook(e, d)
      val qRow = e.where(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .collect().headOption
      if (cb.isEmpty || qRow.isEmpty)
        // empty corpus or absent query vector: empty result, full schema
        e.where(lit(false)).select(col("vec_id"),
          lit(0.0).as("adc_dist"), lit(0.0).as("exact_dist"))
      else {
        val q = qRow.get.getSeq[Double](0).toArray
        // LUT keyed by cid (map literal), NOT by array position: the
        // codebook's cids are seed-vec_id-derived and may carry gaps
        // (a seed with a null embedding drops out — NullInputSpec caught
        // the positional lookup indexing past the shrunken array)
        val lut: Map[Int, Map[Int, Double]] = cb.map { case (j, cells) =>
          j -> cells.map { case (cid, c) =>
            cid -> c.zipWithIndex.map { case (v, i) => val t = q(j * PqDsub + i) - v; t * t }.sum
          }.toMap
        }
        // the cheap pass scores persisted CODES: 16 literal-map lookups
        // + 15 adds per row (no distance folds — those were paid once at
        // index build). The float column rides the same scan here for
        // the 64-row rerank; a 100 TB deployment splits codes and floats
        // into separate column files and fetches the 64 by id.
        val adc = (0 until PqM).map { j =>
          element_at(typedLit(lut(j)), element_at(col("codes"), j + 1))
        }.reduce(_ + _)
        val exact = aggregate(
          zip_with(expr("transform(embedding, x -> CAST(x AS DOUBLE))"), typedLit(q.toSeq),
                   (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
        s.read.parquet(s"${pqIndex(s, d)}/index")
          .where(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"), round(adc, 6).as("adc_dist"))
          .orderBy(col("adc_dist"), col("vec_id"))
          .limit(64)
          .select(col("vec_id"), col("adc_dist"), round(exact, 6).as("exact_dist"))
          .orderBy(col("exact_dist"), col("vec_id"))
          .limit(10)
      }
    },

    // ZCA whitening — the embedding-infra step between normalization and
    // quantization: decorrelate dimensions so downstream distance/PQ
    // codebooks spend bits evenly (published recipe: Bell & Sejnowski's
    // ZCA; Jégou & Chum use the PCA variant for retrieval). Two-phase
    // shape, both phases bounded by d², never by the corpus: (1) ONE
    // distributed pass accumulates per-partition Gram sums (count, Σx,
    // upper-tri Σxxᵀ — d(d+1)/2 doubles per PARTITION, the
    // RowMatrix.computeGramian shape: a genuine per-partition imperative
    // fold, the documented mapPartitions exception) reduced to a single
    // d²-sized driver matrix; (2) Jacobi eigendecomposition of the d×d
    // covariance ON THE DRIVER (d=64 → microseconds, corpus-independent),
    // W = V·diag(1/√(λ+ε))·Vᵀ re-enters the plan as a LITERAL, and the
    // whitening itself is a map-only projection (per-row d² flops, zero
    // exchange). No oracle: eigenvectors are iteration-order artifacts —
    // Round17bOpsSpec pins the INVARIANT instead (whitened covariance ≈
    // identity on the directions the corpus actually spans).
    // Output shape: (vec_id, whitened: STRING) — 6-dp values joined to
    // one CSV cell per vector. The driver canonicalizes every key's
    // output through a pandas sort, which cannot hash raw array<double>
    // cells (r17 err record); EntrySpec pins the no-float-array contract
    // repo-wide. A posexplode to (vec_id, pos, value) rows was measured
    // first: the 64× generator fan-out costs ~2.6× the whole key
    // (0.72 → 1.49 s at sf0.1) for zero information gain, so the
    // compact row-per-vector string is the kept shape.
    Q.smoke("emb_whitening") { (s, d) =>
      import s.implicits._
      val e = T.embeddings(s, d)
        .where(col("embedding").isNotNull) // null payload: no vector, no row (NullInputSpec)
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("x"))
      val dims = e.select(size(col("x")).as("d")).limit(1).collect()
      if (dims.isEmpty) {
        e.select(col("vec_id"),
                 expr("array_join(transform(x, v -> CAST(v AS STRING)), ',')").as("whitened"))
      } else {
        val dim = dims(0).getInt(0)
        val (n, mu, c) = covariance(e, dim)
        val (lam, vecs) = jacobiEigen(c)
        require(n > 0)
        val eps = 1e-6
        // W = V·diag(1/√(λ+ε))·Vᵀ — symmetric (ZCA stays closest to the
        // original basis among all whitening transforms)
        val w = Array.tabulate(dim, dim) { (i, j) =>
          var acc = 0.0
          var k = 0
          while (k < dim) { acc += vecs(i)(k) * vecs(j)(k) / math.sqrt(lam(k) + eps); k += 1 }
          acc
        }
        val wLit = typedLit(w.map(_.toSeq).toSeq)
        val muLit = typedLit(mu.toSeq)
        val centered = zip_with(col("x"), muLit, (a, b) => a - b)
        e.select(col("vec_id"),
            transform(wLit, row =>
              aggregate(zip_with(row, centered, (a, b) => a * b),
                        lit(0.0), (acc, v) => acc + v)).as("y"))
          .select(col("vec_id"),
                  expr("array_join(transform(y, v -> CAST(round(v, 6) AS STRING)), ',')")
                    .as("whitened"))
          .orderBy(col("vec_id"))
      }
    },

    // PCA truncation — project embeddings onto the top-8 principal
    // directions (the dimensionality-reduction rung before ANN/PQ:
    // Jégou & Chum's PCA step; same published family as emb_whitening,
    // keeping variance instead of equalizing it). Shares the whitening
    // key's two-phase shape: distributed d²-bounded covariance pass →
    // driver Jacobi → top-k eigenvectors (sign-canonicalized: largest-
    // magnitude component made positive, so the output is basis-unique
    // even though eigensolvers return ±v) re-enter as LITERALS; the
    // projection is a map-only k·d-flop dot product, zero exchange. No
    // oracle (eigenbasis from an iterative solver) — Round17bOpsSpec
    // pins component variances ≈ the top eigenvalues, decorrelation,
    // and captured-variance dominance.
    // Output shape: (vec_id, proj: STRING) — same compact CSV-cell
    // driver-canonicalization contract as emb_whitening (EntrySpec-
    // pinned; the measured argument against posexplode lives there).
    Q.smoke("emb_pca_project") { (s, d) =>
      val e = T.embeddings(s, d)
        .where(col("embedding").isNotNull) // null payload: no vector, no row (NullInputSpec)
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("x"))
      val dims = e.select(size(col("x")).as("d")).limit(1).collect()
      if (dims.isEmpty) {
        e.select(col("vec_id"),
                 expr("array_join(transform(x, v -> CAST(v AS STRING)), ',')").as("proj"))
      } else {
        val dim = dims(0).getInt(0)
        val k = math.min(8, dim)
        val (_, mu, c) = covariance(e, dim)
        val (lam, vecs) = jacobiEigen(c)
        val top = (0 until dim).sortBy(i => (-lam(i), i)).take(k)
        val basis = top.map { ix =>
          val v = Array.tabulate(dim)(r => vecs(r)(ix))
          // canonical sign: the largest-|component| entry is positive
          val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
          if (v(m) < 0) v.map(x => -x).toSeq else v.toSeq
        }
        val bLit = typedLit(basis)
        val muLit = typedLit(mu.toSeq)
        val centered = zip_with(col("x"), muLit, (a, b) => a - b)
        e.select(col("vec_id"),
            transform(bLit, row =>
              aggregate(zip_with(row, centered, (a, b) => a * b),
                        lit(0.0), (acc, v) => acc + v)).as("y"))
          .select(col("vec_id"),
                  expr("array_join(transform(y, v -> CAST(round(v, 6) AS STRING)), ',')")
                    .as("proj"))
          .orderBy(col("vec_id"))
      }
    },

    // Frequent Directions (Liberty 2013; Ghashami-Liberty-Phillips-
    // Woodruff 2016) — the MATRIX rung of the sketch ladder (HLL =
    // distinct, CMS = frequency, theta = set algebra, KLL/REQ = rank,
    // FD = spectrum): a mergeable ℓ×d sketch B with the deterministic
    // guarantee 0 ⪯ AᵀA − BᵀB ⪯ ((‖A‖²F − ‖B‖²F)/ℓ)·I, i.e. every
    // eigenvalue of the corpus Gram is bracketed by the sketch
    // eigenvalue and that bound — no randomness, no failure
    // probability. Why it earns a key next to the EXACT d²-bounded
    // covariance fold (emb_whitening/emb_pca_project): the exact fold
    // carries d(d+1)/2 doubles per partition, which dies at modern
    // embedding widths (d = 4096 → 67 MB per partition, d = 10⁵ →
    // impossible); FD carries 2ℓ·d (ℓ = 16, d = 4096 → 1 MB) and is the
    // published answer for streaming/merging spectra at widths where
    // the Gram itself is the bottleneck. Shape: per-partition fdPass
    // (the documented mapPartitions exception — insert rows into a
    // 2ℓ buffer, Jacobi-shrink by σ²ℓ when full; O(ℓ²d + ℓ³) per
    // shrink, every ℓ rows), per-partition buffers collected as
    // metadata (∝ partitions·ℓ·d, never rows), ONE driver merge-shrink
    // (FD is mergeable with the SAME bound — the 2016 paper's theorem),
    // driver Jacobi of the d×d BᵀB for the readout. Output is k-bounded
    // (top-8 spectrum estimates + the per-run certificate bound) and
    // deterministic for a fixed file layout (fixed partition order);
    // no SQL oracle (iterative shrink algebra) — Round19OpsSpec pins
    // the theorem itself: exact λᵢ − bound ≤ estimate ≤ exact λᵢ
    // against an INDEPENDENT max-pivot Jacobi on the exact Gram.
    Q.smoke("emb_freq_directions") { (s, d) =>
      import s.implicits._
      val e = T.embeddings(s, d)
        .where(col("embedding").isNotNull) // null payload: no vector, no row (NullInputSpec)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("x"))
      val dims = e.select(size(col("x")).as("d")).limit(1).collect()
      // ℓ is the accuracy knob and it is SCALE-FREE: the certificate
      // (‖A‖²F−‖B‖²F)/ℓ and every true eigenvalue both grow ∝ rows, so
      // the signal-to-certificate ratio depends only on spectral SHAPE.
      // This fixture is nearly isotropic (λ₀ ≈ 1.85× the mean — ℓ = 16
      // MEASURED a 30.0 certificate over a 14.4 top eigenvalue), so ℓ
      // must sit near d: 48 keeps the certificate under the top
      // eigenvalues while still sketching at 2ℓ·d ≪ the d² Gram the
      // exact fold would carry at real embedding widths. Corpora with
      // genuine spectral decay (the common case) run ℓ ≪ d.
      val sketchL = 48
      if (dims.isEmpty) {
        Seq.empty[(Long, Double, Double)].toDF("rank", "sigma2_est", "err_bound")
      } else {
        val dim = dims(0).getInt(0)
        val parts = e.as[Seq[Double]].mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val (buf, frob) = fdPass(it.map(_.toArray), dim, sketchL)
            Iterator.single((buf.map(_.toSeq).toSeq, frob))
          }
        }.collect()
        val frobA = parts.map(_._2).sum
        val (fin, _) = fdPass(parts.iterator.flatMap(_._1.map(_.toArray)), dim, sketchL)
        val frobB = fin.map(r => r.map(x => x * x).sum).sum
        val bound = (frobA - frobB) / sketchL
        val bt = Array.ofDim[Double](dim, dim)
        fin.foreach { r =>
          var i = 0
          while (i < dim) {
            var j = i
            while (j < dim) { bt(i)(j) += r(i) * r(j); bt(j)(i) = bt(i)(j); j += 1 }
            i += 1
          }
        }
        val (lam, _) = jacobiEigen(bt)
        lam.sorted.reverse.take(8).zipWithIndex.map { case (l2, i) =>
          (i.toLong, math.rint(math.max(l2, 0.0) * 1000) / 1000, math.rint(bound * 1000) / 1000)
        }.toSeq.toDF("rank", "sigma2_est", "err_bound")
      }
    }
  )

  /** One Frequent-Directions pass over a row stream: insert into a
    * 2ℓ-row buffer; when full, shrink — eigendecompose the ℓ-small
    * B·Bᵀ (2ℓ×2ℓ, NEVER d×d inside the fold), subtract δ = σ²ℓ from
    * every σ², rebuild the surviving ≤ ℓ−1 rows as
    * √((λᵢ−δ)/λᵢ)·(UᵀB)ᵢ. Returns (live buffer rows — shrunken core
    * plus unshrunk tail, which only tightens BᵀB toward AᵀA — and the
    * exact Σ‖x‖² folded, for the certificate bound). Used per-partition
    * AND for the driver merge of stacked partition buffers. */
  private[graft] def fdPass(rows: Iterator[Array[Double]], dim: Int,
                            l: Int): (Array[Array[Double]], Double) = {
    val cap = 2 * l
    val buf = Array.ofDim[Double](cap, dim)
    var live = 0
    var frob = 0.0
    def shrink(): Unit = {
      val g = Array.ofDim[Double](live, live)
      var i = 0
      while (i < live) {
        var j = i
        while (j < live) {
          var acc = 0.0; var c = 0
          while (c < dim) { acc += buf(i)(c) * buf(j)(c); c += 1 }
          g(i)(j) = acc; g(j)(i) = acc; j += 1
        }
        i += 1
      }
      val (lam, u) = jacobiEigen(g)
      val ord = (0 until live).sortBy(k => (-lam(k), k))
      val delta = math.max(lam(ord(math.min(l, live) - 1)), 0.0)
      val out = Array.ofDim[Double](cap, dim)
      var w = 0
      for (oi <- 0 until math.min(l, live)) {
        val k = ord(oi)
        val lamK = math.max(lam(k), 0.0)
        if (lamK - delta > 1e-12) {
          val scale = math.sqrt((lamK - delta) / lamK)
          var c = 0
          while (c < dim) {
            var acc = 0.0; var r = 0
            while (r < live) { acc += u(r)(k) * buf(r)(c); r += 1 }
            out(w)(c) = scale * acc; c += 1
          }
          w += 1
        }
      }
      var r = 0
      while (r < w) { Array.copy(out(r), 0, buf(r), 0, dim); r += 1 }
      live = w
    }
    while (rows.hasNext) {
      val x = rows.next()
      if (live == cap) shrink()
      var c = 0
      while (c < dim) { buf(live)(c) = x(c); frob += x(c) * x(c); c += 1 }
      live += 1
    }
    (buf.take(live).map(_.clone()), frob)
  }

  /** Distributed covariance: ONE pass folds per-partition Gram sums
    * (count, Σx, upper-tri Σxxᵀ — d(d+1)/2 doubles per PARTITION, the
    * RowMatrix.computeGramian shape: a genuine per-partition imperative
    * fold, the documented mapPartitions exception) reduced to a single
    * d²-sized driver matrix. Returns (n, mean, population covariance).
    * Input df must expose `x: array<double>` of uniform length `dim`. */
  private def covariance(e: DataFrame, dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val s = e.sparkSession
    import s.implicits._
    val tri = dim * (dim + 1) / 2
    val parts = e.select(col("x")).as[Seq[Double]].mapPartitions { it =>
      var n = 0L
      val sm = new Array[Double](dim)
      val g = new Array[Double](tri)
      while (it.hasNext) {
        val v = it.next()
        n += 1
        var i = 0; var t = 0
        while (i < dim) {
          val vi = v(i); sm(i) += vi
          var j = i
          while (j < dim) { g(t) += vi * v(j); t += 1; j += 1 }
          i += 1
        }
      }
      if (n == 0) Iterator.empty
      else Iterator.single((n, sm.toSeq, g.toSeq))
    }
    val (n, sm, g) = parts.reduce { (a, b) =>
      (a._1 + b._1,
       a._2.zip(b._2).map { case (x, y) => x + y },
       a._3.zip(b._3).map { case (x, y) => x + y })
    }
    val mu = sm.map(_ / n).toArray
    val c = Array.ofDim[Double](dim, dim)
    var t = 0
    for (i <- 0 until dim; j <- i until dim) {
      val v = g(t) / n - mu(i) * mu(j); c(i)(j) = v; c(j)(i) = v; t += 1
    }
    (n, mu, c)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (public
    * textbook algorithm, e.g. Golub & Van Loan §8.5): returns
    * (eigenvalues, eigenvector matrix V with V[:,k] the k-th vector).
    * O(d³) per sweep, driver-side only — the input is the d×d covariance,
    * bounded by the embedding width, never by the corpus. */
  private[operators] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 && sweep < 60) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val tt = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val tSafe = if (theta == 0.0) 1.0 else tt
          val cth = 1.0 / math.sqrt(tSafe * tSafe + 1.0)
          val sth = tSafe * cth
          var k = 0
          while (k < d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = cth * akp - sth * akq
            a(k)(q) = sth * akp + cth * akq
            k += 1
          }
          k = 0
          while (k < d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = cth * apk - sth * aqk
            a(q)(k) = sth * apk + cth * aqk
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = cth * vkp - sth * vkq
            v(k)(q) = sth * vkp + cth * vkq
            k += 1
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
