package graft.operators

import graft.{Q, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** SURVEY.md §2.K — LLM-training-data pipeline operators over
  * `documents` / `embeddings` (BASELINE.json north_star extension surface).
  *
  * Scale stance:
  *  - Exact dedup: hash + window keep-first — one shuffle on the hash.
  *  - Fuzzy dedup: MinHash-LSH — candidates come from band-bucket equality
  *    (a groupBy-join on O(#docs × #bands) tiny rows), NEVER an all-pairs
  *    product; only candidates pay the exact-verify cost. At 100 TB the
  *    all-pairs product is impossible (10^22 pairs); LSH is the whole point.
  *  - Similarity: brute-force cosine top-k as the correctness baseline; the
  *    LSH-bucketed variant (`sim_cosine_lsh`) is the scale path.
  *  - Everything is built from codegen'd builtins + higher-order exprs —
  *    no Scala UDF in any hot loop.
  */
object LlmOps {

  /** Cosine similarity of two float-vector columns: custom Catalyst
    * expression with a fused codegen loop (graft.functions
    * .CosineSimilarity). Accumulates in double, index order — the same
    * operations the zip_with/aggregate formulation performed, so results
    * are bit-identical to it and the measured oracle threshold margins
    * hold.
    */
  def cosine(a: String, b: String): Column =
    graft.functions.CosineSimilarity(col(a), col(b))

  /** Exact half-away-from-zero rounding of the rational p/q (q > 0) in
    * pure BIGINT algebra: sign(p)·((2·|p| + q) div (2·q)). Spliced into
    * BOTH engines with only the integer-division spelling differing
    * (`DIV` in Spark, `//` in DuckDB — identical on the non-negative
    * operands the abs() guarantees), so a score whose exact value sits
    * on a decimal midpoint rounds the SAME way by construction —
    * `text_readability`'s doc-363 ARI (exactly 32.2065625) is the
    * measured case IEEE round(…,6) breaks oppositely across engines. */
  private[operators] def microRoundSql(p: String, q: String, div: String): String =
    s"(CASE WHEN ($p) >= 0 THEN (2 * ($p) + ($q)) $div (2 * ($q)) " +
      s"ELSE -((2 * (-($p)) + ($q)) $div (2 * ($q))) END)"

  /** LSH bits for `sim_cosine_lsh`'s 256-bucket coarse quantizer. One
    * shared definition: the operator builds its join key with it and
    * SmokeOpsSpec recomputes the reachable set with it, so the recall
    * pin can never drift from the production hash family. */
  val LshBits = 8
  def lshBucket(v: Column): Column = graft.functions.SignProjection(v, LshBits)

  /** The shared real-media asset layout + blob scan: one genuine file
    * `<stem>_<doc_id>.<ext>` per doc with `doc_id % 10 == residue`,
    * written executor-side ONCE per (session, dataset) and read back as
    * (doc_id, content) via `binaryFile`. The PNGs feed the image lanes
    * (`multimodal_image_decode`, `multimodal_resize_exec`,
    * `multimodal_phash`), the RIFF/PCM WAVs the audio lanes
    * (`multimodal_audio_decode`, `multimodal_audio_rms`). Every consumer
    * decodes through the JDK codec — the layout is the corpus, not a
    * per-key cache.
    */
  private def mediaBlobs(s: SparkSession, d: String, ext: String, stem: String,
                         residue: Int, make: Long => Array[Byte]): DataFrame = {
    val root = graft.Scratch.layout(s, ext, d) { dir =>
      T.documents(s, d).where(col("doc_id") % 10 === residue).select(col("doc_id"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val id = r.getLong(0)
            java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"${stem}_$id.$ext"), make(id))
          }
        }
    }
    s.read.format("binaryFile").option("pathGlobFilter", s"*.$ext").load(root)
      .select(regexp_extract(col("path"), s"${stem}_(\\d+)\\.$ext", 1).cast("long").as("doc_id"),
              col("content"))
  }
  private def pngBlobs(s: SparkSession, d: String): DataFrame =
    mediaBlobs(s, d, "png", "img", 0, graft.functions.Multimodal.makePng)
  private def wavClips(s: SparkSession, d: String): DataFrame =
    mediaBlobs(s, d, "wav", "clip", 5, graft.functions.Multimodal.makeWav)

  /** Connected components by alternating large-star / small-star edge
    * contraction (the publicly documented connected-components-in-
    * MapReduce technique of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014): each round rewires every edge
    * toward the smallest id seen in its neighbourhood, so label
    * information travels multiple hops per round — a 1000-vertex chain
    * converges in ~O(log n) rounds where the round-8 min-label
    * propagation needed diameter rounds (1000 full-data passes at
    * 100 TB; PropertySpec pins the new bound).
    *
    *  - large-star (per node u): connect every strictly-larger
    *    neighbour to min(N(u) ∪ {u});
    *  - small-star (per node u over its ≤-neighbours): connect u and
    *    every smaller neighbour to that set's minimum.
    *
    * Both steps are one groupBy + one join over the edge set; edges stay
    * directed large→small throughout, and the set only contracts. At
    * fixpoint the edges form stars rooted at each component's minimum
    * id, which is verified structurally below (each src points to
    * exactly one dst, no dst has out-edges) — the loud-failure contract:
    * a broken round can never silently return half-contracted labels.
    * `localCheckpoint` truncates lineage each round (an unchecked loop
    * re-executes the whole prefix every round at 100 TB).
    *
    * `vertices` needs an `id` column; `edges` needs `src`/`dst`
    * (direction irrelevant — canonicalised internally). Returns (labels
    * as (id, lbl), rounds-to-fixpoint — 0 when the size-gated driver
    * union-find arm answered, see the gate below); THROWS past
    * `maxIters`. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIters: Int = 20): (DataFrame, Int) = {
    // canonical directed edge set: src > dst, no self-loops, distinct —
    // both star steps preserve this invariant (they only ever emit
    // (v, m) with m strictly the smaller endpoint)
    var e = edges
      .select(greatest(col("src"), col("dst")).as("src"),
              least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    // each star step computes the per-neighbourhood minimum as a WINDOW
    // min over one hash exchange instead of a groupBy + join-back (two
    // exchanges of the same rows) — on the near-dup graphs this runs over
    // the edge set is tiny, so per-round cost is scheduling-dominated and
    // halving the shuffles per step is the lever that matters
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    def largeStar(ed: DataFrame): DataFrame =
      ed.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(ed.select(col("dst").as("u"), col("src").as("v")))
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    def smallStar(ed: DataFrame): DataFrame = {
      // edges already point large→small: N≤(u) is exactly ed's dst side
      val withMin = ed.select(col("src").as("u"), col("dst").as("v"))
        .withColumn("m", min(col("v")).over(wU))
      withMin.where(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .unionByName(withMin.select(col("u").as("src"), col("m").as("dst")))
        .distinct()
    }
    var it = 0
    var nE = e.count()
    // Size-gated driver fast path (the Gate.bcast pattern applied to
    // compute, same as event_rfm's driver arm): the component
    // structure is fully determined by the EDGE set alone — corpus-shrunk
    // (near-dup pairs, not documents) and already counted for the loop
    // below, so the gate is free. Under the budget, collect the canonical
    // edges, union-find with path compression on the driver (union by
    // min, so roots ARE component minima — the identical label the star
    // contraction converges to), and re-enter the plan as a broadcast
    // label map; vertices outside every edge label themselves through the
    // same coalesce both arms share. Skips ~5 contraction rounds × 4 jobs
    // of pure scheduling at test scale; above the budget (a 100 TB raw-web
    // crawl's near-dup graph CAN exceed any driver heap) the distributed
    // contraction below takes over silently — bit-identical labels,
    // Round15OpsSpec pins the two arms equal on a shared random graph.
    val gateEdges = vertices.sparkSession.conf
      .getOption("spark.sql.graft.ccDriverGateEdges").map(_.toLong).getOrElse(4000000L)
    val longIds = e.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (nE > 0 && nE <= gateEdges && longIds) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      for (row <- e.select(col("src"), col("dst")).toLocalIterator().asScala) {
        val ra = find(row.getLong(0)); val rb = find(row.getLong(1))
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      val entries = parent.keySet().asScala.toSeq.map(k => (k, find(k)))
      val lblMap = vertices.sparkSession.createDataFrame(entries).toDF("id", "root")
      val labels = vertices.select(col("id"))
        .join(lblMap, Seq("id"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("lbl"))
      return (labels, 0)
    }
    var converged = nE == 0
    while (!converged && it < maxIters) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      // both sets are distinct, so equal size + empty one-sided except ⇒
      // equal sets; the count short-circuits the except join on rounds
      // where the edge set is still visibly changing size (a count over
      // a checkpointed set is a metadata-cheap job next to a shuffle)
      val nNext = next.count()
      converged = nNext == nE && next.exceptAll(e).isEmpty
      e = next
      nE = nNext
      it += 1
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxIters rounds — raise " +
        "maxIters explicitly for a pathologically deep graph")
    // structural star check: every non-root points to exactly one root,
    // and no root points anywhere — together with convergence this is
    // the certificate that labels below are complete component minima
    require(e.groupBy(col("src")).agg(countDistinct(col("dst")).as("n"))
        .where(col("n") > 1).isEmpty,
      "connectedComponents: converged edge set is not a star forest (multi-parent)")
    require(e.as("a").join(e.as("b"), col("a.dst") === col("b.src"), "left_semi").isEmpty,
      "connectedComponents: converged edge set is not a star forest (chained roots)")
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"connectedComponents: fixpoint in $it rounds")
    val labels = vertices.select(col("id"))
      .join(e.select(col("src").as("id"), col("dst").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("lbl"))
    (labels, it)
  }

  /** doc_id → sorted distinct xxhash64 longs of char 5-gram shingles,
    * via the FUSED byte-scan expression (functions/HashedGrams.scala) —
    * one primitive loop per doc, hashes computed in place over the
    * text's UTF-8 bytes. Replaces the interpreted
    * `array_distinct(transform(sequence..., substring...))` +
    * `transform(grams, xxhash64)` template chain (higher-order lambdas
    * never enter codegen), bit-identical hash values by construction
    * (HashedGramsSpec pins native ≡ template). Hashing grams at all:
    * candidate joins and intersections run on 8-byte longs instead of
    * variable-length strings (measured ~3× on the verify phase);
    * distinct grams map to distinct hashes up to a 2^-64 per-pair
    * collision — ~1e-8 across this corpus' full candidate set, below
    * the LSH miss probability that already bounds the exactness claim. */
  /** Scale-adaptive parallelism floor (r20, guide §2.5 "input skew: one
    * huge unsplittable file ... repartition immediately after the read"):
    * the doc table ships as ONE small parquet file at test scale, so the
    * scan plans ONE split and the heavy per-row signature kernels below
    * (60-permutation MinHash, shingle hashing) ran serially on a single
    * core — StageProfile showed dedup_incremental spending ~1.5 s in six
    * consecutive 1-task stages with 31 cores idle. Repartition by the
    * deterministic doc_id (never rand — guide §2.5 retry hazard) ONLY
    * when the planned scan parallelism is below the session default: a
    * no-op (no exchange) on any real corpus, whose scans plan orders of
    * magnitude more splits than cores; full-width locally. getNumPartitions
    * only plans the scan — no job runs.
    *
    * Applied to the SHINGLE path only: its consumers run the
    * 60-permutation MinHash per row (interleaved A/B: dedup_incremental
    * and dedup_minhash both −22% solo min). The word-gram path has no
    * heavy per-row kernel downstream — its cost is the exploded
    * joins, which shuffle anyway — and the same widen measured +18% on
    * dedup_ngram_jaccard / +2% on dedup_containment (the extra exchange
    * taxes the pipeline for nothing). Measured, not applied there.
    */
  private def widen(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want, col("doc_id")) else df
  }

  private def hashedShingles(s: SparkSession, d: String): DataFrame =
    widen(T.documents(s, d))
      .select(col("doc_id"), graft.functions.HashedShingles(col("text"), 5).as("grams"))

  /** doc_id → sorted distinct xxhash64 longs of space-tokenized word
    * n-grams (same fused-expression story as [[hashedShingles]]).
    * Docs shorter than n tokens form no full n-gram and are DROPPED
    * (the expression emits an empty array; the filter here) — mirrored
    * by `len(w) >= n` in the oracles (ADVICE r11: the engines otherwise
    * diverge on tiny docs — DuckDB's out-of-bounds w[i+k] made a NULL
    * gram that never joins, while a slice-built short gram CAN match
    * another short doc; neither is the n-gram the operator claims). */
  private def hashedWordGrams(s: SparkSession, d: String, n: Int): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"), graft.functions.HashedWordGrams(col("text"), n).as("grams"))
      .where(size(col("grams")) > 0)

  /** LSH band buckets of a MinHash signature table: one row per
    * (doc_id, band index, band hash), the join key of every banded
    * candidate join (self-join for full-corpus dedup, corpus←new probe
    * for incremental). Band hash = xxhash64 over the band's `rowsN`
    * signature components. */
  private def bandBuckets(sig: DataFrame, bandsN: Int, rowsN: Int): DataFrame = {
    val bandCols = (0 until bandsN).map { b =>
      xxhash64(concat_ws("_",
        (0 until rowsN).map(r => col("sig").getItem(b * rowsN + r).cast("string")): _*)).as(s"band$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until bandsN).map(b => col(s"band$b")): _*)).as(Seq("band_i", "band_h")))
  }

  /** Exact pairwise Jaccard over candidate pairs: attach both (hashed)
    * gram arrays, prune by the size bound J ≤ min/max, then one
    * allocation-free sorted-merge intersection count per surviving pair
    * (IntersectCountSorted). Far cheaper than an explode-join
    * when the candidate set is large (measured 47s → ~4s at sf0.1's 779k
    * LSH candidates; longs instead of strings cut the rest). Integer
    * common/total counts → the ratio is bit-identical to the oracle's.
    * The per-doc gram table is O(#docs): broadcast while it fits the
    * threshold, a shuffle join (one more exchange) at raw-web scale.
    */
  private def jaccardOfPairs(pairs: DataFrame, grams: DataFrame, tau: Double): DataFrame = {
    val ga = grams.select(col("doc_id").as("doc_a"), col("grams").as("ga"), size(col("grams")).as("na"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("grams").as("gb"), size(col("grams")).as("nb"))
    // τ as exact decimal: 0.8 as a binary double is 0.8000…0444, which
    // silently flips ≥-comparisons at exact size ratios (found live: a
    // planted pair with nb = 0.8·na vanished).
    pairs
      .join(ga, "doc_a")
      .join(gb, "doc_b")
      .where(least(col("na"), col("nb")) >= lit(BigDecimal(tau)) * greatest(col("na"), col("nb")))
      // gram arrays are sorted by construction (HashedShingles/
      // HashedWordGrams) → allocation-free merge count, not the
      // per-pair hash set array_intersect builds
      .withColumn("common", graft.functions.IntersectCountSorted(col("ga"), col("gb")))
      .select(col("doc_a"), col("doc_b"),
              (col("common").cast("double") / (col("na") + col("nb") - col("common"))).as("jaccard"))
  }

  // DuckDB exact all-pairs Jaccard (the oracle for both fuzzy-dedup ops —
  // feasible at oracle scale; the Spark side must reach the same answer via
  // LSH candidates + exact verify).
  private def duckJaccardSql(gramSql: String, tau: Double): String =
    s"""WITH g AS (SELECT DISTINCT doc_id, gram FROM ($gramSql)),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS com
       |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, com * 1.0 / (sa.n + sb.n - com) AS jaccard
       |FROM c JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |WHERE com * 1.0 / (sa.n + sb.n - com) >= $tau
       |ORDER BY doc_a, doc_b""".stripMargin

  // Exploded (vec_id, label, i, v) view + norms, shared by the DuckDB
  // cosine oracles.
  private val duckVecs =
    """x AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
      |             generate_subscripts(embedding, 1) AS i FROM embeddings),
      |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM x GROUP BY 1)""".stripMargin

  /** Cosine threshold chosen inside a measured empty band of the corpus'
    * pairwise-cosine distribution (nearest values 0.3569 / 0.3605), so
    * float summation-order noise (~1e-15) cannot flip membership vs the
    * oracle.
    */
  private[graft] val cosTau = 0.358

  val all: Seq[Q] = Seq(
    Q(
      "dedup_exact",
      """SELECT doc_id, n_copies FROM (
        |  SELECT doc_id,
        |         row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn,
        |         count(*) OVER (PARTITION BY md5(lower(trim(text)))) AS n_copies
        |  FROM documents) t
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Keep-first exact dedup by normalized content hash. At 100 TB:
      // prefer xxhash64 + dropDuplicates (map-side partial dedup shrinks
      // the shuffle); md5 + window here because the keep-MIN-doc_id choice
      // must be deterministic for the oracle and md5 is cross-engine.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      T.documents(s, d)
        .withColumn("h", md5(lower(trim(col("text")))))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("h"))))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    },

    Q(
      "dedup_minhash",
      duckJaccardSql(
        """SELECT doc_id, substring(text, i, 5) AS gram
          |FROM documents, unnest(range(1, greatest(length(text) - 3, 2))) AS t(i)""".stripMargin,
        0.8)
    ) { (s, d) =>
      // MinHash-LSH fuzzy dedup: char-5-gram shingles → 60 xxhash64
      // minima → 12 bands × 5 rows → band-bucket self-join → exact-Jaccard
      // verify of candidates only. Band geometry is set by the corpus'
      // MEASURED pair-similarity distribution: it has NO pairs with J in
      // (0.35, 0.93), so r=5 keeps P(miss | J ≥ 0.93) = (1-0.93^5)^12
      // ≈ 6e-7 while cutting J≈0.35 bucket collisions ~3.8× vs r=4
      // (779k → ~200k candidates at sf0.1). At exactly J = τ = 0.8 the
      // miss rate would be ~0.9% — widen to r=4/b=16 (or 32 bands) for a
      // corpus expected to carry mass at the threshold; LSH geometry is
      // always a measured-distribution decision, not a constant.
      //
      // The signature is ONE fused codegen'd scalar expression
      // (functions/MinHashSignature.scala): each doc's distinct gram
      // hashes already sit in a single array cell, so all 60 minima fall
      // out of one map-side O(#grams × 60) primitive loop — no explode,
      // no aggregate, NO shuffle. Rejected formulations, all measured at
      // sf0.1: nested array lambdas fall out of codegen (63s,
      // interpreted); exploding grams × hash-index materializes 64× the
      // gram rows through an aggregate (18.5s); 60 separate
      // min(xxhash64(g, i)) agg columns sit at a janino class-size cliff
      // and dominated the round-3 bench (22.9s).
      // The tiny shared vocabulary still makes band buckets collide for
      // J≈0.35 pairs, so candidates pass a signature-agreement prefilter
      // first: matching components of the two already-computed signatures
      // estimate Ĵ; requiring Ĵ ≥ 1/2 passes a J=0.8 true pair with ~18σ
      // margin while rejecting ~99% of the J≈0.35 bucket noise. Only
      // survivors pay the exact intersection-count verify. Per-doc tables
      // are cached (O(#docs)).
      val (bandsN, rowsN) = (12, 5)
      val k = bandsN * rowsN
      val hg = hashedShingles(s, d).cache()
      val sig = hg
        .select(col("doc_id"), graft.functions.MinHashSignature(col("grams"), k).as("sig"))
        .cache()
      val bands = bandBuckets(sig, bandsN, rowsN)
      val cand = bands.as("a")
        .join(bands.as("b"),
              col("a.band_i") === col("b.band_i") && col("a.band_h") === col("b.band_h") &&
                col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        // per-doc signature table is O(#docs): broadcast while it fits
        // (shuffle join beyond), same stance as
        // jaccardOfPairs' gram attach. Agreement is a codegen'd primitive
        // loop over the two long[] signatures (SignatureAgreement), run
        // once per LSH candidate.
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .where(graft.functions.SignatureAgreement(col("sa"), col("sb")) * 2 >= k)
        .select(col("doc_a"), col("doc_b"))
      jaccardOfPairs(cand, hg, tau = 0.8)
        .where(col("jaccard") >= 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    Q(
      "dedup_incremental",
      """WITH g AS (SELECT DISTINCT doc_id, substring(text, i, 5) AS gram
        |           FROM documents, unnest(range(1, greatest(length(text) - 3, 2))) AS t(i)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |c AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS com
        |      FROM g a JOIN g b ON a.gram = b.gram
        |      WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0 GROUP BY 1, 2),
        |m AS (SELECT DISTINCT db FROM c
        |      JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
        |      WHERE com * 1.0 / (sa.n + sb.n - com) >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT db FROM m)
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Incremental corpus dedup — the production shape of LLM-corpus
      // ingestion (and of the reference's weekly dated snapshots,
      // /root/reference/osm_etl.py:13,45): dedup a NEW batch (stand-in
      // split: doc_id % 5 = 0, 1/5 of the corpus) against the EXISTING
      // corpus WITHOUT re-pairing the corpus with itself. Same LSH
      // geometry as `dedup_minhash` (60-min signature, 12×5 bands —
      // recall properties carry over unchanged); the difference is the
      // candidate join: the new batch's band buckets PROBE the existing
      // corpus' band-bucket table (at 100 TB that table is the persisted
      // index an ingestion pipeline maintains across batches), so
      // candidate count is O(|new| × bucket collisions) and the corpus
      // side never self-joins — re-pairing 100 TB with itself per weekly
      // batch is the anti-pattern this operator exists to avoid.
      // Survivors = new docs with no verified cross-set match ≥ τ,
      // via left_anti (the batch actually admitted to the corpus).
      val isNew = col("doc_id") % 5 === 0
      val (bandsN, rowsN) = (12, 5)
      val k = bandsN * rowsN
      val hg = hashedShingles(s, d).cache()
      val sig = hg
        .select(col("doc_id"), graft.functions.MinHashSignature(col("grams"), k).as("sig"))
        .cache()
      val bands = bandBuckets(sig, bandsN, rowsN)
      // disjoint sides by construction → no doc_id ordering predicate;
      // every candidate is (existing, new) exactly once
      val cand = bands.where(!isNew).as("a")
        .join(bands.where(isNew).as("b"),
              col("a.band_i") === col("b.band_i") && col("a.band_h") === col("b.band_h"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .where(graft.functions.SignatureAgreement(col("sa"), col("sb")) * 2 >= k)
        .select(col("doc_a"), col("doc_b"))
      val dropped = jaccardOfPairs(cand, hg, tau = 0.8)
        .where(col("jaccard") >= 0.8)
        .select(col("doc_b").as("doc_id"))
        .distinct()
      T.documents(s, d).where(isNew).select(col("doc_id"))
        .join(dropped, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    },

    Q(
      "dedup_ngram_jaccard",
      duckJaccardSql(
        """SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
          |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
          |      WHERE len(string_split(text, ' ')) >= 3),
          |     unnest(range(1, len(w) - 1)) AS t(i)""".stripMargin,
        0.8)
    ) { (s, d) =>
      // EXACT word-3-gram Jaccard dedup via prefix filtering (PPJoin
      // family): J ≥ 0.8 with the size bound nb ∈ [0.8·na, na/0.8] forces
      // |A∩B| ≥ 0.8·max(na, nb), so in ANY fixed global gram order the
      // first ⌊0.2·n⌋+1 grams of each doc must share an element — join only
      // those. Ordering grams by ascending global frequency makes the
      // joined posting lists the rarest (shortest) ones: exact result,
      // ~1% of the naive gram-join's intermediate (naive explode-join
      // measured 33s at sf0.1; this runs ~3s).
      val tau = 0.8
      val grams = hashedWordGrams(s, d, 3).cache() // candidate gen + verify
      val exN = grams.select(col("doc_id"), size(col("grams")).as("n"),
                             explode(col("grams")).as("g"))
      val freq = exN.groupBy(col("g")).agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("f"), col("g"))
      // prefix length = n - ceil(τ·n) + 1, in exact decimal arithmetic
      // (double τ rounds the boundary the wrong way — see jaccardOfPairs).
      val prefix = exN.join(freq, "g")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= col("n") - ceil(col("n") * lit(BigDecimal(tau))) + 1)
        .select(col("doc_id"), col("n"), col("g"))
      val cand = prefix.as("a")
        .join(prefix.as("b"),
              col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
                least(col("a.n"), col("b.n")) >= lit(BigDecimal(tau)) * greatest(col("a.n"), col("b.n")))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      jaccardOfPairs(cand, grams, tau)
        .where(col("jaccard") >= tau)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    Q(
      "dedup_containment",
      """WITH g AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |        WHERE len(string_split(text, ' ')) >= 3),
        |       unnest(range(1, len(w) - 1)) AS t(i))),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS com
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, com, sa.n AS n_a, (100 * com) // sa.n AS cont_pct
        |FROM c JOIN sz sa ON doc_a = sa.doc_id
        |WHERE 5 * com >= 4 * sa.n
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) =>
      // EXACT gram-containment detection: C(A,B) = |A∩B|/|A| ≥ 0.8 —
      // the ASYMMETRIC sibling of Jaccard dedup. Jaccard misses the
      // doc-inside-doc case (a quote, a scraped article embedded in a
      // boilerplate page): A ⊂ B with |B| ≫ |A| has low Jaccard but
      // containment 1.0, and training pipelines drop the contained copy.
      // Prefix filter, containment flavor: C ≥ τ needs ≥ ⌈τ·na⌉ of A's
      // grams in B, so in ANY fixed global gram order at least one of
      // A's first na − ⌈τ·na⌉ + 1 grams must hit B (pigeonhole) — only
      // A-prefix × B-full joins, frequency-ordered so the joined posting
      // lists are the rarest. The nb·5 ≥ na·4 prune is implied by
      // |A∩B| ≤ nb. Exact-integer threshold (5·com ≥ 4·na) — no float τ
      // on either engine; verification is one sorted-merge
      // intersection count per surviving candidate over the hashed gram sets.
      val tau = 0.8
      val grams = hashedWordGrams(s, d, 3).cache()
      val exN = grams.select(col("doc_id"), size(col("grams")).as("n"),
                             explode(col("grams")).as("g"))
      val freq = exN.groupBy(col("g")).agg(count(lit(1)).as("f"))
      // r19 A/B (negative result): regrouping the prefix rank to per-doc
      // arrays (groupBy + array_sort + slice, replacing the row_number
      // window's exchange + stream sort) measured 0.74 → 0.90 s solo at
      // sf0.1 — the ObjectHashAggregate collect_list costs more than the
      // window's sort on this stream. The window shape stands.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("f"), col("g"))
      val prefix = exN.join(freq, "g")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= col("n") - ceil(col("n") * lit(BigDecimal(tau))) + 1)
        .select(col("doc_id").as("doc_a"), col("n").as("na_"), col("g"))
      val cand = prefix
        .join(exN.select(col("doc_id").as("doc_b"), col("n").as("nb_"), col("g")), Seq("g"))
        .where(col("doc_a") =!= col("doc_b") && col("nb_") * 5 >= col("na_") * 4)
        .select(col("doc_a"), col("doc_b")).distinct()
      val ga = grams.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
                            size(col("grams")).cast("long").as("n_a"))
      val gb = grams.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
      cand.join(ga, "doc_a").join(gb, "doc_b")
        .withColumn("com", graft.functions.IntersectCountSorted(col("ga"), col("gb")).cast("long"))
        .where(col("com") * 5 >= col("n_a") * 4)
        .select(col("doc_a"), col("doc_b"), col("com"), col("n_a"),
                expr("(100 * com) DIV n_a").as("cont_pct"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // SimHash near-dup: 64-bit signature from FREQUENCY-WEIGHTED token
    // hashes (weighting measured essential on this corpus: the shared tiny
    // vocabulary makes distinct-token simhash collapse — planted-pair mean
    // hamming 2.9 / random-pair min 6 weighted, vs 5.1 / 0 unweighted).
    // Candidates via 8-bit chunk equality (pigeonhole: hamming ≤ 7 ⇒ some
    // chunk equal), verified by bit_count(xor) ≤ 4 — below the measured
    // random-pair floor, so precision is 1.0 here. xxhash64-based → no
    // DuckDB oracle; SmokeOpsSpec asserts concentration + precision.
    Q(
      "dedup_simhash",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        |  WHERE text IS NOT NULL),
        |ph AS (
        |  SELECT doc_id,
        |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(t) + 1), i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
        |           (acc, c) -> (acc * 131 + c) % 1000000007) AS UBIGINT) AS x
        |  FROM tok),
        |m0 AS (SELECT doc_id, CAST((CAST(x AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM ph),
        |m1 AS (SELECT doc_id, CAST((CAST(xor(z, z >> 30) & 4294967295 AS HUGEINT) * 13787848793156543929
        |         + ((CAST(xor(z, z >> 30) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296)
        |         % 18446744073709551616 AS UBIGINT) AS z FROM m0),
        |m2 AS (SELECT doc_id, CAST((CAST(xor(z, z >> 27) & 4294967295 AS HUGEINT) * 10723151780598845931
        |         + ((CAST(xor(z, z >> 27) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296)
        |         % 18446744073709551616 AS UBIGINT) AS z FROM m1),
        |mx AS (SELECT doc_id, xor(z, z >> 31) AS h FROM m2),
        |bits AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM mx CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS INT) AS b)
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN v >= 0 THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT)
        |                       ELSE CAST(0 AS HUGEINT) END) AS UBIGINT) AS sig
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 4
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, d) =>
      // ORACLED since r19: the per-token hash is mix64(poly(token)) —
      // plain mod-2^64 integer algebra both engines spell exactly (see
      // functions/SimHash64.scala) — so the DuckDB side recomputes the
      // FULL signature per doc (majority vote over 64 bits) and
      // brute-forces the <=4-hamming pair set; the engine's pigeonhole
      // blocking must reproduce it exactly, which is precisely the
      // blocked-equals-brute-force guarantee PropertySpec pins.
      // The 64-bit signature is ONE fused map-side expression
      // (functions/SimHash64.scala) over the doc's own token array — no
      // explode, no 64-column aggregate, no shuffle (same escape from
      // the janino-class-size cliff as MinHashSignature; bit-identical
      // values, so the measured hamming margins above are unchanged).
      val sig = T.documents(s, d)
        .where(col("text").isNotNull)
        .select(col("doc_id"),
                graft.functions.SimHash64(split(col("text"), " ")).as("simhash"))
      // pigeonhole: hamming ≤ 4 guarantees ≥1 untouched chunk as soon as
      // there are ≥5 chunks — so use 5 WIDE chunks (13,13,13,13,12 bits)
      // instead of 8 narrow ones: 8192-value buckets cut the candidate
      // expansion ~250× vs 256-value buckets (measured 6.3M → ~25k joined
      // rows at sf0.1, 1.9 → 0.6 s) with the exact same guarantee; the
      // verify filter below is unchanged, so the result is still ≡ brute
      // force (PropertySpec pins that equivalence).
      val chunks = sig.select(col("doc_id"), col("simhash"),
        posexplode(expr(
          """array(shiftright(simhash, 0)  & 8191,
            |      shiftright(simhash, 13) & 8191,
            |      shiftright(simhash, 26) & 8191,
            |      shiftright(simhash, 39) & 8191,
            |      shiftright(simhash, 52) & 4095)""".stripMargin))
          .as(Seq("chunk_i", "chunk_v")))
      chunks.as("a")
        .join(chunks.as("b"),
              col("a.chunk_i") === col("b.chunk_i") && col("a.chunk_v") === col("b.chunk_v") &&
                col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
                bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
        .distinct()
        .where(col("hamming") <= 4)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    Q(
      "dedup_embedding",
      s"""WITH $duckVecs,
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.v * b.v) AS dot
         |      FROM x a JOIN x b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
         |      GROUP BY 1, 2)
         |SELECT e.vec_id FROM embeddings e
         |WHERE e.vec_id NOT IN (
         |  SELECT vb FROM p JOIN nrm na ON va = na.vec_id JOIN nrm nb ON vb = nb.vec_id
         |  WHERE dot / (na.n * nb.n) >= $cosTau)
         |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      // Embedding-cosine near-dup dedup: blocked (label) pairwise cosine,
      // drop the higher vec_id of every pair ≥ τ. label is the blocking
      // key standing in for an LSH/IVF bucket at scale.
      val e = T.embeddings(s, d)
      val pairs = e.select(col("vec_id").as("va"), col("label"), col("embedding").as("ea"))
        .join(e.select(col("vec_id").as("vb"), col("label"), col("embedding").as("eb")), Seq("label"))
        .where(col("va") < col("vb"))
        .where(cosine("ea", "eb") >= cosTau)
        .select(col("vb"))
        .distinct()
      e.join(pairs, e("vec_id") === pairs("vb"), "left_anti")
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },

    Q(
      "dedup_clusters",
      s"""WITH RECURSIVE $duckVecs,
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.v * b.v) AS dot
         |      FROM x a JOIN x b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
         |      GROUP BY 1, 2),
         |pe AS (SELECT va, vb FROM p JOIN nrm na ON va = na.vec_id JOIN nrm nb ON vb = nb.vec_id
         |       WHERE dot / (na.n * nb.n) >= $cosTau),
         |e AS (SELECT va AS src, vb AS dst FROM pe UNION ALL SELECT vb, va FROM pe),
         |reach AS (
         |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
         |SELECT src AS vec_id, min(dst) AS cluster_id
         |FROM reach GROUP BY src
         |ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      // Connected components over the near-dup pair graph — the step that
      // turns pairwise matches into dedup groups with a canonical (min id)
      // representative. Delegates to [[connectedComponents]] (large-star/
      // small-star contraction: O(log n) rounds, star-forest-certified at
      // fixpoint, loud failure past budget; PropertySpec pins ≤15 rounds
      // on a 1000-node chain where min-label propagation needed 1000).
      val e = T.embeddings(s, d)
      val p = e.select(col("vec_id").as("va"), col("label"), col("embedding").as("ea"))
        .join(e.select(col("vec_id").as("vb"), col("label"), col("embedding").as("eb")), Seq("label"))
        .where(col("va") < col("vb") && cosine("ea", "eb") >= cosTau)
        .select(col("va"), col("vb"))
      val edges = p.unionByName(p.select(col("vb").as("va"), col("va").as("vb")))
        .toDF("src", "dst").cache()
      val (labels, _) = connectedComponents(e.select(col("vec_id").as("id")), edges)
      edges.unpersist()
      labels.select(col("id").as("vec_id"), col("lbl").as("cluster_id")).orderBy(col("vec_id"))
    },

    Q(
      "split_leakage_safe",
      s"""WITH RECURSIVE $duckVecs,
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.v * b.v) AS dot
         |      FROM x a JOIN x b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
         |      GROUP BY 1, 2),
         |pe AS (SELECT va, vb FROM p JOIN nrm na ON va = na.vec_id JOIN nrm nb ON vb = nb.vec_id
         |       WHERE dot / (na.n * nb.n) >= $cosTau),
         |e AS (SELECT va AS src, vb AS dst FROM pe UNION ALL SELECT vb, va FROM pe),
         |reach AS (
         |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         |c AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT vec_id, cluster_id,
         |       CASE WHEN md5(CAST(cluster_id AS VARCHAR)) < 'e6' THEN 'train'
         |            WHEN md5(CAST(cluster_id AS VARCHAR)) < 'f3' THEN 'val'
         |            ELSE 'test' END AS split
         |FROM c ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      // LEAKAGE-SAFE train/val/test split — the curation step naive
      // random splits get wrong: if near-duplicates straddle train and
      // test, the eval set leaks into training (the contamination the
      // text_contamination keys screen AFTER the fact; this prevents it
      // BY CONSTRUCTION). The split key is the near-dup CLUSTER
      // representative (dedup_clusters' min-id component label), not
      // the document: every member of a cluster hashes to the same
      // split, so no ≥ τ pair can ever cross the boundary. The hash is
      // a cross-engine-identical md5-prefix compare ('e6'/'f3' hex
      // string thresholds ≈ 90/5/5): deterministic under re-runs,
      // repartitioning, and engine choice — rand() would re-deal the
      // corpus every rebuild. Scale shape: the component step is the
      // O(log n)-round star contraction dedup_clusters pins; the split
      // itself is a map-only projection on its output.
      val e = T.embeddings(s, d)
      val p = e.select(col("vec_id").as("va"), col("label"), col("embedding").as("ea"))
        .join(e.select(col("vec_id").as("vb"), col("label"), col("embedding").as("eb")), Seq("label"))
        .where(col("va") < col("vb") && cosine("ea", "eb") >= cosTau)
        .select(col("va"), col("vb"))
      val edges = p.unionByName(p.select(col("vb").as("va"), col("va").as("vb")))
        .toDF("src", "dst").cache()
      val (labels, _) = connectedComponents(e.select(col("vec_id").as("id")), edges)
      edges.unpersist()
      val h = md5(col("cluster_id").cast("string"))
      labels.select(col("id").as("vec_id"), col("lbl").as("cluster_id"))
        .withColumn("split",
          when(h < "e6", "train").when(h < "f3", "val").otherwise("test"))
        .orderBy(col("vec_id"))
    },

    Q(
      "dedup_soft_weight",
      s"""WITH RECURSIVE $duckVecs,
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.v * b.v) AS dot
         |      FROM x a JOIN x b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
         |      GROUP BY 1, 2),
         |pe AS (SELECT va, vb FROM p JOIN nrm na ON va = na.vec_id JOIN nrm nb ON vb = nb.vec_id
         |       WHERE dot / (na.n * nb.n) >= $cosTau),
         |e AS (SELECT va AS src, vb AS dst FROM pe UNION ALL SELECT vb, va FROM pe),
         |reach AS (
         |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         |c AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT cluster_id AS vec_id, CAST(count(*) AS BIGINT) AS weight
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      // SOFT dedup — keep one representative per near-dup cluster and
      // carry the cluster SIZE as a sample weight, instead of silently
      // discarding the duplicates' evidence of importance: a document
      // crawled 40 times is worth more than one crawled once, and
      // hard-dropping flattens exactly that signal (the re-weighting
      // recipe loss-weighted training pipelines use; dedup_exact /
      // dedup_clusters are the hard-drop variants). Representative = the
      // component MINIMUM id — dedup_clusters' canonical label, so
      // weights join back to any of its outputs by construction. Scale
      // shape: the component step is the size-gated/star-contraction
      // [[connectedComponents]]; the weighting is one count per label.
      val e = T.embeddings(s, d)
      val p = e.select(col("vec_id").as("va"), col("label"), col("embedding").as("ea"))
        .join(e.select(col("vec_id").as("vb"), col("label"), col("embedding").as("eb")), Seq("label"))
        .where(col("va") < col("vb") && cosine("ea", "eb") >= cosTau)
        .select(col("va"), col("vb"))
      val edges = p.unionByName(p.select(col("vb").as("va"), col("va").as("vb")))
        .toDF("src", "dst").cache()
      val (labels, _) = connectedComponents(e.select(col("vec_id").as("id")), edges)
      edges.unpersist()
      labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("weight"))
        .select(col("lbl").as("vec_id"), col("weight"))
        .orderBy(col("vec_id"))
    },

    Q(
      "sim_mips_topk",
      s"""WITH $duckVecs,
         |q AS (SELECT i, v AS qv FROM x WHERE vec_id = 0)
         |SELECT x.vec_id, round(sum(x.v * q.qv), 6) AS dot
         |FROM x JOIN q ON x.i = q.i
         |WHERE x.vec_id <> 0 GROUP BY 1
         |ORDER BY dot DESC, vec_id
         |LIMIT 10""".stripMargin
    ) { (s, d) =>
      // Maximum-inner-product top-k — cosine's unnormalized sibling, the
      // retrieval scoring recommenders and popularity-weighted rankers
      // use (vector MAGNITUDE is signal; normalizing erases it, and MIPS
      // famously is NOT nearest-neighbor search under any metric, which
      // is why it gets its own key rather than riding sim_cosine_topk).
      // Same scale shape as the cosine baseline: broadcast query vector,
      // one corpus pass through the fused dot-product loop
      // (functions.DotProduct — index-order double accumulation, bit-
      // identical to the oracle's ordered sum), TakeOrderedAndProject
      // keeps k per partition; ranking compares the 6-dp-rounded dot
      // with vec_id tie-break so last-ulp noise can never reorder.
      val e = T.embeddings(s, d)
      // bound: one row (vec_id 0); the planner sizes the filter as the table
      val q = broadcast(e.where(col("vec_id") === 0).select(col("embedding").as("qe")))
      e.where(col("vec_id") =!= 0)
        .crossJoin(q)
        .select(col("vec_id"),
                round(graft.functions.DotProduct(col("embedding"), col("qe")), 6).as("dot"))
        .orderBy(col("dot").desc, col("vec_id"))
        .limit(10)
    },

    Q(
      "sim_cosine_topk",
      s"""WITH $duckVecs,
         |q AS (SELECT i, v AS qv FROM x WHERE vec_id = 0),
         |s AS (SELECT x.vec_id, sum(x.v * q.qv) AS dot, min(nrm.n) AS nx
         |      FROM x JOIN q ON x.i = q.i JOIN nrm ON x.vec_id = nrm.vec_id
         |      WHERE x.vec_id <> 0 GROUP BY 1),
         |nq AS (SELECT sqrt(sum(qv * qv)) AS n FROM q)
         |SELECT vec_id, round(dot / (nx * (SELECT n FROM nq)), 6) AS cosine
         |FROM s
         |ORDER BY cosine DESC, vec_id
         |LIMIT 10""".stripMargin
    ) { (s, d) =>
      // Brute-force cosine top-k: broadcast the query vector, one pass over
      // the corpus, TakeOrderedAndProject keeps k per partition — the
      // correctness baseline every ANN variant is judged against.
      val e = T.embeddings(s, d)
      // bound: one row (vec_id 0); the planner sizes the filter as the table
      val q = broadcast(e.where(col("vec_id") === 0).select(col("embedding").as("qe")))
      e.where(col("vec_id") =!= 0)
        .crossJoin(q)
        .select(col("vec_id"), round(cosine("embedding", "qe"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    Q(
      "sim_ndcg_eval",
      s"""WITH $duckVecs,
         |qs AS (SELECT vec_id AS qid, label AS qlabel FROM embeddings
         |       WHERE vec_id % 100 = 0 AND embedding IS NOT NULL),
         |dots AS (SELECT q.qid, q.qlabel, x.vec_id,
         |                sum(x.v * xq.v) AS dot, min(nrm.n) AS nx
         |         FROM qs q
         |         JOIN x xq ON xq.vec_id = q.qid
         |         JOIN x ON x.i = xq.i AND x.vec_id <> q.qid
         |         JOIN nrm ON nrm.vec_id = x.vec_id
         |         GROUP BY 1, 2, 3),
         |qn AS (SELECT vec_id AS qid, n AS nq FROM nrm),
         |ranked AS (
         |  SELECT d.qid, d.qlabel, d.vec_id,
         |         row_number() OVER (PARTITION BY d.qid
         |           ORDER BY round(d.dot / (d.nx * qn.nq), 6) DESC, d.vec_id) AS rk
         |  FROM dots d JOIN qn ON qn.qid = d.qid),
         |rel AS (SELECT r.qid, r.rk,
         |               CASE WHEN e.label = r.qlabel THEN 1 ELSE 0 END AS rel
         |        FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
         |        WHERE r.rk <= 10),
         |w(rk, wt, cum) AS (VALUES (1,1000000,1000000),(2,630930,1630930),(3,500000,2130930),
         |  (4,430677,2561607),(5,386853,2948460),(6,356207,3304667),(7,333333,3638000),
         |  (8,315465,3953465),(9,301030,4254495),(10,289065,4543560)),
         |dcg AS (SELECT qid, CAST(sum(rel * w.wt) AS BIGINT) AS dcg_micro
         |        FROM rel JOIN w ON w.rk = rel.rk GROUP BY 1),
         |nrel AS (SELECT q.qid, CAST(count(*) AS BIGINT) AS n_rel
         |         FROM qs q JOIN embeddings e
         |           ON e.label = q.qlabel AND e.vec_id <> q.qid
         |         WHERE e.embedding IS NOT NULL
         |         GROUP BY 1)
         |SELECT d.qid AS query_id, nrel.n_rel, d.dcg_micro,
         |       CAST(${microRoundSql("1000000 * d.dcg_micro", "(SELECT cum FROM w WHERE rk = least(nrel.n_rel, 10))", "//")} AS DOUBLE) / 1000000 AS ndcg
         |FROM dcg d JOIN nrel ON nrel.qid = d.qid
         |WHERE nrel.n_rel > 0
         |ORDER BY query_id""".stripMargin
    ) { (s, d) =>
      // NDCG@10 retrieval evaluation (Järvelin & Kekäläinen 2002) — the
      // EVALUATION rung the similarity family was missing: the ANN keys
      // RETRIEVE, the recall curves in SCALE.md grade them offline, and
      // this key makes the grading itself a first-class corpus operator
      // (label purity of cosine neighborhoods, the metric a retrieval
      // pipeline monitors per snapshot). One query per 100 vectors;
      // brute-force cosine ranking (round-6 DESC, vec_id tie-break —
      // the sim_cosine_topk determinism contract) against binary
      // same-label relevance. EXACT integer DCG: the ten 1/log₂(i+1)
      // gains are Scala-computed micro-literals spliced into BOTH
      // engines (the event_benford device), so DCG and the ideal DCG
      // (cumulative-weight table indexed at min(n_rel, 10)) are pure
      // BIGINTs and NDCG is one micro-rounded rational. Scale shape:
      // queries broadcast (corpus-fraction-sized), one pass over the
      // corpus computes every query's dot products map-side, one
      // |Q|-partitioned rank window on the ≤|Q|·N score table; at real
      // scale the candidate generator swaps to the persisted-IVF path
      // and this key grades THAT — the eval is generator-agnostic.
      val dcgW = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
                     356207L, 333333L, 315465L, 301030L, 289065L)
      val cumW = dcgW.scanLeft(0L)(_ + _).tail
      val wCase = (1 to 10).map(i => s"WHEN rk = $i THEN ${dcgW(i - 1)}L").mkString(" ")
      val cumCase = (1 to 10).map(i => s"WHEN least(n_rel, 10) = $i THEN ${cumW(i - 1)}L").mkString(" ")
      // degraded rule (measured: the null lane caught the asymmetry): a
      // vector with no embedding is not rankable and a query with no
      // embedding defines no ranking — both filters EXPLICIT in both
      // engines (DuckDB's unnest silently drops them; Spark must match).
      val e = T.embeddings(s, d).where(col("embedding").isNotNull)
      // bound: every 100th vector (1% of the table), the eval query set
      val qs = broadcast(e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("embedding").as("qe")))
      val ranked = e.crossJoin(qs).where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
                round(cosine("embedding", "qe"), 6).as("cos"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .where(col("rk") <= 10)
      val dcg = ranked
        .select(col("qid"),
                (when(col("label") === col("qlabel"), 1L).otherwise(0L) *
                 expr(s"CASE $wCase ELSE 0L END")).as("g"))
        .groupBy(col("qid")).agg(sum(col("g")).cast("long").as("dcg_micro"))
      val nrel = e.select(col("label"), col("vec_id")).as("e")
        .join(qs, col("e.label") === col("qlabel") && col("e.vec_id") =!= col("qid"))
        .groupBy(col("qid")).agg(count(lit(1)).cast("long").as("n_rel"))
      dcg.join(nrel, "qid").where(col("n_rel") > 0)
        .withColumn("icum", expr(s"CASE $cumCase ELSE 0L END"))
        .selectExpr("qid AS query_id", "n_rel", "dcg_micro",
          s"CAST(${microRoundSql("1000000 * dcg_micro", "icum", "DIV")} AS DOUBLE) / 1000000 AS ndcg")
        .orderBy(col("query_id"))
    },

    Q(
      "sim_pairwise_threshold",
      s"""WITH $duckVecs,
         |p AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot
         |      FROM x a JOIN x b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
         |      GROUP BY 1, 2, 3)
         |SELECT label, vec_a, vec_b,
         |       round(dot / (na.n * nb.n), 6) AS cosine
         |FROM p JOIN nrm na ON vec_a = na.vec_id JOIN nrm nb ON vec_b = nb.vec_id
         |WHERE dot / (na.n * nb.n) >= $cosTau
         |ORDER BY vec_a, vec_b""".stripMargin
    ) { (s, d) =>
      // All-pairs ≥ τ, blocked: the self-join runs inside label blocks
      // only — O(Σ block²·d), never corpus². At scale the blocking key is
      // an LSH bucket; label plays that role in the fixture.
      val e = T.embeddings(s, d)
      e.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
        .join(e.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("label"))
        .where(col("vec_a") < col("vec_b"))
        .withColumn("cosine", round(cosine("ea", "eb"), 6))
        .where(cosine("ea", "eb") >= cosTau)
        .select(col("label"), col("vec_a"), col("vec_b"), col("cosine"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    Q(
      "sim_knn_graph",
      s"""WITH $duckVecs,
         |p AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot
         |      FROM x a JOIN x b ON a.i = b.i AND a.label = b.label AND a.vec_id <> b.vec_id
         |      GROUP BY 1, 2, 3),
         |sc AS (SELECT label, vec_a, vec_b, round(dot / (na.n * nb.n), 6) AS cosine
         |       FROM p JOIN nrm na ON vec_a = na.vec_id JOIN nrm nb ON vec_b = nb.vec_id),
         |r AS (SELECT label, vec_a, vec_b, cosine,
         |             row_number() OVER (PARTITION BY vec_a
         |                                ORDER BY cosine DESC, vec_b) AS rank
         |      FROM sc)
         |SELECT vec_a, CAST(rank AS BIGINT) AS rank, vec_b, cosine
         |FROM r WHERE rank <= 3
         |ORDER BY vec_a, rank""".stripMargin
    ) { (s, d) =>
      // k-nearest-neighbor GRAPH: top-k (k=3) cosine neighbors for EVERY
      // vector — the input SemDeDup-style semantic dedup and
      // graph-clustering curation passes consume (where `sim_cosine_topk`
      // answers one query, this materializes the whole graph). Blocked
      // like `sim_pairwise_threshold`: the self-join runs inside label
      // blocks (the fixture's stand-in for an LSH/IVF bucketing at
      // 100 TB), so cost is O(Σ block²·d), never corpus², and the per-
      // vector top-k collapses in the same shuffle as the window. Ranking
      // compares the 6-dp-ROUNDED cosine (the resolution the oracle hash
      // already proves cross-engine-stable) with vec_id tie-break — raw
      // last-ulp float noise can never reorder ranks. Scale path for the
      // window: per-partition partial top-k (topk_per_group's shape).
      // no embedding, no node — the oracle's unnest drops them implicitly
      val e = T.embeddings(s, d).where(col("embedding").isNotNull)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_a")).orderBy(col("cosine").desc, col("vec_b"))
      e.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
        .join(e.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("label"))
        .where(col("vec_a") =!= col("vec_b"))
        .withColumn("cosine", round(cosine("ea", "eb"), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("vec_a"), col("rank").cast("long").as("rank"), col("vec_b"), col("cosine"))
        .orderBy(col("vec_a"), col("rank"))
    },

    // Graph-ANN SEARCH — the query-time layer of the DiskANN/HNSW
    // family, completing the retrieval rungs (brute → LSH → IVF → PQ →
    // graph): greedy BEAM SEARCH over the kNN graph the session already
    // materializes (sim_knn_graph's label-blocked k=3 edges), made
    // navigable across blocks by the LONG-EDGE layer hierarchical
    // methods add — each block's min-id representative links to the
    // global entry node (bounded: one edge per block). The query is a
    // deterministic out-of-corpus vector (the mean of vec 0 and vec 1).
    // Execution shape is the honest distributed one: the searcher is a
    // DRIVER loop (beam search is inherently sequential) whose state is
    // O(beam + visited) ids, while every expansion is a broadcast probe
    // into the DISTRIBUTED edge/embedding store — per round one tiny
    // neighbor join + one cosine scoring job, edges localCheckpoint'd
    // once so rounds never re-derive the graph (the bfsConverged
    // lesson). Budget: 12 rounds, loud overrun. Returns the top-10
    // visited by exact cosine; no oracle (approximate, driver-loop) —
    // Round17OpsSpec pins recall@10 vs the brute-force truth and beam
    // monotonicity.
    Q.smoke("sim_graph_search") { (s, d) =>
      import s.implicits._
      val e = T.embeddings(s, d)
      // empty-corpus guard FIRST (EmptyInputSpec contract): no vectors →
      // an empty result with the production schema — the index build
      // itself collects an entry id and must not run on nothing
      val entryRow = e.agg(min(col("vec_id"))).collect()(0)
      if (entryRow.isNullAt(0)) {
        Seq.empty[(Long, Double)].toDF("vec_id", "score")
          .withColumn("n_visited", lit(0L)).withColumn("n_rounds", lit(0L))
      } else {
      // The graph is an INDEX: built once per (session, dataset) into a
      // Scratch layout, so queries pay index READS, never graph
      // construction (the steady-state bench then measures the serving
      // cost, exactly as a deployed graph-ANN would). Edges = sim_knn_graph's label-blocked k=3 derivation +
      // the long-edge star from each block's min-id representative to
      // the global entry (bounded: one edge per block) for cross-block
      // navigability.
      val idxRoot = graft.Scratch.layout(s, "knngraph", d) { dir =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_a")).orderBy(col("cosine").desc, col("vec_b"))
        val knn = e.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
          .join(e.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("label"))
          .where(col("vec_a") =!= col("vec_b"))
          .withColumn("cosine", round(cosine("ea", "eb"), 6))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("vec_a").as("src"), col("vec_b").as("dst"))
        val entry0 = e.agg(min(col("vec_id"))).collect()(0).getLong(0)
        val reps = e.groupBy(col("label")).agg(min(col("vec_id")).as("rep"))
          .select(col("rep")).where(col("rep") =!= entry0)
        val star = reps.select(lit(entry0).as("src"), col("rep").as("dst"))
        knn.unionByName(star)
          .unionByName(star.select(col("dst").as("src"), col("src").as("dst")))
          .write.mode("overwrite").parquet(s"$dir/edges")
      }
      // the serving adjacency pins in executor memory for the query's
      // duration (a deployed graph-ANN holds it resident; Caches.drain
      // releases it between sweeps)
      val edges = graft.Caches.register(s.read.parquet(s"$idxRoot/edges").persist())
      val entry = entryRow.getLong(0)
      // deterministic out-of-corpus query: mean of vec 0 and vec 1
      val qVec = e.where(col("vec_id").isin(0L, 1L)).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      require(qVec.length == 2, "sim_graph_search: query seed vectors missing")
      val qArr = qVec(0).zip(qVec(1)).map { case (a, b) => (a + b) / 2.0f }
      val qDf = Seq(Tuple1(qArr)).toDF("q")
      // candidates score ON DEMAND against the distributed embedding
      // store — the searcher never brute-forces the corpus
      def scoreOf(ids: Seq[Long]): Array[(Long, Double)] =
        e.join(ids.toDF("vec_id"), Seq("vec_id"))
          .crossJoin(qDf)
          .select(col("vec_id"), round(cosine("embedding", "q"), 6).as("score"))
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val B = s.conf.get("spark.sql.graft.ann.beam", "8").toInt // RecallReport sweeps this
      var visited = scoreOf(Seq(entry)).toMap
      var expanded = Set.empty[Long]
      var rounds = 0
      var frontier = Seq(entry) // beam members not yet expanded
      while (frontier.nonEmpty) {
        rounds += 1
        require(rounds <= 24,
          s"sim_graph_search: beam not converged after 24 rounds (visited ${visited.size})")
        // one action per round: neighbor expansion, visited anti-join,
        // embedding lookup, and scoring fused into a single tiny job
        val cand = edges.join(frontier.toDF("src"), Seq("src"))
          .select(col("dst").as("vec_id")).distinct()
          .join((visited.keys.toSeq :+ -1L).toDF("vec_id"), Seq("vec_id"), "left_anti")
          .join(e, Seq("vec_id"))
          .crossJoin(qDf)
          .select(col("vec_id"), round(cosine("embedding", "q"), 6).as("score"))
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        expanded ++= frontier
        visited ++= cand
        // greedy beam: only the CURRENT top-B's unexpanded members expand
        // next — convergence = every beam member already expanded
        val beam = visited.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(B).map(_._1)
        frontier = beam.filterNot(expanded.contains)
      }
      visited.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10)
        .toDF("vec_id", "score")
        .withColumn("n_visited", lit(visited.size.toLong))
        .withColumn("n_rounds", lit(rounds.toLong))
      }
    },

    Q(
      "dedup_semantic",
      s"""WITH $duckVecs,
         |p AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot
         |      FROM x a JOIN x b ON a.i = b.i AND a.label = b.label AND b.vec_id < a.vec_id
         |      GROUP BY 1, 2, 3),
         |d AS (SELECT vec_a AS vec_id, round(max(dot / (na.n * nb.n)), 6) AS dup_cos
         |      FROM p JOIN nrm na ON vec_a = na.vec_id JOIN nrm nb ON vec_b = nb.vec_id
         |      WHERE dot / (na.n * nb.n) >= $cosTau
         |      GROUP BY 1)
         |SELECT e.vec_id, e.label, d.vec_id IS NULL AS kept, d.dup_cos
         |FROM embeddings e LEFT JOIN d USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin
    ) { (s, d) =>
      // SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): where MinHash
      // catches lexical copies, this drops embedding-space near-clones
      // (same content re-phrased / re-templated). Rule: a vector is
      // dropped iff some LOWER-id vector in its block sits at cosine ≥ τ
      // — the deterministic one-hop keep-lowest-id cut of the τ-graph
      // (the transitive component version is `dedup_clusters`; SemDeDup
      // itself uses the one-hop rule inside k-means cells). Blocked like
      // all the sim_* ops: the self-join runs inside label blocks (the
      // LSH/IVF-cell stand-in — at 100 TB the blocks come from
      // `emb_kmeans`, exactly as the paper partitions by cluster), so
      // cost is O(Σ block²·d), never corpus². The threshold compares the
      // RAW cosine on both engines inside the measured empty band
      // (cosTau); only the reported dup_cos is rounded. The dropped-id
      // table is |dups|-sized and broadcasts back onto the
      // corpus scan — the corpus itself never shuffles.
      val e = T.embeddings(s, d)
      val dups = e.select(col("label"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
        .join(e.select(col("label"), col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("label"))
        .where(col("vec_b") < col("vec_a"))
        .where(cosine("ea", "eb") >= cosTau)
        .groupBy(col("vec_a").as("vec_id"))
        .agg(round(max(cosine("ea", "eb")), 6).as("dup_cos"))
      e.select(col("vec_id"), col("label"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
                col("dup_cos").isNull.as("kept"), col("dup_cos"))
        .orderBy(col("vec_id"))
    },

    // SemDeDup proper (VERDICT r14 item 5): `dedup_semantic` blocks on
    // the fixture `label` — a stand-in no real corpus has. This variant
    // derives the blocks from the DATA exactly as Abbas et al. do —
    // k-means cells — and takes them from the IVF LAYOUT the session
    // already trains for `sim_ivf_partitioned` ([[graft.operators
    // .EmbeddingOps.ivfRoot]]): one trained partitionBy(cid) lake
    // layout, two consumers (ANN probe prunes partitions; dedup blocks
    // on them). The one-hop keep-lowest-id rule at cosine ≥ τ runs
    // inside each cell; the cell equi-key — never a cartesian — bounds
    // the pairwise cost at O(Σ cell²·d). Approximate BY DESIGN (a pair
    // split across cells survives; sign-LSH was measured WORSE here —
    // this fixture's ≥ τ pairs sit at 63-69°, where 8 sign bits are
    // nearly uncorrelated: single-probe caught 5/198 true pairs vs the
    // cells' 68/198 and the fixture label's own 12/198). No SQL oracle
    // (trained blocks); Round15OpsSpec pins (a) every drop is a TRUE
    // ≥ τ near-dup under global brute force, (b) measured pair coverage
    // beats the label blocking, with recall vs both references
    // reported, (c) the plan: cell-equi-keyed join, cosine residual,
    // no cartesian.
    Q.smoke("dedup_semantic_kmeans") { (s, d) =>
      val root = graft.operators.EmbeddingOps.ivfRoot(s, d)
      val idxSchema = T.embeddings(s, d).schema
        .add("cid", org.apache.spark.sql.types.LongType)
      val e = s.read.schema(idxSchema).parquet(s"$root/index")
        .select(col("vec_id"), col("embedding"), col("cid"))
      val dups = e.select(col("cid"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
        .join(e.select(col("cid"), col("vec_id").as("vec_b"), col("embedding").as("eb")),
              Seq("cid"))
        .where(col("vec_b") < col("vec_a"))
        .where(cosine("ea", "eb") >= cosTau)
        .groupBy(col("vec_a").as("vec_id"))
        .agg(round(max(cosine("ea", "eb")), 6).as("dup_cos"))
      e.select(col("vec_id"), col("cid"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
                col("dup_cos").isNull.as("kept"), col("dup_cos"))
        .orderBy(col("vec_id"))
    },

    // LSH-bucketed approximate nearest neighbour — the 100 TB path:
    // 8 sign-random-projection bits (codegen'd full-dimension ±1
    // hyperplanes, [[graft.functions.SignProjection]]) coarse-quantize
    // vectors into 256 buckets; the query multi-probes its bucket plus
    // all hamming ≤ 2 neighbours (37 of 256 ⇒ ~14.5% of the corpus
    // scanned — the probe radius is the recall/scan-budget knob; label
    // blocks are NOT clusters on this corpus, so structure-free sign-LSH
    // is the right bucketing). Approximate → no SQL oracle; SmokeOpsSpec
    // pins the result to brute force over the reachable buckets and to
    // the analytic angular-model recall.
    Q.smoke("sim_cosine_lsh") { (s, d) =>
      val e = T.embeddings(s, d).withColumn("bucket", lshBucket(col("embedding")))
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("bucket").as("qbucket"))
      // multi-probe budget knob (RecallReport sweeps it; default = the
      // production setting): all XOR masks with ≤ radius of 8 bits set —
      // radius 2 → 1 + 8 + 28 = 37 probes
      val radius = s.conf.get("spark.sql.graft.ann.lshRadius", "2").toInt
      val masks = (0 until 256).filter(m => Integer.bitCount(m) <= radius).map(_.toLong)
      val maskArr = array(masks.map(lit): _*)
      // bound: one query row × at most 256 probe masks
      val probes = broadcast(
        q.select(col("qe"), col("qbucket"), explode(maskArr).as("m"))
          .select(col("qe"), col("qbucket").bitwiseXOR(col("m")).as("probe")))
      e.where(col("vec_id") =!= 0)
        .join(probes, col("bucket") === col("probe"))
        .select(col("vec_id"), round(cosine("embedding", "qe"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    Q(
      "text_stats",
      """SELECT lang,
        |       count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(sum(length(text)) * 1.0 / sum(len(string_split(text, ' '))), 4) AS chars_per_token,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang NULLS FIRST""".stripMargin
    ) { (s, d) =>
      T.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(length(col("text"))).as("total_chars"),
             sum(col("n_tokens")).as("total_tokens"),
             round(sum(length(col("text"))) * lit(1.0) / sum(col("n_tokens")), 4).as("chars_per_token"),
             min(col("n_chars")).as("min_chars"),
             max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"))
    },

    Q(
      "text_lang_id",
      """SELECT doc_id,
        |       CASE WHEN de >= en AND de >= es AND de >= fr THEN 'de'
        |            WHEN en >= es AND en >= fr THEN 'en'
        |            WHEN es >= fr THEN 'es'
        |            ELSE 'fr' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |         len(list_filter(string_split(lower(text), ' '), t -> list_contains(['der','die','das','und','ist','nicht'], t))) AS de,
        |         len(list_filter(string_split(lower(text), ' '), t -> list_contains(['the','a','of','and','to','is'], t))) AS en,
        |         len(list_filter(string_split(lower(text), ' '), t -> list_contains(['el','la','de','los','y','es'], t))) AS es,
        |         len(list_filter(string_split(lower(text), ' '), t -> list_contains(['le','la','et','les','des','est'], t))) AS fr
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Stopword-hit language ID — the classic cheap n-gram heuristic
      // (count function-word hits per language, argmax with alphabetical
      // tie-break). One projection, no shuffle until the sink.
      def hits(words: Seq[String]): Column = {
        val lst = words.map(w => s"'$w'").mkString(", ")
        expr(s"size(filter(split(lower(text), ' '), t -> t IN ($lst)))")
      }
      T.documents(s, d)
        .withColumn("de", hits(Seq("der", "die", "das", "und", "ist", "nicht")))
        .withColumn("en", hits(Seq("the", "a", "of", "and", "to", "is")))
        .withColumn("es", hits(Seq("el", "la", "de", "los", "y", "es")))
        .withColumn("fr", hits(Seq("le", "la", "et", "les", "des", "est")))
        .select(col("doc_id"),
          when(col("de") >= col("en") && col("de") >= col("es") && col("de") >= col("fr"), "de")
            .when(col("en") >= col("es") && col("en") >= col("fr"), "en")
            .when(col("es") >= col("fr"), "es")
            .otherwise("fr").as("lang_pred"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_readability",
      s"""WITH c AS (
         |  SELECT doc_id,
         |         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |         CAST(greatest(
         |           (length(text) - length(replace(text, '.', '')))
         |           + (length(text) - length(replace(text, '!', '')))
         |           + (length(text) - length(replace(text, '?', ''))), 1) AS BIGINT) AS n_sent
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, n_alpha, n_words, n_sent,
         |       CAST(${microRoundSql("10000 * (588 * n_alpha - 2960 * n_sent - 1580 * n_words)", "n_words", "//")} AS DOUBLE) / 1000000 AS cli,
         |       CAST(${microRoundSql("5000 * (942 * n_alpha * n_sent + 100 * n_words * n_words - 4286 * n_words * n_sent)", "n_words * n_sent", "//")} AS DOUBLE) / 1000000 AS ari
         |FROM c ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Readability scores — the curation signal between `text_quality`'s
      // structural ratios and the perplexity ladder: grade-level
      // formulas flag both token salad (absurdly high grade) and
      // low-information filler (grade ≪ natural prose). Coleman-Liau
      // (1975) and ARI (Senter & Smith 1967) are chosen PRECISELY
      // because they are syllable-free — pure letter/word/sentence
      // counts. CLI = 0.0588·L − 0.296·S − 15.8 (L, S per 100 words)
      // and ARI = 4.71·a/w + 0.5·w/s − 21.43 reduce to single exact
      // rationals — (588a−2960s−1580w)/(100w) and
      // (942as+100w²−4286ws)/(200ws) — and a first cut that rounded the
      // IEEE evaluation MEASURED a flap: doc 363 (a=294, w=64, s=1)
      // lands ARI on the exact 6-decimal midpoint 32.2065625, which
      // Spark's BigDecimal HALF_UP and DuckDB's double rounding break
      // oppositely. So the micro-unit is computed EXACTLY:
      // [[microRoundSql]] does half-away-from-zero integer rounding of
      // p/q in pure BIGINT algebra (identical text both engines, only
      // the DIV spelling differs), and the emitted double is
      // micro/10⁶ — the same integer → the same bits in both engines,
      // by construction instead of by luck. Counts: letters via one
      // regexp_replace strip (identical [^A-Za-z] semantics in Java
      // regex and RE2), words via the repo-wide whitespace split,
      // sentences via terminator-count length algebra floored at 1 so
      // period-free docs (this fixture; headlines/fragments in a real
      // corpus) divide safely. Scale: one scan-parallel projection,
      // zero shuffles before the output sort — the cheapest shape
      // there is; BIGINT headroom holds to ~10⁶-word documents.
      val nSent = greatest(
        (length(col("text")) - length(regexp_replace(col("text"), "\\.", ""))) +
        (length(col("text")) - length(regexp_replace(col("text"), "!", ""))) +
        (length(col("text")) - length(regexp_replace(col("text"), "\\?", ""))), lit(1))
      T.documents(s, d)
        .where(col("text").isNotNull)
        .select(col("doc_id"),
                length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long").as("n_alpha"),
                size(split(col("text"), " ")).cast("long").as("n_words"),
                nSent.cast("long").as("n_sent"))
        .selectExpr("doc_id", "n_alpha", "n_words", "n_sent",
          s"CAST(${microRoundSql("10000 * (588 * n_alpha - 2960 * n_sent - 1580 * n_words)", "n_words", "DIV")} AS DOUBLE) / 1000000 AS cli",
          s"CAST(${microRoundSql("5000 * (942 * n_alpha * n_sent + 100 * n_words * n_words - 4286 * n_words * n_sent)", "n_words * n_sent", "DIV")} AS DOUBLE) / 1000000 AS ari")
        .orderBy(col("doc_id"))
    },

    // Compressibility quality screen (Gopher's "compression ratio"
    // heuristic: text that DEFLATEs far below natural-prose ratios is
    // repetitive boilerplate/spam; text that barely compresses is
    // often binary-ish noise). ratio_ppm = 10⁶·deflate_bytes DIV
    // raw_bytes — exact integer off the fused [[DeflateSize]]
    // expression (level/strategy/zlib pinned → deterministic across
    // executors and re-runs). No SQL oracle: DuckDB ships no DEFLATE
    // surface — spec pins the repetitive≪natural ordering, the flag
    // band, and bit-stable re-runs. Scale: pure scan-parallel
    // projection, no shuffle before the output sort.
    Q.smoke("text_compression_ratio") { (s, d) =>
      val raw = greatest(length(col("text")).cast("long"), lit(1L))
      T.documents(s, d)
        .withColumn("n_bytes", raw)
        .withColumn("deflate_bytes", graft.functions.DeflateSize(col("text")).cast("long"))
        .withColumn("ratio_ppm", expr("(1000000 * deflate_bytes) DIV n_bytes"))
        .select(col("doc_id"), col("n_bytes"), col("deflate_bytes"), col("ratio_ppm"),
                col("ratio_ppm").between(200000L, 900000L).as("passes_compression"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_quality",
      """SELECT doc_id,
        |       n_tokens,
        |       round(stop_hits * 1.0 / n_tokens, 6) AS stopword_ratio,
        |       round(alpha_chars * 1.0 / n_chars_m, 6) AS alpha_ratio,
        |       round(avg_token_len, 6) AS avg_token_len,
        |       (n_tokens BETWEEN 20 AND 1000
        |        AND stop_hits * 1.0 / n_tokens >= 0.01
        |        AND alpha_chars * 1.0 / n_chars_m >= 0.7) AS passes_quality
        |FROM (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         len(list_filter(string_split(lower(text), ' '), t -> list_contains(['the','a','of','and','to','is','in'], t))) AS stop_hits,
        |         len(regexp_extract_all(text, '[a-zA-Z]')) AS alpha_chars,
        |         greatest(length(text), 1) AS n_chars_m,
        |         length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')) AS avg_token_len
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Gopher/C4-style quality gates: token count band, stopword ratio,
      // alphabetic ratio, mean token length — pure projections, the filter
      // column is a boolean the pipeline can partition on.
      T.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .withColumn("stop_hits",
          expr("size(filter(split(lower(text), ' '), t -> t IN ('the','a','of','and','to','is','in')))").cast("long"))
        .withColumn("alpha_chars", expr("regexp_count(text, '[a-zA-Z]')").cast("long"))
        .withColumn("n_chars_m", greatest(length(col("text")), lit(1)).cast("long"))
        .withColumn("avg_token_len",
          length(regexp_replace(col("text"), " ", "")) * lit(1.0) / col("n_tokens"))
        .select(
          col("doc_id"), col("n_tokens"),
          round(col("stop_hits") * 1.0 / col("n_tokens"), 6).as("stopword_ratio"),
          round(col("alpha_chars") * 1.0 / col("n_chars_m"), 6).as("alpha_ratio"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          (col("n_tokens").between(20, 1000) &&
            col("stop_hits") * 1.0 / col("n_tokens") >= 0.01 &&
            col("alpha_chars") * 1.0 / col("n_chars_m") >= 0.7).as("passes_quality"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_source_mix",
      """WITH c AS (
        |  SELECT source, lang, count(*) AS n,
        |         CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |             CAST(sum(chars) AS BIGINT) AS n_chars FROM c GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS all_docs FROM c),
        |top AS (
        |  SELECT source, lang AS top_lang, n AS top_lang_docs FROM (
        |    SELECT source, lang, n,
        |           row_number() OVER (PARTITION BY source
        |                              ORDER BY n DESC, lang) AS rn
        |    FROM c) x WHERE rn = 1)
        |SELECT s.source, s.n_docs, s.n_chars,
        |       round(s.n_docs * 1.0 / tot.all_docs, 6) AS doc_share,
        |       top.top_lang, top.top_lang_docs
        |FROM s JOIN top ON s.source = top.source CROSS JOIN tot
        |ORDER BY s.source""".stripMargin
    ) { (s, d) =>
      // Corpus-composition report per source: doc count, char volume,
      // corpus share, dominant language — the dashboard
      // `sample_domain_mix` (the resampler) is tuned AGAINST; you read
      // this first, then set the mix weights. One bounded
      // (source, lang) aggregate collapses the corpus; everything after
      // — per-source rollup, dominant-language pick (rank-1 window with
      // a lang tiebreak so ties are deterministic), the 1-row total —
      // runs over that tiny table. Integer counts; one IEEE division
      // per source.
      val c = graft.Caches.register(T.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .persist())
      val sTab = c.groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("n_docs"),
             sum(col("chars")).cast("long").as("n_chars"))
      val tot = c.agg(sum(col("n")).cast("long").as("all_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n").desc, col("lang"))
      val top = c.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("n").as("top_lang_docs"))
      sTab.join(top, "source").crossJoin(tot)
        .select(col("source"), col("n_docs"), col("n_chars"),
                round(col("n_docs") * 1.0 / col("all_docs"), 6).as("doc_share"),
                col("top_lang"), col("top_lang_docs"))
        .orderBy(col("source"))
    },

    Q(
      "text_quality_sweep",
      """WITH b AS (
        |  SELECT len(string_split(text, ' ')) AS n_tokens,
        |         len(list_filter(string_split(lower(text), ' '),
        |             t -> list_contains(['the','a','of','and','to','is','in'], t))) AS stop_hits
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_docs FROM b),
        |s AS (
        |  SELECT g.k, count(*) AS n_pass, CAST(sum(n_tokens) AS BIGINT) AS tok_pass
        |  FROM b CROSS JOIN generate_series(0, 10) g(k)
        |  WHERE stop_hits * 100 >= g.k * n_tokens
        |  GROUP BY g.k)
        |SELECT k AS threshold_pct, n_pass, tok_pass,
        |       round(n_pass * 1.0 / n_docs, 6) AS pass_share
        |FROM s CROSS JOIN tot
        |ORDER BY threshold_pct""".stripMargin
    ) { (s, d) =>
      // Threshold sweep over the stopword quality gate (text_quality's
      // ratio >= t) for t = 0%..10% in 1% steps — the survivorship curve
      // a curation run reads BEFORE committing to a cutoff (every
      // percent of threshold trades corpus size against quality; pick
      // the knee, not a guess). Determinism: the gate is the EXACT
      // integer predicate stop_hits*100 >= k*n_tokens — no float ratio
      // is ever compared, so no engine can flip a boundary doc. Scale
      // shape: stats project per-doc in the scan, the <=11-way fan-out
      // is a generator (no self-join per threshold, no 11 re-scans),
      // and the aggregate's group key is the bounded threshold grid.
      // The 1-row corpus total joins back as a broadcast for the share.
      val base = T.documents(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("n_tokens"),
                expr("size(filter(split(lower(text), ' '), t -> t IN ('the','a','of','and','to','is','in')))")
                  .cast("long").as("stop_hits"))
      val tot = base.agg(count(lit(1)).as("n_docs"))
      base.select(col("n_tokens"), col("stop_hits"),
                  explode(sequence(lit(0L), lit(10L))).as("k"))
        .where(col("stop_hits") * 100 >= col("k") * col("n_tokens"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pass"), sum(col("n_tokens")).as("tok_pass"))
        .crossJoin(tot)
        .select(col("k").as("threshold_pct"), col("n_pass"), col("tok_pass"),
                round(col("n_pass") * 1.0 / col("n_docs"), 6).as("pass_share"))
        .orderBy(col("threshold_pct"))
    },

    Q(
      "text_token_count",
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS regex_tokens,
        |       CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS subword_est
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Token counting three ways: whitespace, BPE-ish regex pieces, and a
      // ceil(len/4) subword estimate (the "~4 chars per token" rule used to
      // budget LLM training corpora).
      T.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')").cast("long").as("regex_tokens"),
        expr("aggregate(split(text, ' '), 0L, (acc, w) -> acc + CAST(ceil(length(w) / 4.0) AS BIGINT))")
          .as("subword_est"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_fingerprint",
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
        |SELECT doc_id,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(range(1, length(text) + 1), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
        |         (acc, c) -> (acc * 131 + c) % 1000000007) AS fp_full,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(range(1, least(length(text), 64) + 1), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
        |         (acc, c) -> (acc * 131 + c) % 1000000007) AS fp_prefix64
        |FROM d
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Polynomial rolling-hash fingerprint, mod 1e9+7 so the fold never
      // leaves 63-bit range (Spark would wrap silently on overflow, DuckDB
      // would error — staying small keeps both engines exact and equal).
      // Codegen'd fused loop (graft.functions.RollingHash) instead of the
      // interpreted aggregate/transform lambda fold; RollingHashSpec pins
      // both formulations equal over the real corpus.
      // NULL text fingerprints as '' (fp 0) in both engines — the fpSql
      // helper rule (degraded-fixture lane, r19)
      T.documents(s, d).select(
        col("doc_id"),
        graft.functions.RollingHash(coalesce(col("text"), lit(""))).as("fp_full"),
        graft.functions.RollingHash(coalesce(col("text"), lit("")), 64).as("fp_prefix64"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_span_dedup",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |s AS (
        |  SELECT doc_id, list_aggregate(w[i:i+9], 'string_agg', ' ') AS span
        |  FROM w, unnest(range(1, len(w) - 8)) AS t(i)),
        |c AS (SELECT span, count(DISTINCT doc_id) AS nd FROM s GROUP BY span)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |       CAST((1000000 * CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS BIGINT) AS dup_ppm
        |FROM s JOIN c USING (span)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Duplicate-SPAN detection — the token-window approximation of
      // suffix-array substring dedup (Lee et al., "Deduplicating Training
      // Data Makes Language Models Better"): doc-level dedup keeps two
      // docs that merely SHARE a boilerplate paragraph; this op flags
      // every sliding 10-token span that recurs across ≥2 distinct docs
      // and scores each doc by its duplicated-span fraction (exact
      // integer ppm) — the signal a curation pipeline uses to TRIM spans
      // rather than drop whole docs. Shape at 100 TB: the span table is
      // corpus-sized (≈ one span per token), so this is text_rarity's
      // two-pass dictionary pattern at its degrade point — the count
      // table broadcasts while it fits and falls back to a
      // hash-shuffle join on the span key (both passes shuffle the same
      // key → co-partitioned). Spans travel as xxhash64 longs Spark-side
      // (8 bytes vs ~60-char strings, same 2^-64 collision argument as
      // hashedShingles); the oracle keeps raw strings — only counts are
      // compared, so the engines need not agree on representation.
      // one fused byte scan per doc (HashedWordGramsSeq — multiplicity
      // and position order kept: a doc repeating its own boilerplate
      // counts every occurrence); empty array below 10 tokens = the
      // oracle's len >= 10 drop
      val spans = T.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.HashedWordGramsSeq(col("text"), 10)).as("h"))
      val counts = spans.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      spans.join(counts, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
             sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"),
             expr("(1000000 * sum(IF(nd >= 2, 1L, 0L))) DIV count(1)").cast("long")
               .as("dup_ppm"))
        .orderBy(col("doc_id"))
    },

    Q(
      "dedup_span_trim",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE text IS NOT NULL),
        |s AS (
        |  SELECT doc_id, i, list_aggregate(w[i:i+9], 'string_agg', ' ') AS span
        |  FROM w, unnest(range(1, len(w) - 8)) AS t(i)),
        |c AS (SELECT span FROM (SELECT span, count(DISTINCT doc_id) AS nd
        |                        FROM s GROUP BY span) WHERE nd >= 2),
        |sd AS (SELECT s.doc_id, s.i, s.span FROM s JOIN c USING (span)),
        |f1 AS (SELECT span, min(doc_id) AS fd FROM sd GROUP BY span),
        |f2 AS (SELECT sd.span, f1.fd, min(sd.i) AS fp
        |       FROM sd JOIN f1 ON sd.span = f1.span AND sd.doc_id = f1.fd
        |       GROUP BY 1, 2),
        |dp AS (
        |  SELECT DISTINCT sd.doc_id, j
        |  FROM sd JOIN f2 ON sd.span = f2.span, unnest(range(sd.i, sd.i + 10)) AS t(j)
        |  WHERE NOT (sd.doc_id = f2.fd AND sd.i = f2.fp)),
        |toks AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS j FROM w),
        |keep AS (
        |  SELECT t.doc_id, t.j, t.tok
        |  FROM toks t LEFT JOIN dp ON t.doc_id = dp.doc_id AND t.j = dp.j
        |  WHERE dp.j IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS trimmed,
        |               count(*) AS n_kept FROM keep GROUP BY doc_id)
        |SELECT w.doc_id,
        |       CAST(len(w.w) AS BIGINT) AS n_tokens,
        |       CAST(len(w.w) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
        |       coalesce(agg.trimmed, '') AS trimmed
        |FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
        |ORDER BY w.doc_id""".stripMargin
    ) { (s, d) =>
      // The REMOVAL step text_span_dedup only scores: rewrite every
      // document dropping each cross-doc duplicated 10-token span except
      // its FIRST occurrence (min (doc_id, pos) — Lee et al.'s
      // "Deduplicating Training Data Makes Language Models Better" keeps
      // one copy of every duplicated substring; C4-style removal of all
      // copies would erase both sides of an exact-dup pair). A token is
      // removed iff some non-first duplicated span covers it; the
      // surviving tokens rejoin in order, so the doc shrinks instead of
      // being dropped. Scale shape: spans and counts are text_span_dedup's
      // corpus-sized two-pass dictionary (hashes, broadcast while they fit);
      // the cover set only materialises for docs that actually contain
      // removable boilerplate (explode is 10 × |non-first dup spans|,
      // NOT corpus tokens — the doc table itself never explodes), and the
      // rewrite is one higher-order filter against each doc's sorted
      // cover array. Oracle carries raw span strings; Spark ships
      // xxhash64 longs (the 2^-64 collision argument of hashedShingles).
      // null text -> no row in BOTH engines (the text_chunk_overlap rule)
      val docs = T.documents(s, d).where(col("text").isNotNull)
      val spans = docs.select(col("doc_id"),
        posexplode(graft.functions.HashedWordGramsSeq(col("text"), 10)).as(Seq("pos", "h")))
      val dupH = spans.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("nd"))
        .where(col("nd") >= 2).select(col("h"))
      val dup = spans.join(dupH, "h")
      val first = dup.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      val cov = dup.join(first, "h")
        .where(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
        .select(col("doc_id"), explode(expr("sequence(pos, pos + 9)")).as("j"))
        .distinct()
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("j"))).as("cov"))
      docs.join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
          expr("array_join(filter(split(text, ' '), (tok, j) -> " +
               "cov IS NULL OR NOT array_contains(cov, j)), ' ')").as("trimmed"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_pack_sequences",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tokens,
        |       CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS pack_id,
        |       CAST(cum - n_tokens - 2048 * CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS BIGINT) AS pack_offset
        |FROM c
        |ORDER BY lang NULLS FIRST, doc_id""".stripMargin
    ) { (s, d) =>
      // Sequence packing for training shards: assign each doc a pack id by
      // cumulative token budget (2048/pack). The running sum is a window
      // PARTITIONED BY lang (the shard key) — each language shard packs
      // independently in parallel, so the plan never funnels the corpus
      // through one task. At 100 TB the partition key generalizes to
      // (lang, shard) with shards sized to executor memory; an
      // unpartitioned ORDER BY would be the textbook single-task killer.
      // Same shape as the production path, CorpusCurationJob.packSequences.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.documents(s, d)
        .withColumn("n_tokens",
          expr("aggregate(split(text, ' '), 0L, (acc, x) -> acc + CAST(ceil(length(x) / 4.0) AS BIGINT))"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
                floor((col("cum") - col("n_tokens")) / 2048).as("pack_id"),
                (col("cum") - col("n_tokens") - lit(2048) * floor((col("cum") - col("n_tokens")) / 2048))
                  .as("pack_offset"))
        .orderBy(col("lang"), col("doc_id"))
    },

    Q(
      "multimodal_struct",
      """SELECT doc_id,
        |       octet_length(CAST(text AS BLOB)) AS n_bytes,
        |       n_chars % 640 AS meta_width,
        |       (n_chars * 7) % 480 AS meta_height,
        |       CAST(ceil(octet_length(CAST(text AS BLOB)) / 4.0) AS BIGINT) AS thumb_bytes,
        |       md5(text) AS feature_hash
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Multimodal column plumbing (§2.K `multimodal_struct`): opaque
      // binary payload + typed metadata struct travel together; the
      // decode/feature-extract runs per-partition over the typed Dataset
      // (graft.functions.Multimodal) with a DETERMINISTIC-FAKE decoder —
      // no image libs in this container; the Spark-side schema,
      // partitioning and batch shape are the real thing.
      graft.functions.Multimodal.pipeline(T.documents(s, d))
        .orderBy(col("doc_id"))
    },

    Q(
      "multimodal_resize_plan",
      """SELECT doc_id, src_w, src_h, scale_ppm,
        |       (src_w * scale_ppm) // 1000000 AS out_w,
        |       (src_h * scale_ppm) // 1000000 AS out_h,
        |       (224 - (src_w * scale_ppm) // 1000000) // 2 AS pad_x,
        |       (224 - (src_h * scale_ppm) // 1000000) // 2 AS pad_y
        |FROM (
        |  SELECT doc_id, src_w, src_h,
        |         least((224 * 1000000) // greatest(src_w, 1),
        |               (224 * 1000000) // greatest(src_h, 1)) AS scale_ppm
        |  FROM (SELECT doc_id, n_chars % 640 AS src_w, (n_chars * 7) % 480 AS src_h
        |        FROM documents) t) p
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Resize/letterbox PLAN over the multimodal metadata — the
      // metadata half of an image-resize stage (aspect-preserving fit
      // into 224×224 + centered padding), computed declaratively per row
      // so the byte-side decode+resample (Multimodal.pipeline's
      // per-partition stage, deterministic-fake in this container) only
      // executes a precomputed geometry. Everything is exact integer
      // ppm arithmetic — scale = min(224e6 DIV w, 224e6 DIV h), output
      // dims and pads by integer DIV — bit-identical cross-engine, no
      // float resize factor to drift. Pure projection: no shuffle, no
      // join; scales with splits like any map.
      val srcW = (col("n_chars") % 640).as("src_w")
      val srcH = ((col("n_chars") * 7) % 480).as("src_h")
      T.documents(s, d)
        .select(col("doc_id"), srcW, srcH)
        .withColumn("scale_ppm",
          least(expr("(224 * 1000000) DIV greatest(src_w, 1)"),
                expr("(224 * 1000000) DIV greatest(src_h, 1)")))
        .select(col("doc_id"), col("src_w"), col("src_h"), col("scale_ppm"),
                expr("(src_w * scale_ppm) DIV 1000000").as("out_w"),
                expr("(src_h * scale_ppm) DIV 1000000").as("out_h"),
                expr("(224 - (src_w * scale_ppm) DIV 1000000) DIV 2").as("pad_x"),
                expr("(224 - (src_h * scale_ppm) DIV 1000000) DIV 2").as("pad_y"))
        .orderBy(col("doc_id"))
    },

    Q(
      "multimodal_frame_sample",
      """SELECT doc_id,
        |       CAST(f AS BIGINT) AS frame_idx,
        |       CAST(f AS BIGINT) * 4096 AS byte_offset,
        |       md5(CAST(doc_id AS VARCHAR) || ':' || CAST(f AS VARCHAR)) AS frame_hash
        |FROM (SELECT doc_id, unnest(generate_series(0, n_chars % 240, 10)) AS f
        |      FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin
    ) { (s, d) =>
      // Frame sampling over a multimodal (video-shaped) column: each doc
      // stands in for a clip of (n_chars % 240) + 1 frames; every 10th
      // frame explodes to a row carrying its byte offset into the payload
      // and a per-frame content fingerprint (a real pipeline hashes the
      // decoded frame; the id:index key is the container-safe
      // deterministic stand-in — the decode itself is Multimodal.pipeline's
      // per-partition stage). `sequence` + explode is a GENERATOR, not a
      // join: output rows stream per input row with no shuffle at all, so
      // the op scales linearly with splits; the ~n/10 fan-out is the
      // per-frame training-example expansion a video corpus needs.
      T.documents(s, d)
        .select(col("doc_id"),
                explode(sequence(lit(0L), col("n_chars") % 240, lit(10L))).as("f"))
        .select(col("doc_id"), col("f").as("frame_idx"),
                (col("f") * 4096).as("byte_offset"),
                md5(concat(col("doc_id").cast("string"), lit(":"),
                           col("f").cast("string"))).as("frame_hash"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    Q(
      "multimodal_image_decode",
      """WITH m AS (
        |  SELECT doc_id,
        |         1 + doc_id % 8 AS w,
        |         1 + (doc_id * 3) % 8 AS h,
        |         doc_id % 200 AS r0,
        |         (doc_id * 3) % 200 AS g0,
        |         (doc_id * 7) % 200 AS b0
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id,
        |       CAST(w AS BIGINT) AS width,
        |       CAST(h AS BIGINT) AS height,
        |       CAST(w*h*r0 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS BIGINT) AS sum_r,
        |       CAST(w*h*g0 + h*(w*(w-1)//2) AS BIGINT) AS sum_g,
        |       CAST(w*h*b0 + w*(h*(h-1)//2) AS BIGINT) AS sum_b
        |FROM m ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // REAL image decode (VERDICT r16 #4): the byte path is genuine —
      // a one-time layout writes one real PNG per asset executor-side
      // (the source_binaryfile object-store-put shape), `binaryFile`
      // reads them back as opaque blobs, and a per-partition typed map
      // pushes every payload through the JDK's actual PNG codec
      // (javax.imageio — the one codec this container does ship).
      // Nothing about the numbers is fakeable: the channel sums only
      // match the oracle's closed-form arithmetic if encode → bytes →
      // decode round-trips every pixel exactly (TYPE_INT_RGB PNG is
      // lossless, so equality is exact BIGINT, no tolerance). Decoder
      // init amortizes per partition, output rows are O(meta) — the
      // shuffle after this stage carries features, never media; at
      // 100 TB the blob column itself is only ever touched here.
      import s.implicits._
      pngBlobs(s, d)
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val (w, h, sr, sg, sb) = graft.functions.Multimodal.decodeSums(bytes)
            (id, w, h, sr, sg, sb)
          }
        }
        .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
        .orderBy(col("doc_id"))
    },

    Q(
      "multimodal_resize_exec",
      """WITH m AS (
        |  SELECT doc_id,
        |         1 + doc_id % 8 AS w, 1 + (doc_id * 3) % 8 AS h,
        |         doc_id % 200 AS r0, (doc_id * 3) % 200 AS g0, (doc_id * 7) % 200 AS b0
        |  FROM documents WHERE doc_id % 10 = 0),
        |o AS (
        |  SELECT doc_id, w, h, r0, g0, b0,
        |         (w * sp) // 1000000 AS ow, (h * sp) // 1000000 AS oh
        |  FROM (SELECT *, least((16 * 1000000) // w, (16 * 1000000) // h) AS sp FROM m))
        |SELECT doc_id,
        |       CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h,
        |       CAST(ow*oh*r0 + oh*list_sum(list_transform(range(0, ow), x -> (x*w)//ow))
        |                     + ow*list_sum(list_transform(range(0, oh), y -> (y*h)//oh)) AS BIGINT) AS sum_r,
        |       CAST(ow*oh*g0 + oh*list_sum(list_transform(range(0, ow), x -> (x*w)//ow)) AS BIGINT) AS sum_g,
        |       CAST(ow*oh*b0 + ow*list_sum(list_transform(range(0, oh), y -> (y*h)//oh)) AS BIGINT) AS sum_b
        |FROM o ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // EXECUTE the resize geometry on real pixels — the byte half
      // `multimodal_resize_plan` only plans: decode each genuine PNG
      // through the JDK codec, aspect-preserving-fit it into a 16×16
      // box with the SAME exact-integer ppm arithmetic as the plan key
      // (scale = min(16e6 DIV w, 16e6 DIV h); nearest-neighbor source
      // pixel = (x·w DIV ow, y·h DIV oh) — no float resample kernel, so
      // nothing drifts), and report the resized channel sums. The
      // oracle recomputes those sums closed-form from the pixel recipe;
      // equality requires decode AND resample to agree pixel-for-pixel.
      // Same per-partition batch shape as the decode key — the resize
      // runs where the bytes are, output is O(meta).
      import s.implicits._
      pngBlobs(s, d)
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val (ow, oh, sr, sg, sb) = graft.functions.Multimodal.decodeResizeSums(bytes, 16)
            (id, ow, oh, sr, sg, sb)
          }
        }
        .toDF("doc_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b")
        .orderBy(col("doc_id"))
    },

    Q(
      "multimodal_phash",
      """WITH m AS (
        |  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + (doc_id * 3) % 8 AS h,
        |         doc_id % 200 AS r0, (doc_id * 3) % 200 AS g0, (doc_id * 7) % 200 AS b0
        |  FROM documents WHERE doc_id % 10 = 0),
        |g AS (
        |  SELECT doc_id, gx.x AS x, gy.y AS y,
        |         (299 * (r0 + (gx.x * w) // 9 + (gy.y * h) // 8)
        |          + 587 * (g0 + (gx.x * w) // 9)
        |          + 114 * (b0 + (gy.y * h) // 8)) // 1000 AS gray
        |  FROM m, (SELECT unnest(range(0, 9)) AS x) gx,
        |          (SELECT unnest(range(0, 8)) AS y) gy),
        |b AS (
        |  SELECT a.doc_id, a.y, a.x,
        |         CASE WHEN n.gray > a.gray THEN 1 ELSE 0 END AS bit
        |  FROM g a JOIN g n ON n.doc_id = a.doc_id AND n.y = a.y AND n.x = a.x + 1
        |  WHERE a.x < 8),
        |ph AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN y < 4 THEN bit * (CAST(1 AS BIGINT) << (31 - (y * 8 + x))) ELSE 0 END) AS BIGINT) AS ph_hi,
        |         CAST(sum(CASE WHEN y >= 4 THEN bit * (CAST(1 AS BIGINT) << (31 - ((y - 4) * 8 + x))) ELSE 0 END) AS BIGINT) AS ph_lo
        |  FROM b GROUP BY doc_id),
        |nd AS (
        |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_near,
        |         CAST(min(b.doc_id) AS BIGINT) AS nearest_doc
        |  FROM ph a JOIN ph b ON b.doc_id <> a.doc_id
        |  WHERE bit_count(xor(a.ph_hi, b.ph_hi)) + bit_count(xor(a.ph_lo, b.ph_lo)) <= 3
        |  GROUP BY a.doc_id)
        |SELECT p.doc_id, p.ph_hi, p.ph_lo,
        |       CAST(coalesce(nd.n_near, 0) AS BIGINT) AS n_near, nd.nearest_doc
        |FROM ph p LEFT JOIN nd USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin
    ) { (s, d) =>
      // Perceptual near-dup over REAL decoded pixels — the image rung of
      // the dedup pillar (dedup_simhash : text :: this : images): dHash
      // (Krawetz's difference hash, the published cheap perceptual
      // fingerprint) over the same genuine PNG→codec→pixels path as
      // multimodal_image_decode, then banded candidate generation. Every
      // arithmetic step is exact integer (9×8 nearest-neighbor grid with
      // the resize_exec DIV convention, ITU-R 601 luma in per-mille,
      // MSB-first packing into two 32-bit words), so the oracle
      // recomputes hash AND neighbor counts closed-form from doc_id
      // while the engine must earn the same integers through the codec.
      // Scale shape: the pairwise stage never goes all-pairs — each
      // 64-bit hash splits into four 16-bit chunks and only
      // chunk-equality candidates (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 equal
      // chunk — τ chosen at the measured fixture separation: 140/1225
      // pairs at ≤ 3, the next band at 4-6) pay the exact
      // bit_count residual; the chunk join is the LSH equi-key, the
      // hamming test a residual filter — the dedup_minhash/simhash
      // discipline on the binary column. Only the XOR spelling differs
      // per engine (Spark `^`, DuckDB `xor()` — `^` is POWER there).
      import s.implicits._
      val ph = pngBlobs(s, d)
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val (hi, lo) = graft.functions.Multimodal.decodePhash(bytes)
            (id, hi, lo)
          }
        }
        .toDF("doc_id", "ph_hi", "ph_lo")
      val chunks = ph.select(col("doc_id"), col("ph_hi"), col("ph_lo"),
        posexplode(array(
          shiftrightunsigned(col("ph_hi"), 16), col("ph_hi").bitwiseAND(lit(0xFFFFL)),
          shiftrightunsigned(col("ph_lo"), 16), col("ph_lo").bitwiseAND(lit(0xFFFFL)))))
        .withColumnRenamed("pos", "ck").withColumnRenamed("col", "cv")
      val near = chunks.as("a")
        .join(chunks.as("b"),
              col("a.ck") === col("b.ck") && col("a.cv") === col("b.cv") &&
              col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
                col("a.ph_hi").as("ha"), col("a.ph_lo").as("la"),
                col("b.ph_hi").as("hb"), col("b.ph_lo").as("lb"))
        .distinct() // multi-chunk matches collapse before the residual
        .where(expr("bit_count(ha ^ hb) + bit_count(la ^ lb) <= 3"))
        .groupBy(col("da").as("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_near"),
             min(col("db")).cast("long").as("nearest_doc"))
      ph.join(near, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ph_hi"), col("ph_lo"),
                coalesce(col("n_near"), lit(0L)).as("n_near"), col("nearest_doc"))
        .orderBy(col("doc_id"))
    },

    Q(
      "multimodal_audio_decode",
      """WITH m AS (
        |  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 10 = 5),
        |s AS (
        |  SELECT doc_id, n,
        |         abs((doc_id * 31 + i * 7) % 2001 - 1000) AS amp
        |  FROM m, unnest(range(0, n)) AS t(i))
        |SELECT doc_id,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(max(n) AS BIGINT) AS n_frames,
        |       CAST(sum(amp) AS BIGINT) AS sum_abs_amp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // REAL audio decode — the WAV sibling of multimodal_image_decode:
      // one genuine RIFF/PCM WAV per asset written executor-side (the
      // JDK's javax.sound.sampled codec — no external audio libs
      // needed), read back as opaque blobs via binaryFile, decoded
      // per-partition through AudioSystem. The deterministic 16-bit
      // sample recipe keeps frame counts and the absolute-amplitude sum
      // (the loudness statistic an audio curation pass aggregates)
      // closed-form for the DuckDB oracle, while the Spark side must
      // parse real WAV framing — RIFF header, fmt chunk, little-endian
      // int16 payload — to produce the same exact BIGINTs. Decoder
      // amortizes per partition; output rows are O(meta), the shuffle
      // never carries audio.
      import s.implicits._
      wavClips(s, d).as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val (rate, n, sumAbs) = graft.functions.Multimodal.decodeWav(bytes)
            (id, rate, n, sumAbs)
          }
        }
        .toDF("doc_id", "sample_rate", "n_frames", "sum_abs_amp")
        .orderBy(col("doc_id"))
    },

    Q(
      "multimodal_audio_rms",
      """WITH m AS (
        |  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 10 = 5),
        |s AS (
        |  SELECT doc_id, CAST(i // 32 AS BIGINT) AS frame_idx,
        |         (doc_id * 31 + i * 7) % 2001 - 1000 AS amp
        |  FROM m, unnest(range(0, n)) AS t(i))
        |SELECT doc_id, frame_idx,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(amp * amp) AS BIGINT) AS energy,
        |       CAST(max(abs(amp)) AS BIGINT) AS peak
        |FROM s GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin
    ) { (s, d) =>
      // Windowed frame energy over REAL decoded audio — the
      // feature-extraction rung above `multimodal_audio_decode`'s
      // whole-clip summary: 32-sample frames with Σs² (energy) and
      // max|s| (peak) per frame is the voice-activity-detection /
      // silence-trimming primitive an audio curation pass thresholds
      // on before anything model-shaped runs. Same real-codec lane:
      // the SAME executor-written RIFF/PCM WAV assets ([[wavClips]],
      // shared with the decode key — the layout is the corpus, not a
      // per-key cache), binaryFile blobs, the JDK codec with the shared
      // loud-failure contract; energy and peak are exact BIGINTs from
      // int16 samples, so the DuckDB oracle's closed-form regeneration
      // of the synthesis recipe forces byte-exact codec round-trips per
      // WINDOW, not just per clip.
      // Scale: decode amortizes per partition (the documented
      // mapPartitions exception), output is O(frames) meta rows — the
      // shuffle never carries audio.
      import s.implicits._
      wavClips(s, d).as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (id, bytes) =>
            graft.functions.Multimodal.decodeWavSamples(bytes)
              .grouped(32).zipWithIndex.map { case (win, fi) =>
                (id, fi.toLong, win.length.toLong,
                 win.map(v => v.toLong * v).sum,
                 win.map(v => math.abs(v.toLong)).max)
              }
          }
        }
        .toDF("doc_id", "frame_idx", "n_samples", "energy", "peak")
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    Q(
      "text_chunk_overlap",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, w,
        |         unnest(range(0, CAST(ceil(greatest(len(w) - 16, 1) / 48.0) AS BIGINT))) AS chunk_id
        |  FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(chunk_id * 48 AS BIGINT) AS tok_lo,
        |       CAST(least(chunk_id * 48 + 64, len(w)) AS BIGINT) AS tok_hi,
        |       CAST(least(chunk_id * 48 + 64, len(w)) - chunk_id * 48 AS BIGINT) AS n_tok,
        |       array_to_string(w[CAST(chunk_id * 48 + 1 AS BIGINT):CAST(least(chunk_id * 48 + 64, len(w)) AS BIGINT)], ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin
    ) { (s, d) =>
      // Overlapping token chunking — the RAG/pretraining windowing stage
      // every retrieval or long-context pipeline runs before embedding:
      // window W = 64 tokens, stride S = 48 (16-token overlap so no
      // boundary sentence is ever split away from all its context).
      // Chunk count = ⌈max(n − (W−S), 1) / S⌉, so a final window shorter
      // than the overlap is absorbed into its predecessor (the standard
      // sliding-window rule) and an empty-ish doc still yields one
      // chunk. All arithmetic is exact integers; the chunk TEXT itself
      // rides the output so the oracle hash pins the exact slice
      // boundaries, not just counts. Scale shape: pure generator
      // fan-out (explode over an in-row sequence — no shuffle, no join);
      // at 100 TB this is the map-only stage in front of the embedding
      // UDF, and output order is (doc_id, chunk_id) clustered exactly as
      // the downstream packer wants it.
      // null text → no chunks in BOTH engines (Spark's greatest() would
      // otherwise keep one NULL-text chunk the oracle drops, ADVICE r17)
      T.documents(s, d)
        .where(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(expr(
            "sequence(0, CAST(ceil(greatest(size(w) - 16, 1) / 48.0) AS BIGINT) - 1)")).as("chunk_id"))
        .select(
          col("doc_id"),
          col("chunk_id").cast("long").as("chunk_id"),
          (col("chunk_id") * 48).cast("long").as("tok_lo"),
          least(col("chunk_id") * 48 + 64, size(col("w"))).cast("long").as("tok_hi"),
          (least(col("chunk_id") * 48 + 64, size(col("w"))) - col("chunk_id") * 48)
            .cast("long").as("n_tok"),
          expr("array_join(slice(w, CAST(chunk_id * 48 + 1 AS INT), " +
               "CAST(least(chunk_id * 48 + 64, size(w)) - chunk_id * 48 AS INT)), ' ')")
            .as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    Q(
      "sim_rrf_fusion",
      s"""WITH $duckVecs,
         |q AS (SELECT i, v AS qv FROM x WHERE vec_id = 0),
         |nq AS (SELECT sqrt(sum(qv * qv)) AS n FROM q),
         |sc AS (SELECT x.vec_id,
         |              round(sum(x.v * q.qv) / (min(nrm.n) * (SELECT n FROM nq)), 6) AS c,
         |              round(sum(x.v * q.qv), 6) AS m
         |       FROM x JOIN q ON x.i = q.i JOIN nrm ON x.vec_id = nrm.vec_id
         |       WHERE x.vec_id <> 0 GROUP BY x.vec_id),
         |rc AS (SELECT vec_id, r FROM (
         |         SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS r FROM sc)
         |       WHERE r <= 20),
         |rm AS (SELECT vec_id, r FROM (
         |         SELECT vec_id, row_number() OVER (ORDER BY m DESC, vec_id) AS r FROM sc)
         |       WHERE r <= 20),
         |f AS (SELECT coalesce(rc.vec_id, rm.vec_id) AS vec_id,
         |             CAST(coalesce(rc.r, 0) AS BIGINT) AS r_cos,
         |             CAST(coalesce(rm.r, 0) AS BIGINT) AS r_dot
         |      FROM rc FULL OUTER JOIN rm ON rc.vec_id = rm.vec_id)
         |SELECT vec_id, r_cos, r_dot,
         |       round((CASE WHEN r_cos > 0 THEN CAST(1 AS DOUBLE) / (60 + r_cos) ELSE CAST(0 AS DOUBLE) END)
         |           + (CASE WHEN r_dot > 0 THEN CAST(1 AS DOUBLE) / (60 + r_dot) ELSE CAST(0 AS DOUBLE) END), 6) AS rrf
         |FROM f
         |ORDER BY rrf DESC, vec_id
         |LIMIT 10""".stripMargin
    ) { (s, d) =>
      // Reciprocal-rank fusion (Cormack et al.) — the standard way to
      // merge heterogeneous retrieval rankings (here the cosine and the
      // MIPS scorers, which genuinely disagree when magnitude carries
      // signal) without calibrating their scores: each list contributes
      // 1/(60 + rank), absence contributes nothing. Determinism: both
      // ranks order by the 6-dp-ROUNDED score with vec_id tie-break
      // (the sim_cosine_topk device), so last-ulp noise can't reorder;
      // the fused score is the identical IEEE expression on both
      // engines. Scale shape: the scored projection feeds two
      // TakeOrdered top-20 cuts (one scan per ranker here; a 100 TB
      // deployment fuses them into one pass with a 2×k bounded
      // aggregator) and the fusion joins two 20-row lists — rank
      // windows only ever run over k-bounded tables, never the corpus.
      val e = T.embeddings(s, d)
      // bound: one row (vec_id 0); the planner sizes the filter as the table
      val q = broadcast(e.where(col("vec_id") === 0).select(col("embedding").as("qe")))
      val sc = e.where(col("vec_id") =!= 0)
        .crossJoin(q)
        .select(col("vec_id"),
                round(cosine("embedding", "qe"), 6).as("c"),
                round(graft.functions.DotProduct(col("embedding"), col("qe")), 6).as("m"))
      def top20(key: String) = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col(key).desc, col("vec_id"))
        sc.orderBy(col(key).desc, col("vec_id")).limit(20)
          .withColumn("r", row_number().over(w))
          .select(col("vec_id"), col("r"))
      }
      top20("c").withColumnRenamed("r", "rc")
        .join(top20("m").withColumnRenamed("r", "rm"), Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
                coalesce(col("rc"), lit(0)).cast("long").as("r_cos"),
                coalesce(col("rm"), lit(0)).cast("long").as("r_dot"))
        .selectExpr("vec_id", "r_cos", "r_dot",
          """round((CASE WHEN r_cos > 0 THEN CAST(1 AS DOUBLE) / (60 + r_cos) ELSE CAST(0 AS DOUBLE) END)
            |    + (CASE WHEN r_dot > 0 THEN CAST(1 AS DOUBLE) / (60 + r_dot) ELSE CAST(0 AS DOUBLE) END), 6) AS rrf""".stripMargin)
        .orderBy(col("rrf").desc, col("vec_id"))
        .limit(10)
    }
  )
}
